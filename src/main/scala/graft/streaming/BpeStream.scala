package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{BpeTrain, Dedup, Materialize}

/** Incrementally-maintained word-count store + tokenizer refresh — the
  * streaming producer for q349/q350's trainer: documents stream in, the
  * (word, count) table stays fresh per micro-batch, and a BPE retrain at
  * any moment runs [[graft.ops.BpeTrain]] over the store instead of
  * rescanning the corpus. This is the production tokenizer-maintenance
  * loop: corpus grows continuously, word counts absorb it incrementally,
  * training stays vocabulary-bounded.
  *
  * Counts are additive (commutative + associative but NOT idempotent), so
  * replay safety comes from the [[MvStream]]/[[SketchStream]] versioning
  * discipline: a batch merges against the store AS OF versions
  * `< batchId` — an at-least-once replay re-reads the same pre-batch
  * state and re-appends bit-identical rows — and readers resolve
  * keep-last per word. Untouched words are never read (semi-join prune)
  * or rewritten.
  *
  * Scale shape: per-batch cost is the batch tokenize + |touched words|
  * rows; store size is |vocabulary| regardless of stream length; the
  * retrain sees exactly what a from-scratch batch train over the full
  * corpus would see (spec-pinned merges-equal).
  */
object BpeStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      textCol: String,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, textCol, storeDir)
      }
      .start()

  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      storeDir: String): Unit = {
    val bp = Materialize.eager(batch
      .select(explode(graft.functions.TextFunctions
        .tokens(coalesce(col(textCol), lit("")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    try {
      val merged =
        if (!Files.exists(Paths.get(storeDir))) bp
        else {
          val touched = Dedup.keepLast(
              spark.read.parquet(storeDir).filter(col("__v") < batchId),
              Seq("w"), Seq("__v")).drop("__v")
            .join(bp.select(col("w")), Seq("w"), "left_semi")
          touched.unionByName(bp)
            .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
        }
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(storeDir)
    } finally Materialize.release(bp)
  }

  /** The live (word, count) table: keep-last per word. */
  def wordCounts(spark: SparkSession, storeDir: String): DataFrame =
    Dedup.keepLast(spark.read.parquet(storeDir), Seq("w"), Seq("__v"))
      .select(col("w"), col("cnt"))

  /** Word store + per-batch ENCODE — the inference half composed onto
    * the maintenance loop: each micro-batch (1) folds its word counts
    * into the store ([[processBatch]]), (2) retrains `rounds` merges
    * over the CURRENT store (vocab-bounded, no corpus rescan), and
    * (3) encodes the batch's documents with the resulting merge list —
    * one compiled [[graft.functions.BpeFunctions.BpeEncode]] pass, the
    * narrow shuffle-free map — appending (id, enc, __v = batchId) to
    * `encDir`. Documents keep the encoding of the tokenizer AS OF
    * their arrival (the production convention — re-encoding history on
    * every vocab refresh would be a full-corpus rewrite); once the
    * store has absorbed the whole corpus the last batch's merges equal
    * a from-scratch train (the [[trainCurrent]] equivalence), so the
    * final batch's encodings equal the batch path's — spec-pinned.
    * Replay safety: [[processBatch]]'s idempotent fold re-derives the
    * same pre-batch store state and re-appends identical `__v = batchId`
    * rows, so the POST-batch store [[trainCurrent]] reads is also
    * identical on replay — hence the same merges and bit-identical
    * encode rows; readers resolve keep-last.
    */
  def startEncode(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      storeDir: String,
      encDir: String,
      checkpointDir: String,
      rounds: Int,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val df = Materialize.eager(batch.toDF())
        try {
          processBatch(spark, df, id, textCol, storeDir)
          val (merges, _) = trainCurrent(spark, storeDir, rounds)
          df.select(col(idCol),
              encodeText(col(textCol), merges).as("enc"))
            .withColumn("__v", lit(id))
            .write.mode("append").parquet(encDir)
        } finally Materialize.release(df)
      }
      .start()

  /** Whole-document encoding as one narrow expression: per word the
    * merge-list scan of BpeEncode, syms joined by '|', words by ' ' —
    * the same rendering q354's min/max pins.
    */
  def encodeText(text: org.apache.spark.sql.Column,
                 merges: Seq[BpeTrain.Merge]): org.apache.spark.sql.Column = {
    val m = merges.map(x => (x.symA, x.symB))
    array_join(transform(
      graft.functions.TextFunctions.tokens(coalesce(text, lit(""))),
      w => array_join(graft.functions.BpeFunctions.bpeEncode(w, m), "|")),
      " ")
  }

  /** The live (id → enc) table: keep-last per id (replayed batches
    * re-append identical rows; keep-last collapses them).
    */
  def encoded(spark: SparkSession, encDir: String, idCol: String): DataFrame =
    Dedup.keepLast(spark.read.parquet(encDir), Seq(idCol), Seq("__v"))
      .select(col(idCol), col("enc"))

  /** Retrain over the current store — vocabulary-bounded, no corpus
    * rescan; returns the learned merges and final symbol state.
    */
  def trainCurrent(spark: SparkSession, storeDir: String, rounds: Int)
      : (Seq[BpeTrain.Merge], DataFrame) =
    BpeTrain.train(wordCounts(spark, storeDir), "w", "cnt", rounds)

  /** Streaming tokenize→PACK — q356's production path as a stream: each
    * micro-batch (1) folds word counts into the store ([[processBatch]]),
    * (2) retrains over the CURRENT store, (3) counts each batch
    * document's tokens with the as-of-arrival tokenizer (the compiled
    * BpeEncode inside one narrow `aggregate` lambda — q356's encode
    * shape), and (4) packs those counts into fixed-length training
    * sequences CONTINUING from where the previous batch stopped.
    *
    * The cross-batch state is ONE long per language — the running token
    * offset, exactly [[PackStream]]'s state — held here as a versioned
    * parquet store (the MvStream discipline) because this composition
    * lives in `foreachBatch` for the word-store side effects, not in
    * `flatMapGroupsWithState`. Replay safety is the [[processBatch]]
    * argument: a replayed batch reads the pre-batch offsets
    * (`__v < batchId` keep-last), re-derives the same merges from the
    * idempotently re-folded store, and re-appends bit-identical slice
    * and offset rows; readers resolve keep-last per (doc, seq) / lang.
    * Untouched languages are never rewritten.
    *
    * Slice geometry is [[graft.ops.SequencePack.pack]]'s, expression for
    * expression (floor-division sequence spans, the `greatest(ntok, 1)`
    * zero-token-doc convention), with the batch's in-batch prefix sum
    * (a per-lang window over BATCH rows only — bounded by batch
    * activity) added to the stored offset. A sequence that straddles a
    * batch boundary receives its head and tail slices from different
    * batches under the same seq_id — the batch pack over the full log
    * produces exactly the same rows, which is the spec's pin.
    */
  def startEncodePack(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      langCol: String,
      storeDir: String,
      packDir: String,
      offDir: String,
      checkpointDir: String,
      rounds: Int,
      seqLen: Long,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val df = Materialize.eager(batch.toDF())
        try {
          processBatch(spark, df, id, textCol, storeDir)
          val (merges, _) = trainCurrent(spark, storeDir, rounds)
          val m = merges.map(x => (x.symA, x.symB))
          val docTok = df.select(col(langCol).as("lang"),
              col(idCol).cast("long").as("doc_id"),
              aggregate(graft.functions.TextFunctions
                .tokens(coalesce(col(textCol), lit(""))), lit(0L),
                (acc, w) => acc +
                  size(graft.functions.BpeFunctions.bpeEncode(w, m))
                    .cast("long")).as("ntok"))
          // pre-batch offsets: |langs|-bounded keep-last read (empty on
          // the first batch and on a fresh offset store)
          val pre: Map[String, Long] =
            if (!Files.exists(Paths.get(offDir))) Map.empty
            else Dedup.keepLast(
                spark.read.parquet(offDir).filter(col("__v") < id),
                Seq("lang"), Seq("__v"))
              .select(col("lang"), col("cum"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val preOff = coalesce(
            element_at(typedlit(pre), col("lang")), lit(0L))
          val byLang = org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("doc_id"))
          val withStart = docTok
            .withColumn("__start",
              preOff + sum(col("ntok")).over(byLang) - col("ntok"))
          val slices = withStart
            .withColumn("__first",
              floor(col("__start") / lit(seqLen)).cast("long"))
            .withColumn("__last", floor(
              (col("__start") + greatest(col("ntok"), lit(1L)) - lit(1L)) /
                lit(seqLen)).cast("long"))
            .withColumn("seq_id", explode(sequence(col("__first"), col("__last"))))
            .withColumn("__lo",
              greatest(col("__start"), col("seq_id") * lit(seqLen)))
            .withColumn("__hi", least(col("__start") + col("ntok"),
              (col("seq_id") + lit(1L)) * lit(seqLen)))
            .select(col("lang"), col("doc_id"), col("ntok"), col("seq_id"),
              (col("__lo") - col("__start")).as("doc_tok_start"),
              (col("__lo") - col("seq_id") * lit(seqLen)).as("seq_tok_start"),
              (col("__hi") - col("__lo")).as("n_tok"))
          slices.withColumn("__v", lit(id))
            .write.mode("append").parquet(packDir)
          docTok.groupBy(col("lang"))
            .agg(sum(col("ntok")).as("__batch_tok"))
            .select(col("lang"),
              (coalesce(element_at(typedlit(pre), col("lang")), lit(0L)) +
                col("__batch_tok")).as("cum"))
            .withColumn("__v", lit(id))
            .write.mode("append").parquet(offDir)
        } finally Materialize.release(df)
      }
      .start()
  }

  /** The live packed-slice table: keep-last per (doc, seq) — replayed
    * batches re-append identical rows; keep-last collapses them.
    */
  def packedSlices(spark: SparkSession, packDir: String): DataFrame =
    Dedup.keepLast(spark.read.parquet(packDir),
        Seq("doc_id", "seq_id"), Seq("__v"))
      .select(col("lang"), col("doc_id"), col("ntok"), col("seq_id"),
        col("doc_tok_start"), col("seq_tok_start"), col("n_tok"))
}
