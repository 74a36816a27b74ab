package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Materialize, SignatureStore}

/** Continuous corpus dedup: the streaming composition of
  * [[graft.ops.SignatureStore]] — each micro-batch of documents is
  * near-dup checked against the PERSISTED signature store, the
  * batch-touching pairs are appended to a pairs table, and the batch's
  * signatures are appended to the store. This is the reference's hourly
  * refetch loop (`run_pipeline.py:92-96`) with dedup kept incremental:
  * per-batch cost tracks the batch, the corpus text is read exactly once
  * (the hour it arrived).
  *
  * Ordering discipline inside a batch: pairs are WRITTEN before the
  * batch's signatures are appended, so the store the pair join reads
  * never contains the batch being processed (the batch side carries its
  * own signatures). foreachBatch is at-least-once — a crash between the
  * two writes re-emits the batch's pairs on restart. Pair rows are a
  * deterministic function of (store, batch), so readers dedup with a
  * plain `distinct()` on (doc_a, doc_b) — same idempotence-by-replay
  * story as the keep-last upsert table ([[IncrementalIngest]]), with
  * distinct standing in for keep-last because re-delivered rows are
  * bit-identical.
  */
object DedupStream {

  /** Start the stream: new parquet files under `srcDir` (schema must
    * contain `idCol`, `textCol`) are signature'd, deduped against
    * `storeDir`, pairs land in `pairsDir`. Returns the running query —
    * caller owns stop()/awaitTermination. Use `Trigger.AvailableNow()`
    * for a one-shot catch-up pass, `ProcessingTime` for the resident form.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      storeDir: String,
      pairsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      w: Int = 3,
      k: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        processBatch(spark, batch.toDF(), idCol, textCol, storeDir, pairsDir,
          w, k, rowsPerBand, threshold)
      }
      .start()

  /** One batch: signatures → pairs vs store → append pairs → append
    * signatures. Public so a non-streaming scheduler (the reference's
    * cron shape) can drive the identical per-batch logic.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storeDir: String,
      pairsDir: String,
      w: Int = 3,
      k: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): Unit = {
    // Materialize the signature projection once: it feeds the pair join
    // (twice — banding and verification) AND the store append, and the
    // source files of a streaming batch must not be re-read after the
    // micro-batch ends.
    val sigs = Materialize.eager(
      SignatureStore.signatures(batch, idCol, textCol, w, k))
    try {
      if (sigs.isEmpty) return
      val store: DataFrame =
        if (new java.io.File(storeDir).exists())
          spark.read.parquet(storeDir)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], sigs.schema)
      SignatureStore.incrementalPairs(store, sigs, k, rowsPerBand, threshold)
        .write.mode("append").parquet(pairsDir)
      // Only after the pairs are durably written does the batch join the
      // store — a replayed batch re-reads the same store state.
      sigs.write.mode("append").parquet(storeDir)
    } finally Materialize.release(sigs)
  }
}
