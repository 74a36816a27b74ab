package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize}

/** Incrementally-maintained distinct-count sketch store — the streaming
  * producer of q136's windowed-merge consumer: one HLL sketch per key
  * (e.g. per day) kept fresh per micro-batch, so any later distinct-count
  * question over any key range is a fixed-size sketch merge, never a
  * rescan of the raw stream.
  *
  * HLL union is register-wise max — commutative, associative,
  * idempotent — so ANY split of the input into batches, in ANY order,
  * duplicates included, resolves to the same registers and therefore the
  * SAME estimates (spec-pinned against a one-shot batch sketch of the
  * concatenated input). Idempotent-union also means re-observing rows is
  * harmless — the store needs no dedup pre-pass.
  *
  * Versioning follows [[MvStream]]: a batch merges against the store AS
  * OF versions `< batchId` (an at-least-once replay re-reads the same
  * pre-batch state and re-appends bit-identical rows) and readers resolve
  * keep-last per key; untouched keys are never read (semi-join prune) or
  * rewritten.
  *
  * Scale shape: per-batch cost is the batch scan + |touched keys|
  * fixed-size sketches; store size is |keys| × sketch bytes regardless of
  * stream cardinality.
  */
object SketchStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCols: Seq[String],
      valueCol: String,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, keyCols, valueCol, storeDir)
      }
      .start()

  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCols: Seq[String],
      valueCol: String,
      storeDir: String): Unit = {
    val bp = Materialize.eager(batch.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("__sk")))
    try {
      val merged =
        if (!Files.exists(Paths.get(storeDir))) bp
        else {
          val touched = Dedup.keepLast(
              spark.read.parquet(storeDir).filter(col("__v") < batchId),
              keyCols, Seq("__v")).drop("__v")
            .join(bp.select(keyCols.map(col): _*), keyCols, "left_semi")
          touched.unionByName(bp)
            .groupBy(keyCols.map(col): _*)
            .agg(hll_union_agg(col("__sk")).as("__sk"))
        }
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(storeDir)
    } finally Materialize.release(bp)
  }

  /** Resolved estimates per key (keep-last sketch, then estimate). */
  def estimates(spark: SparkSession, storeDir: String,
                keyCols: Seq[String]): DataFrame =
    Dedup.keepLast(spark.read.parquet(storeDir), keyCols, Seq("__v"))
      .select((keyCols.map(col) :+
        hll_sketch_estimate(col("__sk")).as("estimate")): _*)

  /** Resolved raw sketches (for range merges à la q136). */
  def sketches(spark: SparkSession, storeDir: String,
               keyCols: Seq[String]): DataFrame =
    Dedup.keepLast(spark.read.parquet(storeDir), keyCols, Seq("__v"))
      .select((keyCols.map(col) :+ col("__sk")): _*)
}
