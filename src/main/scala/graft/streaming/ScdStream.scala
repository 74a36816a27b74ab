package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize, Scd}

/** Continuous SCD Type-2 maintenance: the streaming composition of
  * [[graft.ops.Scd]] — each micro-batch of change-log rows (key, ts,
  * attrs) extends the persisted dimension's validity intervals without
  * ever rebuilding closed history.
  *
  * Per batch, only the AFFECTED keys' OPEN rows are rebuilt: the open row
  * re-enters the interval build as a pseudo-log entry at its own
  * `valid_from` (so change compression sees the current state, and the
  * first real change closes it), batch rows at or before the open row's
  * `valid_from` are dropped as late (the dimension's watermark — history
  * rewrite is a batch job, [[graft.ops.Scd.buildType2]] over the full
  * log, not a streaming patch).
  *
  * Storage is append-only with the micro-batch id as the version column;
  * readers resolve with keep-last per (key, valid_from) —
  * [[currentView]] — the same idempotence-by-replay discipline as
  * [[IncrementalIngest]]: a crash-replayed batch appends bit-identical
  * rows under the same version, which the merge absorbs. Given per-key
  * in-order batches, the resolved view is EQUAL to a from-scratch
  * `Scd.buildType2` over the concatenated log (spec-pinned), so batch
  * boundaries are invisible to consumers.
  *
  * Scale shape: per-batch cost tracks |batch| + |open rows of affected
  * keys| (a semi-join against the batch's keys prunes the store read);
  * closed intervals are never read or rewritten.
  */
object ScdStream {

  /** Start the stream: new parquet files under `srcDir` (schema: keyCols,
    * tsCol, attrCols) maintain the Type-2 dimension at `dimDir`.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      dimDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, keyCols, tsCol, attrCols, dimDir)
      }
      .start()

  /** One batch: open rows of affected keys ∪ in-horizon batch rows →
    * interval rebuild → versioned append. Public so a cron-shaped
    * scheduler can drive the identical logic.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCols: Seq[String],
      tsCol: String,
      attrCols: Seq[String],
      dimDir: String): Unit = {
    val cols = keyCols ++ Seq(tsCol) ++ attrCols
    val log0 = Materialize.eager(batch.select(cols.map(col): _*)
      // same-instant duplicates within a batch: keep an arbitrary-but-
      // deterministic representative (min attr struct)
      .groupBy((keyCols :+ tsCol).map(col): _*)
      .agg(min(struct(attrCols.map(col): _*)).as("__a"))
      .select((keyCols :+ tsCol).map(col) :+ col("__a.*"): _*))
    try {
      val log =
        if (!Files.exists(Paths.get(dimDir))) log0
        else {
          val openAsLog = currentView(spark, dimDir, keyCols)
            .filter(col("is_current"))
            .join(log0.select(keyCols.map(col): _*).distinct(),
              keyCols, "left_semi")
            .select((keyCols.map(col) :+ col("valid_from").as(tsCol)) ++
              attrCols.map(col): _*)
          // late rows at/before the open interval's start are outside the
          // dimension's horizon — dropped (history rewrite is a batch job)
          val horizon = openAsLog
            .groupBy(keyCols.map(col): _*)
            .agg(max(col(tsCol)).as("__open_from"))
          log0.join(horizon, keyCols, "left")
            .filter(col("__open_from").isNull || col(tsCol) > col("__open_from"))
            .drop("__open_from")
            .unionByName(openAsLog)
        }
      Scd.buildType2(log, keyCols, tsCol, attrCols)
        .withColumn("__v", lit(batchId))
        .write.mode("append").parquet(dimDir)
    } finally Materialize.release(log0)
  }

  /** Keep-last-resolved dimension: one row per (key, valid_from), the
    * highest-version write wins.
    */
  def currentView(spark: SparkSession, dimDir: String,
                  keyCols: Seq[String]): DataFrame =
    Dedup.keepLast(spark.read.parquet(dimDir),
      keyCols :+ "valid_from", Seq("__v")).drop("__v")
}
