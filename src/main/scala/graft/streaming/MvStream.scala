package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize}

/** Incrementally-maintained materialized view: the OHLCV resample
  * ([[graft.ops.Resample]], the reference's kline build A5) kept fresh by
  * merging ALGEBRAIC partials per micro-batch — the materialized-view
  * refresh a warehouse runs after every ingest, without rescanning
  * history.
  *
  * The state row extends the visible bar with its merge witnesses:
  * `open`/`close` carry their total-order keys (`open_ord`/`close_ord` =
  * struct(ts, tieBreak…)), so two partial bars combine with
  * `min_by`/`max_by`/`min`/`max`/`sum` only — fully commutative and
  * associative. That buys the strongest delivery guarantee available:
  * ANY split of the input into batches, in ANY order (late data included,
  * no watermark needed), resolves to the identical view (spec-pinned
  * against a from-scratch [[graft.ops.Resample.ohlcv]]).
  *
  * Idempotence under at-least-once foreachBatch: a batch merges against
  * the store AS OF versions `< batchId` (crash replays see the same
  * pre-batch state and re-append bit-identical rows), and readers resolve
  * keep-last per (key, bucket) by version — the [[IncrementalIngest]]
  * replay discipline.
  *
  * Scale shape: per-batch cost is |batch partials| + |touched bars| (the
  * store read is semi-join-pruned to the batch's bars); untouched bars
  * are never read or rewritten. Map-side combine does the heavy lifting
  * inside each batch; the merge aggregation sees only bar-level rows.
  */
object MvStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCols: Seq[String],
      tsCol: String,
      tieBreak: Seq[String],
      valueCol: String,
      interval: String,
      mvDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, keyCols, tsCol, tieBreak,
          valueCol, interval, mvDir)
      }
      .start()

  /** Per-bucket algebraic partials with merge witnesses. */
  private def partials(df: DataFrame, keyCols: Seq[String], tsCol: String,
                       tieBreak: Seq[String], valueCol: String,
                       interval: String): DataFrame = {
    val ord = struct((col(tsCol) +: tieBreak.map(col)): _*)
    df.groupBy((keyCols.map(col) :+ window(col(tsCol), interval).as("__w")): _*)
      .agg(
        min_by(col(valueCol), ord).as("open"), min(ord).as("open_ord"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"), max(ord).as("close_ord"),
        sum(col(valueCol)).as("volume"), count(lit(1)).as("n_ticks"))
      .withColumn("bucket_start", col("__w.start")).drop("__w")
  }

  /** Combine partial bars of the same (key, bucket) — commutative,
    * associative, so batch split and order are invisible.
    */
  private def merge(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy((keyCols :+ "bucket_start").map(col): _*)
      .agg(
        min_by(col("open"), col("open_ord")).as("open"),
        min(col("open_ord")).as("open_ord"),
        max(col("high")).as("high"), min(col("low")).as("low"),
        max_by(col("close"), col("close_ord")).as("close"),
        max(col("close_ord")).as("close_ord"),
        sum(col("volume")).as("volume"), sum(col("n_ticks")).as("n_ticks"))

  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCols: Seq[String],
      tsCol: String,
      tieBreak: Seq[String],
      valueCol: String,
      interval: String,
      mvDir: String): Unit = {
    Materialize.scoped(
      partials(batch, keyCols, tsCol, tieBreak, valueCol, interval)) { bp =>
      val merged =
        if (!Files.exists(Paths.get(mvDir))) merge(bp, keyCols)
        else {
          // state AS OF versions < batchId: crash replays of this batch
          // merge against the same pre-batch store they saw the first time
          val touched = Dedup.keepLast(
              spark.read.parquet(mvDir).filter(col("__v") < batchId),
              (keyCols :+ "bucket_start"), Seq("__v")).drop("__v")
            .join(bp.select((keyCols :+ "bucket_start").map(col): _*),
              keyCols :+ "bucket_start", "left_semi")
          merge(touched.unionByName(bp), keyCols)
        }
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(mvDir)
    }
  }

  /** The resolved, finalized view — same shape as `Resample.ohlcv`. */
  def currentView(spark: SparkSession, mvDir: String,
                  keyCols: Seq[String]): DataFrame =
    Dedup.keepLast(spark.read.parquet(mvDir),
        keyCols :+ "bucket_start", Seq("__v"))
      .select((keyCols.map(col) :+ col("bucket_start")) ++
        Seq("open", "high", "low", "close", "volume", "n_ticks").map(col): _*)
}
