package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize}
import graft.sources.PartitionedStore

/** Incremental ingest: the Spark-native restatement of the reference's
  * scheduler loop + checkpoint + upsert storage (SURVEY.md §2.10 T1–T5):
  *
  *  - T1 scheduler loop (`run_pipeline.py:92-96`)  → Structured Streaming
  *    file source with `Trigger.AvailableNow` (one catch-up pass per run).
  *  - T2 per-symbol progress checkpoint (`progress.json`,
  *    `crypto_data_pipeline_clickhouse.py:317-322`) → the streaming
  *    checkpoint dir tracks which source files are already ingested.
  *  - T3 cursor watermark (`:289` resume from last_ts+1) → implicit: only
  *    new files are read; per-key max-ts is queryable (q24).
  *  - T4/T5 overlapping refetch + ReplacingMergeTree dedup (`:541`) →
  *    keep-last merge into a month-partitioned parquet table inside
  *    `foreachBatch`; re-delivery is harmless (idempotent upsert).
  *
  * Scale shape: each batch touches ONLY the month partitions its rows land
  * in (dynamic partition overwrite) — the 100 TB analog of ClickHouse
  * rewriting just the merged parts, never the whole table.
  */
object IncrementalIngest {

  /** Merge `batch` into the partitioned parquet table at `tableDir` (a
    * path or URI of any Hadoop file system), keep-last per `keys` ordered
    * by `version`. Only partitions present in the batch are rewritten. The
    * table is read through [[PartitionedStore.read]]'s store handle.
    */
  def upsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      keys: Seq[String],
      version: Seq[String],
      tsCol: String,
      tableDir: String): Unit = {
    val withYm = batch.withColumn("ym", date_format(col(tsCol), "yyyyMM"))
    val yms = withYm.select("ym").distinct().collect().map(_.getString(0)).toSeq
    if (yms.isEmpty) return

    // the table through the session's store handle, checked against its
    // root listing (PartitionedStore.read); no table at all, through any
    // file system, is an empty one
    val existing: DataFrame = PartitionedStore.readIfExists(spark, tableDir)
      .map(_.filter(col("ym").isin(yms: _*)).select(withYm.columns.map(col): _*))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withYm.schema))

    val merged = Dedup.keepLast(existing.unionByName(withYm), keys, version)
    // The write overwrites partitions the plan just READ, so the merged
    // result must be durably materialized first. cache() is not a barrier —
    // an evicted/lost block would recompute from already-deleted files and
    // corrupt the table. localCheckpoint(eager) truncates the lineage: the
    // write can only read the checkpointed blocks, never the inputs. (At
    // real scale: stage-and-swap or a snapshotting table format — the same
    // commit-then-delete discipline as the reference's cache loader,
    // crypto_data_pipeline_clickhouse.py:644-649.) The rewrite puts new
    // ym= directories in place but leaves the root _SUCCESS alone, so it
    // drops the table's store handles itself: where directories carry no
    // modification time (an object store) the root listing cannot show it.
    Materialize.scoped(merged) { staged =>
      // dynamic overwrite as a per-write option, never on the session: a
      // session-wide mode would make every later partitioned overwrite in
      // the session (e.g. PartitionedStore.write rebuilding a table) keep
      // the months its input does not cover
      try staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ym")
        .parquet(tableDir)
      finally PartitionedStore.forget(spark, tableDir)
    }
  }

  /** One catch-up run: ingest all not-yet-processed files under `srcDir`
    * into the upsert table. Safe to call repeatedly (the checkpoint skips
    * already-seen files; re-delivered rows dedup away).
    */
  def runOnce(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keys: Seq[String],
      version: Seq[String],
      tsCol: String,
      tableDir: String,
      checkpointDir: String): Unit = {
    val q = start(spark, srcDir, schema, keys, version, tsCol, tableDir,
      checkpointDir, Trigger.AvailableNow(), watermarkDelay = None)
    q.awaitTermination()
  }

  /** The LONG-RUNNING form of the same pipeline: `Trigger.ProcessingTime`
    * polls `srcDir` every `intervalMs` and upserts each micro-batch —
    * identical code path to [[runOnce]] (T1's scheduler loop without the
    * external scheduler; stop/restart resumes from the same checkpoint).
    *
    * `watermarkDelay` (e.g. "10 minutes") additionally drops re-delivered
    * rows (same keys+version) in-stream via
    * `dropDuplicatesWithinWatermark` BEFORE the merge: the keep-last merge
    * is already idempotent, so this changes no result, but it keeps
    * re-delivery storms from re-writing untouched partitions, with state
    * bounded by the watermark horizon (not all-time, as plain
    * dropDuplicates would hold). CHOOSE THE DELAY ≥ the refetch horizon:
    * rows with event time below the watermark are dropped as late, so a
    * delay shorter than the oldest legitimate re-fetch would silently
    * discard that upsert (spec pins this with a horizon-sized delay).
    *
    * Returns the running query — the caller owns stop()/awaitTermination.
    */
  def runContinuous(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keys: Seq[String],
      version: Seq[String],
      tsCol: String,
      tableDir: String,
      checkpointDir: String,
      intervalMs: Long = 1000L,
      watermarkDelay: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    start(spark, srcDir, schema, keys, version, tsCol, tableDir,
      checkpointDir, Trigger.ProcessingTime(intervalMs), watermarkDelay)

  private def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keys: Seq[String],
      version: Seq[String],
      tsCol: String,
      tableDir: String,
      checkpointDir: String,
      trigger: Trigger,
      watermarkDelay: Option[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream.schema(schema).parquet(srcDir)
    val stream = watermarkDelay match {
      case Some(delay) =>
        val dedupCols = (keys ++ version).distinct
        raw.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark(dedupCols.head, dedupCols.tail: _*)
      case None => raw
    }
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        upsertBatch(spark, batch.toDF(), keys, version, tsCol, tableDir)
      }
      .start()
  }
}
