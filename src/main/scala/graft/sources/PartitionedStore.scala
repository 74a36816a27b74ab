package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** The engine's at-rest layout — the Spark analog of the reference's
  * ClickHouse DDL semantics (SURVEY.md §1.3):
  *
  *  - `PARTITION BY toYYYYMM(timestamp)`
  *    (`crypto_data_pipeline_clickhouse.py:570,582,594,606`) →
  *    `write.partitionBy("ym")` directory layout; Spark's file index prunes
  *    unreferenced months at read time with zero custom code.
  *  - `ORDER BY (symbol, interval, timestamp)` sparse index (`:543,:571`,
  *    `index_granularity=8192` `:544`) → `repartition(keys)` +
  *    `sortWithinPartitions(sortCols)` so parquet row groups carry tight
  *    min/max stats on the sort keys — the same skipping effect.
  *  - `LowCardinality(String)` (`:445-448`) → parquet dictionary encoding,
  *    automatic.
  *
  * At 100 TB: month × key-hash gives bounded file counts; the sorted layout
  * makes point/range reads on (key, time) touch O(1) row groups.
  */
object PartitionedStore {

  /** Write `df` as a month-partitioned, key-sorted parquet table. */
  def write(
      df: DataFrame,
      tsCol: String,
      sortCols: Seq[String],
      dir: String,
      buckets: Int = 0): Unit = {
    val withYm = df.withColumn("ym", date_format(col(tsCol), "yyyyMM"))
    val shaped =
      if (buckets > 0)
        withYm.repartition(buckets, col("ym") +: sortCols.map(col): _*)
      else withYm
    shaped
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy("ym")
      .parquet(dir)
  }

  /** Read it back; month-range predicates prune directories automatically. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Compact the small files continuous ingest accumulates — the
    * maintenance op every streaming-written table needs (each micro-batch
    * writes ≥1 file per touched partition; a month of hourly batches is
    * ~720 tiny files whose open/footer overhead dominates scans).
    *
    * Per month partition: if the file count exceeds
    * ceil(bytes / targetBytes), rewrite that partition as
    * `repartitionByRange(sortCols)` + sorted files — restoring BOTH the
    * file count and the disjoint per-file min/max ranges that make footer
    * pruning effective (a plain `repartition(n)` would shrink the count
    * but overlap every file's key range). Months are driver-side metadata
    * (bounded — the IncrementalIngest precedent); each partition rewrites
    * independently via dynamic partition overwrite, so a compaction can
    * run incrementally behind the ingest without touching hot months.
    *
    * @return per-ym (filesBefore, filesAfter) for the rewritten months
    */
  def compact(spark: SparkSession, dir: String, sortCols: Seq[String],
              targetBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ym="))
    val plan = parts.flatMap { p =>
      val files = fs.listStatus(p.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.length > want)
        Some(p.getPath.getName.stripPrefix("ym=") -> (files.length, want))
      else None
    }.toMap

    plan.foreach { case (ym, (_, want)) =>
      // an eager checkpoint = the repo's read-then-overwrite-same-path write
      // barrier (IncrementalIngest precedent): rows are materialized on
      // executors before the partition they came from is replaced
      Materialize.scoped(spark.read.parquet(dir).filter(col("ym") === ym)
          .repartitionByRange(want, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)) { rows =>
        rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("ym").parquet(dir)
      }
    }
    plan
  }

  /** Write `df` clustered on the Z-ORDER of two dimension columns (the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` layout, composed from public
    * primitives): rank each dimension into 31-bit space, range-partition
    * by the Morton interleave, sort files by it. Every output file then
    * covers a small rectangle of (dimX, dimY), so parquet min/max footer
    * stats prune scans filtered on EITHER dimension — single-column sort
    * prunes only its own column.
    *
    * Each dimension maps into rank space first (rank, not value, so skewed
    * dimensions cluster evenly) via sample-based range bucketing — the same
    * approximation `repartitionByRange` and Delta's ZORDER use: a
    * driver-bounded approx-quantile sketch yields k sorted boundaries per
    * dimension, and a compiled binary-search expression
    * ([[graft.functions.ZOrderFunctions.BoundaryBucket]]) assigns buckets
    * in O(log k) per row. No global-rank window (the q62/q72 single-task
    * anti-pattern), no join-back; write cost = one sketch pass per
    * dimension + the range exchange the sorted write needs anyway. Writes
    * amortize over every later scan (the ClickHouse ORDER-BY lesson this
    * store already encodes).
    */
  def writeClustered(
      df: DataFrame,
      dimX: String,
      dimY: String,
      dir: String,
      files: Int = 8,
      tiles: Int = 1 << 12): Unit = {
    val probes = (1 until tiles).map(_.toDouble / tiles).toArray
    def boundaries(c: String): Array[Double] = {
      val b = df.select(col(c).cast("double").as(c))
        .stat.approxQuantile(c, probes, 0.001)
      b.distinct.sorted
    }
    val zf = graft.functions.ZOrderFunctions
    df.withColumn("__z", zf.zorder(
        zf.boundaryBucket(boundaries(dimX), col(dimX).cast("double")),
        zf.boundaryBucket(boundaries(dimY), col(dimY).cast("double"))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }
}
