package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed EXACT quantiles (linear interpolation — `quantile_cont` /
  * Spark `percentile` semantics) that never buffer a group.
  *
  * Spark's built-in exact `percentile` is an ImperativeAggregate whose
  * buffer holds EVERY value of the group — at 100 TB with a handful of
  * groups that is tens of billions of doubles in one heap buffer per
  * group: guaranteed executor OOM. The sketch aggregates
  * (`approx_percentile`) bound memory but change the answer.
  *
  * This operator keeps the answer exact and the memory bounded by making
  * the quantile a *selection* problem over a global sort:
  *
  *  1. **Range-partition + local sort** on (group…, value): a single huge
  *     group spreads across MANY partitions (Spark's range exchange
  *     samples split points), so no task ever owns a whole group — the
  *     exact opposite of the one-buffer-per-group aggregate. This is the
  *     only full-data shuffle, and it is the disk-backed sort machinery
  *     that Spark already scales.
  *  2. **Tiny rank bookkeeping**: per-partition per-group row counts are a
  *     |partitions| × |groups| aggregate, collected to the driver (same
  *     role as a broadcast dimension). From them: each group's total n,
  *     each (partition, group)'s global-rank offset, and each quantile's
  *     interpolation-neighbor ranks ⌊1+q(n−1)⌋ and ⌈…⌉.
  *  3. **Selection pass**: one more scan of the (pinned) sorted data;
  *     each task keeps ONE running counter for the group currently
  *     streaming past (rows arrive group-clustered because the sort key
  *     leads with the group) and emits only rows whose global rank is a
  *     wanted neighbor — ≤ |groups|·|qs|·2 rows total leave the executors.
  *  4. Interpolation over that tiny result happens on the driver:
  *     v = v_lo + (pos − ⌊pos⌋)·(v_hi − v_lo), pos = q·(n−1) 0-indexed —
  *     bit-identical to Spark's `Percentile` and DuckDB's `quantile_cont`.
  *
  * Cost model at scale: one range shuffle + sort of (group, value) pairs
  * (narrow — two columns, never the full row), one re-read from the
  * pinned sort, O(|partitions|·|groups|) driver state. Memory per task
  * is O(1) beyond the sort's own spill-able pages.
  *
  * Nulls in the value column are excluded (quantile semantics); `n` in
  * the output is the NON-NULL count (= SQL `count(valueCol)`).
  *
  * Reference provenance: the reference's pandas `describe()`/resample
  * paths (crypto_data_pipeline_clickhouse.py:330-360) compute single-node
  * quantiles; this is the 100 TB-safe equivalent.
  */
object Quantiles {

  /** Exact per-group quantiles. Output: groupCols…, `quantiles`
    * array<double> (one entry per q, in `qs` order), `n` (non-null count).
    */
  def exact(df: DataFrame, groupCols: Seq[String], valueCol: String,
            qs: Seq[Double], partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]: $qs")
    val spark = df.sparkSession
    val nPart = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val nG = groupCols.length

    val sortCols = groupCols.map(col) :+ col("__v")
    val narrow = Materialize.eager(df
      .select((groupCols.map(col) :+ col(valueCol).cast("double").as("__v")): _*)
      .filter(col("__v").isNotNull)
      // The one full-data exchange: range partitioning spreads each group
      // over many partitions; sortWithinPartitions completes the global
      // order (range boundaries are non-overlapping).
      .repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      // Pinned so the counting pass and the selection pass see the SAME
      // physical partitioning (range split points are sampled; a recompute
      // could legally re-draw them). Narrow columns only — this is a
      // (group, double) projection, not the source rows. The partition id
      // is STAMPED into the projection so both passes read the same pid
      // source (guards rdd-index vs spark_partition_id divergence; a
      // recompute re-stamps __pid too, so the pin is the real defense
      // against re-sampled range boundaries).
      .withColumn("__pid", spark_partition_id()))
    val pidIdx = nG + 1

    try {
      // ---- pass 1: |partitions| × |groups| counts → driver ----
      val countRows: Array[Row] = narrow
        .groupBy(col("__pid") +: groupCols.map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .collect()
      // group key = the groupCols values as a List (structural equality)
      def keyOf(r: Row, from: Int): List[Any] =
        (0 until nG).map(i => r.get(from + i)).toList
      val perPart: Array[(Int, List[Any], Long)] =
        countRows.map(r => (r.getInt(0), keyOf(r, 1), r.getLong(nG + 1)))
      val totals: Map[List[Any], Long] =
        perPart.groupBy(_._2).map { case (k, a) => k -> a.map(_._3).sum }
      // offset(pid, g) = rows of g in partitions before pid (global, 1-based
      // ranks start at offset+1)
      val offsets: Map[(Int, List[Any]), Long] = {
        val m = scala.collection.mutable.Map.empty[(Int, List[Any]), Long]
        perPart.groupBy(_._2).foreach { case (g, arr) =>
          var acc = 0L
          arr.sortBy(_._1).foreach { case (pid, _, c) =>
            m((pid, g)) = acc; acc += c
          }
        }
        m.toMap
      }
      // wanted global ranks per group: the interpolation neighbors of every
      // q, sorted — ranks stream past monotonically within a group, so the
      // selection below is a pointer walk (no per-row set lookup/boxing)
      val wanted: Map[List[Any], Array[Long]] = totals.map { case (g, n) =>
        g -> qs.flatMap { q =>
          val pos = q * (n - 1)  // 0-indexed position
          val lo = math.floor(pos).toLong
          Seq(lo + 1, math.min(lo + 2, n))  // 1-based lo and hi ranks
        }.distinct.sorted.toArray
      }
      val bcOffsets = spark.sparkContext.broadcast(offsets)
      val bcWanted = spark.sparkContext.broadcast(wanted)

      // ---- pass 2: bounded-state selection; emits ≤ |groups|·|qs|·2 rows.
      // Per row: an unboxed field compare against the current group's key
      // (rows arrive group-clustered — the sort key leads with the group)
      // and one long compare against the next wanted rank. Allocation only
      // on group change. ----
      val selected: Array[(List[Any], Long, Double)] = narrow.rdd
        .mapPartitions { it =>
          val offs = bcOffsets.value
          val want = bcWanted.value
          var curKey: Array[Any] = null
          var curList: List[Any] = null
          var curRank = 0L          // global rank of the last row of curKey
          var curWant: Array[Long] = Array.emptyLongArray
          var wi = 0                // next wanted rank ≥ curRank+1
          it.flatMap { r =>
            var same = curKey != null
            var i = 0
            while (same && i < nG) {
              if (r.get(i) != curKey(i)) same = false
              i += 1
            }
            if (!same) {
              curKey = Array.tabulate(nG)(r.get)
              curList = curKey.toList
              // Pass 1 counted every (pid, group) that has rows; a miss
              // means divergent partitionings between passes — fail loud
              // rather than silently rank from 0.
              curRank = offs.getOrElse((r.getInt(pidIdx), curList),
                throw new IllegalStateException(
                  s"quantile pass divergence: no pass-1 count for partition=" +
                    s"${r.getInt(pidIdx)} group=${curKey.mkString(",")}"))
              curWant = want.getOrElse(curList, Array.emptyLongArray)
              wi = 0
              while (wi < curWant.length && curWant(wi) <= curRank) wi += 1
            }
            curRank += 1
            if (wi < curWant.length && curWant(wi) == curRank) {
              wi += 1
              Iterator.single((curList, curRank, r.getDouble(nG)))
            } else Iterator.empty
          }
        }.collect()

      // ---- driver-side interpolation over the tiny selection ----
      val byGroup: Map[List[Any], Map[Long, Double]] =
        selected.groupBy(_._1).map { case (g, a) =>
          g -> a.map(t => t._2 -> t._3).toMap
        }
      val out: Seq[Row] = totals.toSeq.map { case (g, n) =>
        val ranks = byGroup.getOrElse(g, Map.empty)
        val vals = qs.map { q =>
          val pos = q * (n - 1)
          val lo = math.floor(pos).toLong
          val vLo = ranks(lo + 1)
          val vHi = ranks(math.min(lo + 2, n))
          vLo + (pos - lo) * (vHi - vLo)   // Percentile.scala's exact formula
        }
        Row.fromSeq(g ++ Seq(vals.toArray, n))
      }
      val schema = org.apache.spark.sql.types.StructType(
        groupCols.map(c => df.schema(c)) ++ Seq(
          org.apache.spark.sql.types.StructField("quantiles",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1), schema)
    } finally Materialize.release(narrow)
  }

  /** Per-group median + median-absolute-deviation in ONE source scan.
    *
    * The naive composition (`exact` for the median, join, `exact` again for
    * the deviation median) reads — and re-derives — the source twice; when
    * the value is computed (tokenize + score), that doubles the expensive
    * part. Here the narrow (group…, value) projection is pinned once:
    * the median selection, the deviation derivation, and the MAD selection
    * all read the pinned two-column projection, so the source is scanned
    * exactly once. The MAD still requires its own range sort (deviation
    * order is not value order), but that sort reads the pin, not the
    * source. Both `exact` calls are eager (driver-side selection), so the
    * pin is released before returning — the result is a tiny driver-local
    * frame (one row per group), broadcast-join it downstream.
    *
    * `roundTo` rounds the median BEFORE deviations are formed (and the
    * emitted med/mad) so downstream recomputation of |v − med| is
    * representation-stable across engines.
    *
    * Output: groupCols…, `med`, `mad`, `n` (non-null count).
    */
  def medianAbsDev(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   roundTo: Int = 6, partitions: Int = 0): DataFrame = {
    val narrow = Materialize.eager(df
      .select((groupCols.map(col) :+ col(valueCol).cast("double").as("__v")): _*)
      .filter(col("__v").isNotNull))
    try {
      val med = exact(narrow, groupCols, "__v", Seq(0.5), partitions)
        .select(groupCols.map(col) :+
          round(element_at(col("quantiles"), 1), roundTo).as("med"): _*)
      val dev = narrow.join(broadcast(med), groupCols)
        .withColumn("__d", round(abs(col("__v") - col("med")), roundTo))
      val mad = exact(dev, groupCols, "__d", Seq(0.5), partitions)
        .select(groupCols.map(col) ++ Seq(
          round(element_at(col("quantiles"), 1), roundTo).as("mad"),
          col("n")): _*)
      // med and mad are both driver-built one-row-per-group frames by now;
      // the join is trivial and references nothing pinned.
      med.join(mad, groupCols.toSeq)
    } finally Materialize.release(narrow)
  }
}
