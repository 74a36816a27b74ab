package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed running (prefix) sum — the scale-correct form of
  * `sum(x) OVER (PARTITION BY g ORDER BY o ROWS UNBOUNDED PRECEDING)`
  * when the group count is SMALL.
  *
  * Spark's window executes each partition-by group in one task: cumulative
  * volume over a whole exchange, or token-budget shard planning over five
  * corpus sources, serializes onto a handful of cores no matter how large
  * the cluster (measured 20× degradation at 10× rows in q62's window
  * form). Same machinery as [[Quantiles]]:
  *
  *  1. range-partition + locally sort by (group…, order…) — a group spans
  *     many partitions;
  *  2. per-(partition, group) SUBTOTALS → driver (|partitions|×|groups|
  *     rows), prefix-summed into per-(partition, group) start offsets;
  *  3. one bounded-state pass adds offset + local running sum to every
  *     row — no per-group serialization anywhere.
  *
  * The sorted projection is materialized eagerly ([[Materialize]]): the
  * offsets are computed against ONE range partitioning, and a recompute
  * could legally re-sample different boundaries — the checkpoint's
  * truncated lineage rules a recompute out. Long and Double value columns
  * supported (exact for Long; Double accumulates left-to-right in sort
  * order, matching the window's own order of accumulation).
  *
  * Output: the projected (groupCols…, orderCols…, valueCol) rows plus
  * `outCol` = running sum INCLUDING the current row. `orderCols` must be a
  * total order within each group (add a tie-break id) — same requirement
  * the window form has for deterministic results. Null values are not
  * supported (coalesce first); group/order columns must be non-null.
  */
object PrefixSum {

  def withRunningSum(
      df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      valueCol: String, outCol: String, partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty && orderCols.nonEmpty)
    val spark = df.sparkSession
    val nPart = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val nG = groupCols.length
    val valueIdx = nG + orderCols.length
    val isLong = df.schema(valueCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case DoubleType | FloatType => false
      case t => throw new IllegalArgumentException(
        s"unsupported value type $t (use long/int or double/float)")
    }
    val keyCols = (groupCols ++ orderCols).map(col)
    val valueCast = col(valueCol).cast(if (isLong) "long" else "double")
    // The partition id is STAMPED into the materialized projection (not
    // re-derived per pass), so both passes read the same pid source; this
    // guards against rdd-index vs spark_partition_id divergence, NOT
    // against a recompute (a recompute re-stamps __pid too — the truncated
    // lineage is the real defense against re-sampled range boundaries).
    val sorted = Materialize.eager(df
      .select(keyCols :+ valueCast.as("__v"): _*)
      .repartitionByRange(nPart, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val pidIdx = valueIdx + 1

    // pass 1: per-(partition, group) subtotals → start offsets
    val subRows = sorted
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(sum(col("__v")).as("__s"))
      .collect()
    def keyOf(r: Row): List[Any] = (0 until nG).map(i => r.get(1 + i)).toList
    val offsets: Map[(Int, List[Any]), Any] = {
      val m = scala.collection.mutable.Map.empty[(Int, List[Any]), Any]
      subRows.groupBy(keyOf).foreach { case (g, arr) =>
        var accL = 0L; var accD = 0.0
        arr.sortBy(_.getInt(0)).foreach { r =>
          m((r.getInt(0), g)) = if (isLong) accL else accD
          if (isLong) accL += r.getLong(1 + nG) else accD += r.getDouble(1 + nG)
        }
      }
      m.toMap
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: offset + local running sum, streamed (group-clustered rows);
    // the pid is read from the stamped column, same source pass 1 grouped on
    val outRdd = sorted.rdd.mapPartitions { it =>
      val offs = bcOffsets.value
      var curKey: Array[Any] = null
      var runL = 0L; var runD = 0.0
      it.map { r =>
        var same = curKey != null
        var i = 0
        while (same && i < nG) {
          if (r.get(i) != curKey(i)) same = false
          i += 1
        }
        if (!same) {
          curKey = Array.tabulate(nG)(r.get)
          // Pass 1 emitted a subtotal for every (pid, group) that has rows,
          // so a miss means the passes saw divergent partitionings — fail
          // loud rather than silently prefix-sum from 0.
          val off = offs.getOrElse((r.getInt(pidIdx), curKey.toList),
            throw new IllegalStateException(
              s"prefix-sum pass divergence: no pass-1 offset for partition=" +
                s"${r.getInt(pidIdx)} group=${curKey.mkString(",")}"))
          if (isLong) runL = off.asInstanceOf[Long]
          else runD = off.asInstanceOf[Double]
        }
        val body = r.toSeq.dropRight(1)  // strip the stamped __pid
        if (isLong) { runL += r.getLong(valueIdx); Row.fromSeq(body :+ runL) }
        else { runD += r.getDouble(valueIdx); Row.fromSeq(body :+ runD) }
      }
    }
    val outSchema = StructType(sorted.schema.fields.dropRight(1) :+
      StructField(outCol, if (isLong) LongType else DoubleType, nullable = false))
    spark.createDataFrame(outRdd, outSchema)
      .withColumnRenamed("__v", valueCol)
  }
}
