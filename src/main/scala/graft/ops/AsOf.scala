package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of (temporal-alignment) join.
  *
  * The reference's funding-rate series aligns to kline bars on
  * `(symbol, nearest-prior fundingTime)` by construction (SURVEY.md §2.4 J3:
  * schemas at `app/src/crypto_data_pipeline_clickhouse.py:502-509` vs
  * `:444-460`) — every consumer of those tables performs this join. Spark has
  * no built-in as-of join, so we use the union-sort technique: tag both sides,
  * union, and carry the latest right-side payload forward with
  * `last(ignoreNulls)` over an ordered window.
  *
  * Cost model at 100 TB: one shuffle of (left ∪ right) on `keys` plus a
  * per-key sort — O(n log n) per key, no row-pair blowup. A naive range join
  * (`l.ts >= r.ts` + keep max) is O(|L|·|R|) per key and explodes; never do
  * that. Keys must be the high-cardinality entity (symbol/user), keeping each
  * sorted run small and the shuffle well spread.
  */
object AsOf {

  /** For each left row, attach `valueCols` from the latest right row with
    * `right(rightTs) <= left(leftTs)` within the same `keys` group (backward
    * join, inclusive). Left rows with no prior right row get nulls.
    *
    * `rightVersion` breaks ties among right rows sharing (keys, rightTs) —
    * last one wins, mirroring keep-last dedup semantics.
    */
  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      rightVersion: Seq[String] = Seq.empty): DataFrame =
    join(left, right, keys, leftTs, rightTs, valueCols, rightVersion,
      forward = false)

  /** Forward as-of: for each left row, attach `valueCols` from the EARLIEST
    * right row with `right(rightTs) >= left(leftTs)` within `keys`
    * (inclusive). The mirror of [[joinBackward]] — "next quote after the
    * trade" / "next error after the deploy" alignment — via the same
    * union-sort technique, time-reversed: a DESCENDING sort with an
    * incremental `last(ignoreNulls)` running frame; identical
    * one-shuffle-per-key, O(n log n)-per-key cost model, no row-pair blowup.
    *
    * Among right rows sharing (keys, rightTs), the highest `rightVersion`
    * wins (keep-last semantics, matching the backward join).
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      rightVersion: Seq[String] = Seq.empty): DataFrame =
    join(left, right, keys, leftTs, rightTs, valueCols, rightVersion,
      forward = true)

  private def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      rightVersion: Seq[String],
      forward: Boolean): DataFrame = {

    val rv = struct(valueCols.map(col): _*)
    // Tie-break columns must travel through the union to feed the sort.
    val vNames = rightVersion.indices.map(i => s"__v$i")
    val vCols = rightVersion.zip(vNames).map { case (c, n) => col(c).as(n) }
    val rightTagged = right.select(
      (keys.map(col) ++ Seq(col(rightTs).as("__t")) ++ vCols :+ rv.as("__rv")): _*)
    val rvType = rightTagged.schema("__rv").dataType
    val vTypes = vNames.map(n => rightTagged.schema(n).dataType)

    // __side: the right row is scanned before the left one at equal time,
    // so a same-timestamp right row is already in the frame: inclusive.
    // Backward: right=0 sorts before left=1 ascending; forward: right=1
    // sorts before left=0 in the DESCENDING scan below (side desc).
    val (rightSide, leftSide) = if (forward) (1, 0) else (0, 1)
    val r = rightTagged.withColumn("__side", lit(rightSide))
    val leftCols = left.columns
    val lExtra =
      Seq(col(leftTs).as("__t")) ++
      vNames.zip(vTypes).map { case (n, t) => lit(null).cast(t).as(n) } ++
      Seq(lit(null).cast(rvType).as("__rv"), lit(leftSide).as("__side"))
    val l = left.select((leftCols.map(col) ++ lExtra): _*)

    // Align right's columns to left's shape (missing left cols → null).
    val rAligned = r.select(
      (leftCols.map(c => if (keys.contains(c)) col(c) else lit(null).cast(left.schema(c).dataType).as(c))
        ++ Seq(col("__t")) ++ vNames.map(col) ++ Seq(col("__rv"), col("__side"))): _*)

    // Forward sorts time DESC with the same unboundedPreceding→currentRow
    // frame: Spark's SlidingWindowFunctionFrame evaluates `last(ignoreNulls)`
    // incrementally (O(n) per key), whereas a currentRow→unboundedFollowing
    // frame rescans to partition end for every row (O(n²) per key — a stall
    // on hot keys). `last` in the descending scan = the right row with the
    // SMALLEST __t >= leftTs. Versions sort ASC in both directions so,
    // within an equal-(t, side) run, the highest version sits closest to
    // the current row and wins — keep-last tie semantics.
    val dir: Column => Column = if (forward) _.desc else identity
    val ordCols: Seq[Column] =
      dir(col("__t")) +: dir(col("__side")) +: vNames.map(col)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l.unionByName(rAligned)
      .withColumn("__filled", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftSide)
      .select((leftCols.map(col) ++ valueCols.map(c => col(s"__filled.$c").as(c))): _*)
  }
}
