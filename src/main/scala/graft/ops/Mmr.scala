package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance diversification: greedily re-rank each query's
  * candidate list so every pick trades relevance against similarity to the
  * items already picked — the standard diversity pass behind retrieval /
  * RAG-context selection (the reference's consumers rank top-k per symbol
  * with no diversity notion; this is the training-data extension).
  *
  * score(c) = rel(c) - max_{s in picked} sim(c, s)   (λ = 0.5 MMR, whose
  * 0.5·(rel − maxsim) ranking is monotone in the difference, so the λ factor
  * never needs to materialize). Scores are INTEGER (callers pass
  * e.g. round(cos·1e6)), so selection is exact and partition-order-free;
  * ties break to the smallest id.
  *
  * Scale shape: the greedy loop is k-1 rounds of per-query joins over the
  * CANDIDATE lists (bounded, say 20 per query) — never over the corpus.
  * Every step is an equi-join on the query key plus a combinable
  * max-of-struct argmax; `localCheckpoint` cuts lineage growth (same
  * discipline as [[PageRank]]). Nothing is collected to the driver, so a
  * billion queries diversify in parallel.
  */
object Mmr {

  /** Candidate-row threshold at or below which the greedy loop runs on
    * the DRIVER over the collected candidate/similarity lists (the
    * [[KTruss]]/[[DriverGraph]] round-13 convention): the candidate
    * lists are BOUNDED per query by construction (the operator's whole
    * premise), and each distributed round costs an anti-join, an
    * equi-join, two aggregations and an eager localCheckpoint —
    * scheduled micro-stages per pick. Scores are integers (the caller
    * contract), so the driver replay is exact — pinned by MmrSpec's
    * both-path property. The collects are `limit`-bounded probes
    * (nothing unbounded ever lands on the driver); an over-threshold
    * input falls through to the distributed loop. Set 0 to force the
    * distributed path.
    */
  val defaultDriverThreshold: Long = 1L << 20

  private def num(x: Any): Long = x.asInstanceOf[Number].longValue

  /** The identical greedy recurrence on the driver. Pick rule per step =
    * the distributed max-of-struct (__score, -id[, rel]): highest score,
    * ties to the smallest id ((q, id) is unique, so rel never decides).
    */
  private def driverDiversify(
      spark: org.apache.spark.sql.SparkSession,
      cRows: Array[org.apache.spark.sql.Row],
      sRows: Array[org.apache.spark.sql.Row],
      outSchema: org.apache.spark.sql.types.StructType,
      k: Int): DataFrame = {
    // per query: candidates (idValue, idLong, relValue, relLong)
    val cands = cRows.groupBy(_.get(0))
    // per (q, a-id): list of (b-id, sim)
    val sims = sRows.groupBy(r => (r.get(0), num(r.get(1))))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    cands.foreach { case (q, rows) =>
      val remaining = scala.collection.mutable.LinkedHashMap.empty[Long,
        (Any, Any)] // idLong -> (idValue, relValue)
      rows.foreach(r => remaining(num(r.get(1))) = (r.get(1), r.get(2)))
      val picked = scala.collection.mutable.HashSet.empty[Long]
      var step = 1
      while (step <= k && remaining.nonEmpty) {
        var bestId = 0L
        var bestScore = Long.MinValue
        var first = true
        remaining.foreach { case (id, (_, relV)) =>
          val rel = num(relV)
          val score =
            if (step == 1) rel
            else {
              var maxsim = Long.MinValue
              sims.get((q, id)).foreach(_.foreach { sr =>
                if (picked(num(sr.get(2)))) {
                  val sv = num(sr.get(3))
                  if (sv > maxsim) maxsim = sv
                }
              })
              // candidates disjoint from every pick diversify freely
              rel - (if (maxsim == Long.MinValue) 0L else maxsim)
            }
          if (first || score > bestScore ||
              (score == bestScore && id < bestId)) {
            bestId = id; bestScore = score; first = false
          }
        }
        val (idV, relV) = remaining.remove(bestId).get
        picked += bestId
        out += org.apache.spark.sql.Row(q, idV, relV, step)
        step += 1
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out.toSeq).asJava),
      outSchema)
  }

  /** Greedy-diversify `cands` into the top `k` per query.
    *
    * @param cands one row per (query, candidate): `qCol`, `idCol`, `relCol`
    *              (integer relevance — exact math is the caller's contract)
    * @param sims  symmetric pairwise similarities WITHIN each query's
    *              candidate list: `qCol`, `idCol`, `idBCol`, `simCol`
    *              (integer; both orientations present, self-pairs absent)
    * @return (qCol, idCol, relCol, step) — step 1..k in pick order; queries
    *         with fewer than k candidates yield as many steps as they have
    */
  def diversify(cands: DataFrame, sims: DataFrame, qCol: String, idCol: String,
                relCol: String, idBCol: String, simCol: String,
                k: Int,
                driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val c = cands.select(col(qCol).as("__q"), col(idCol).as("__id"),
      col(relCol).as("__rel"))
    val s = sims.select(col(qCol).as("__q"), col(idCol).as("__a"),
      col(idBCol).as("__b"), col(simCol).as("__sim"))

    if (driverThreshold > 0 && driverThreshold <= Int.MaxValue / 4) {
      val cRows = c.limit(driverThreshold.toInt + 1).collect()
      // a null id/rel/sim (pathological input) would NPE the unboxing
      // below AND has SQL-specific join/agg semantics the replay does
      // not model — any null falls through to the distributed loop
      def clean(rs: Array[org.apache.spark.sql.Row]) =
        rs.forall(r => (1 until r.length).forall(!r.isNullAt(_)))
      if (cRows.length <= driverThreshold && clean(cRows)) {
        // sims are bounded by Σ per-query candidates² — probe with a
        // limit so an unexpectedly dense similarity table falls back
        val simCap = driverThreshold * 4
        val sRows = s.limit(simCap.toInt + 1).collect()
        if (sRows.length <= simCap && clean(sRows)) {
          val outSchema = org.apache.spark.sql.types.StructType(Seq(
            cands.schema(qCol), cands.schema(idCol), cands.schema(relCol),
            org.apache.spark.sql.types.StructField("step",
              org.apache.spark.sql.types.IntegerType, nullable = false)))
          return driverDiversify(cands.sparkSession, cRows, sRows,
            outSchema, k)
        }
      }
    }

    // step 1: pure relevance argmax (combinable max-of-struct; -id tiebreak)
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored.groupBy(col("__q"))
        .agg(max(struct(col("__score"), (-col("__id")).as("__nid"),
          col("__rel"))).as("__w"))
        .select(col("__q"), (-col("__w.__nid")).as("__id"),
          col("__w.__rel").as("__rel"), lit(step).as("step"))

    var picked = Materialize.eager(pick(c.withColumn("__score", col("__rel")), 1))

    for (step <- 2 to k) {
      val unpicked = c.join(picked.select(col("__q"), col("__id")),
        Seq("__q", "__id"), "left_anti")
      // max similarity of each unpicked candidate to the picked set
      val maxsim = s
        .join(picked.select(col("__q"), col("__id").as("__b")),
          Seq("__q", "__b"))
        .groupBy(col("__q"), col("__a"))
        .agg(max(col("__sim")).as("__maxsim"))
        .withColumnRenamed("__a", "__id")
      val scored = unpicked
        .join(maxsim, Seq("__q", "__id"), "left")
        // candidates disjoint from every pick (no sim row) diversify freely
        .withColumn("__score",
          col("__rel") - coalesce(col("__maxsim"), lit(0L)))
      val next = Materialize.eager(picked.unionByName(pick(scored, step)))
      Materialize.release(picked)
      picked = next
    }
    picked.select(col("__q").as(qCol), col("__id").as(idCol),
      col("__rel").as(relCol), col("step"))
  }
}
