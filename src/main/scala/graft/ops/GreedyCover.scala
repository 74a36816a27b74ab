package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage selection: per group, pick `k` items one at a
  * time, each maximizing the number of tokens NOT yet covered by earlier
  * picks — the classic (1−1/e)-approximate submodular greedy, and the
  * standard shape of coverage-driven training-data curation ("choose the
  * few documents that span the vocabulary / topic space").
  *
  * Determinism: gains are integer counts and ties break to the smallest
  * item id (the [[Mmr]] max-of-struct argmax), so the selection is exact,
  * partition-order-free, and replayable by another engine as k unrolled
  * argmax CTEs.
  *
  * Scale shape: the (item, token) incidence explodes ONCE and is pinned;
  * each of the k rounds is two anti-joins (drop picked items, drop covered
  * tokens) plus a combinable count aggregation and a combinable
  * max-of-struct argmax per group — all hash-partitioned, nothing driver-
  * resident, groups proceed in parallel. `localCheckpoint` cuts lineage
  * growth per round (the [[PageRank]] discipline). k is a small constant,
  * so the job count is bounded and independent of corpus size.
  */
object GreedyCover {

  /** (group, item, step, gain): step 1..k in pick order, gain = newly
    * covered tokens at that pick. Groups with fewer than `k` items yield
    * as many steps as they have items (gain 0 picks are eligible — the
    * caller asked for k representatives, not k nonzero gains). `idCol`
    * must be numeric (the negated-id tiebreak, as in [[Mmr]]).
    */
  def select(items: DataFrame, gCol: String, idCol: String, toksCol: String,
             k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val base = items.select(col(gCol).as("__g"), col(idCol).as("__id"),
      array_distinct(col(toksCol)).as("__ts"))
    val ex = Materialize.eager(base
      .select(col("__g"), col("__id"), explode(col("__ts")).as("__t")))
    // The eligible-item list must come from `base`, not `ex` (zero-token
    // items have no explode rows but stay pickable) — pinned ONCE: deriving
    // it lazily re-scanned the source corpus in every round's argmax
    // (round-9 measured scan audit: k=4 cost 9 corpus scans; now 2 — this
    // pin and the `ex` pin).
    val ids = Materialize.eager(base.select(col("__g"), col("__id")))
    try {
      var covered = Materialize.eager(ex.select(col("__g"), col("__t")).limit(0))
      var picked: DataFrame = null
      for (step <- 1 to k) {
        def unpicked(df: DataFrame): DataFrame =
          if (picked == null) df
          else df.join(picked.select(col("__g"), col("__id")),
            Seq("__g", "__id"), "left_anti")
        val gains = unpicked(ex)
          .join(covered, Seq("__g", "__t"), "left_anti")
          .groupBy(col("__g"), col("__id")).agg(count(lit(1)).as("__gain"))
        // fully-covered items produce no gain row but stay eligible
        val all = unpicked(ids)
          .join(gains, Seq("__g", "__id"), "left")
          .withColumn("__gain", coalesce(col("__gain"), lit(0L)))
        val pick = all.groupBy(col("__g"))
          .agg(max(struct(col("__gain"), (-col("__id")).as("__nid")))
            .as("__w"))
          .select(col("__g"), (-col("__w.__nid")).as("__id"),
            col("__w.__gain").as("__gain"), lit(step).as("step"))
        val next = Materialize.eager(
          if (picked == null) pick else picked.unionByName(pick))
        if (picked != null) Materialize.release(picked)
        picked = next
        // read this round's pick back from the CHECKPOINT: the lazy `pick`
        // frame re-runs the whole argmax derivation when the covered-set
        // update below materializes (the second of the two per-round
        // replays the measured audit caught)
        val pickNow = picked.filter(col("step") === lit(step))
        val nextCovered = Materialize.eager(covered.unionByName(
            ex.join(pickNow.select(col("__g"), col("__id")),
              Seq("__g", "__id"))
              .select(col("__g"), col("__t")))
          .distinct())
        Materialize.release(covered)
        covered = nextCovered
      }
      Materialize.release(covered)
      picked.select(col("__g").as(gCol), col("__id").as(idCol),
        col("step"), col("__gain").as("gain"))
    } finally Materialize.release(ex, ids)
  }
}
