package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop single-source shortest paths by Bellman–Ford relaxation,
  * in pure long arithmetic.
  *
  * Why bounded rounds: on a distributed engine the natural shortest-path
  * schedule is synchronous relaxation — each round improves every vertex's
  * tentative distance using its in-edges once. `rounds` rounds yield the
  * exact shortest distances among paths of ≤ `rounds` edges; with
  * rounds ≥ |V|−1 that is the full Bellman–Ford fixpoint. A fixed small
  * round count keeps the job count constant and independent of data size
  * (the same contract as [[PageRank]]), which is what a 100 TB graph needs:
  * convergence-detection loops (`while changed`) put a driver-blocking
  * `count()` in every round; a bounded unrolled plan does not.
  *
  * Exactness: distances are sums of long weights and `min` is a total order
  * on longs, so the result is bit-identical under any partitioning, shuffle
  * order, or AQE re-plan — and exactly replayable by another engine as
  * `rounds` unrolled min-aggregation CTEs (no tolerance gate).
  *
  * Scale shape per round: one equi-join frontier⋈edges hash-partitioned on
  * the source vertex and one min-aggregation hash-partitioned on the
  * destination — both map-side combinable (min is algebraic). The edge list
  * is pinned once; per-round results are eagerly `localCheckpoint`ed,
  * the standard lineage barrier for iterative DataFrame algorithms
  * (without it Catalyst re-analyzes a plan that doubles per round).
  *
  * Negative weights are rejected: with them a bounded-round prefix is not
  * monotone (a longer path can later undercut), so the ≤`rounds`-edges
  * semantics would silently change meaning.
  */
object ShortestPath {

  /** Edge-count threshold for the driver fallback (the round-13
    * [[DriverGraph]] convention): below it the `rounds` Bellman–Ford
    * relaxations — pure long min/add arithmetic, identical on both
    * paths — run in memory over the collected (s, d, w) list instead of
    * paying a join + min-agg + eager localCheckpoint per round. Pinned
    * by ShortestPathSpec's both-path property. Set 0 to force the
    * distributed loop.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** (v, dist) for every vertex reachable from `source` in ≤ `rounds`
    * edges; `dist` is the exact minimum path weight among those paths.
    * `source` must be a 1+-row DataFrame of vertex ids in column `v`
    * (multi-source is the standard trick for forests of seeds — each
    * vertex gets the distance to its NEAREST seed). Parallel edges
    * collapse to their cheapest weight.
    */
  def boundedPaths(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, source: DataFrame,
                   rounds: Int,
                   driverThreshold: Long = defaultDriverThreshold)
      : DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    Materialize.scoped(edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("s"), col("d")).agg(min(col("w")).as("w"))) { e =>
      // fail loud rather than return a silently wrong bounded prefix
      val neg = e.filter(col("w") < 0).limit(1).count()
      require(neg == 0, "boundedPaths requires non-negative edge weights")
      val onDriver: Option[DataFrame] =
        if (driverThreshold > 0 &&
            source.schema("v").dataType == e.schema("s").dataType &&
            e.count() <= driverThreshold) {
          val srcVals = source.select(col("v")).limit(1 << 20).collect()
          if (srcVals.length < (1 << 20)) {
            val eRows = e.collect()
            // dist map over raw vertex VALUES: Bellman–Ford needs no dense
            // renumbering, and keys keep their exact JVM representation
            var dist = scala.collection.mutable.HashMap.empty[Any, Long]
            srcVals.foreach(r => dist(r.get(0)) = 0L)
            var iter = 0
            while (iter < rounds) {
              val next = dist.clone()
              eRows.foreach { r =>
                dist.get(r.get(0)).foreach { ds =>
                  val cand = ds + r.getLong(2)
                  if (next.get(r.get(1)).forall(cand < _))
                    next(r.get(1)) = cand
                }
              }
              dist = next
              iter += 1
            }
            Some(DriverGraph.vertexFrame(edges.sparkSession,
              e.schema("s").dataType,
              Seq("dist" -> org.apache.spark.sql.types.LongType),
              dist.toSeq.map { case (v, d) =>
                org.apache.spark.sql.Row(v, d) }))
          } else None
        } else None
      onDriver.getOrElse(Materialize.iterate(
          source.select(col("v"), lit(0L).as("dist")), rounds) { dist =>
        val relaxed = dist.select(col("v").as("s"), col("dist"))
          .join(e, "s")
          .select(col("d").as("v"), (col("dist") + col("w")).as("dist"))
        dist.unionByName(relaxed)
          .groupBy(col("v")).agg(min(col("dist")).as("dist"))
      }._1)
    }
  }
}
