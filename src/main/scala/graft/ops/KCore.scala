package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling over an undirected edge list.
  *
  * The k-core of a graph is the maximal subgraph in which every vertex
  * has degree ≥ k; the standard distributed route is synchronous parallel
  * peeling — each round drops every vertex whose CURRENT degree is < k —
  * which converges to the exact k-core in at most |V| rounds and in
  * practice in a handful (each round peels a whole "shell" at once).
  *
  * This operator runs a FIXED `rounds` of peeling (the q124/q134/q168
  * convention for iterative operators): the job count is a small constant
  * independent of data size — no driver-side convergence `count()` loop —
  * and the recurrence is pure integer arithmetic (degree counts,
  * comparisons), so the result is partitioning-independent and exactly
  * replayable as unrolled CTEs by the DuckDB oracle. A fixed-round peel
  * is a SUPERSET of the true k-core (vertices not yet peeled); callers
  * needing the fixed point raise `rounds` — the shell depth of real
  * corpora co-occurrence graphs is single-digit.
  *
  * Scale shape: the EDGE LIST IS NEVER REWRITTEN — it is symmetrized,
  * de-duplicated and pinned once, and each round restricts it with two
  * semi-joins against the LIVE VERTEX SET (|V| rows, broadcast-sized in
  * any graph whose vertex set fits the usual dimension budget) before one
  * map-side-combinable degree count (the shuffle carries ≤ |V| partial
  * rows per partition, not |E|). Only the live set — the small side —
  * is `localCheckpoint`ed per round. The first cut of this operator
  * checkpointed the restricted EDGE list each round instead and measured
  * 7.1 s at sf0.1 vs 2.3 s for this shape — materializing |E| rows per
  * round is the avoidable cost.
  */
object KCore {

  /** Edge-count threshold at or below which the peel rounds run on the
    * DRIVER over the collected symmetric edge list (the [[KTruss]]
    * round-12 convention, via [[DriverGraph]]): each distributed round
    * costs two semi-joins + a degree agg + an eager localCheckpoint —
    * scheduled micro-stages whose wall-clock at local scale dwarfs the
    * integer peel itself. Both paths compute the identical recurrence
    * (KCoreSpec both-path pin + ScaleProbe `kcore`); the distributed
    * loop remains the path for edge lists that don't fit one machine.
    * Set 0 to force the distributed path.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** The identical peel recurrence over the collected edge list:
    * live₀ = all endpoints; liveᵣ₊₁ = {v live: #live-neighbors ≥ k};
    * output = (v, deg) for live v with ≥ 1 live neighbor — exactly the
    * distributed `liveDegrees(live)` rows (a live vertex with zero live
    * neighbors has no degree row there either).
    */
  /** Peel over the CANONICAL (min, max) edge list — each undirected edge
    * once; a live edge contributes one degree to BOTH endpoints (exactly
    * the two rows the former symmetric list carried).
    */
  private def driverPeel(spark: org.apache.spark.sql.SparkSession,
                         g: DriverGraph.DenseGraph,
                         vType: org.apache.spark.sql.types.DataType,
                         k: Int, rounds: Int): DataFrame = {
    val nv = g.nVerts
    val live = Array.fill(nv)(true)
    val deg = new Array[Long](nv)
    def computeDeg(): Unit = {
      java.util.Arrays.fill(deg, 0L)
      var j = 0
      while (j < g.nEdges) {
        if (live(g.src(j)) && live(g.dst(j))) {
          deg(g.src(j)) += 1L
          deg(g.dst(j)) += 1L
        }
        j += 1
      }
    }
    var r = 0
    while (r < rounds) {
      computeDeg()
      var v = 0
      while (v < nv) { live(v) = live(v) && deg(v) >= k; v += 1 }
      r += 1
    }
    computeDeg()
    val rows = (0 until nv).iterator
      .filter(v => live(v) && deg(v) >= 1L)
      .map(v => org.apache.spark.sql.Row(g.vals(v), deg(v)))
      .toSeq
    DriverGraph.vertexFrame(spark, vType,
      Seq("deg" -> org.apache.spark.sql.types.LongType), rows)
  }

  /** Surviving (v, deg) after `rounds` parallel peels at threshold `k`.
    * `bothDirections = true` asserts the input already contains each
    * undirected edge in both orientations (skips the mirror union);
    * otherwise edges are symmetrized internally. Self-loops are dropped,
    * duplicates collapsed; degree = number of distinct live neighbors.
    * Empty input (or a graph that peels away entirely) yields an empty
    * result, not an error.
    *
    * At or below `driverThreshold` edges (counted AFTER the one-time
    * distributed symmetrize+dedup)
    * the peel rounds run on the driver — see [[defaultDriverThreshold]].
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int,
           bothDirections: Boolean = false,
           driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1, got $k, $rounds")
    // Canonical (min, max) edge set (round-13): the former symmetric form
    // carried every undirected edge TWICE through the distinct exchange,
    // the threshold count and the driver collect — canonicalizing first
    // halves all three (measured at q181: 1.16M collected rows → 580k;
    // the mirror of a distinct canonical set is distinct by construction,
    // so the distributed union below needs no second distinct). A
    // bothDirections input is just a doubled multiset of the same
    // canonical edges, so the flag no longer changes the computation and
    // is kept only for caller compatibility.
    val canon = Materialize.eager(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val e = canon.union(canon.select(col("b").as("a"), col("a").as("b")))
    try {
      if (driverThreshold > 0 && 2L * canon.count() <= driverThreshold) {
        val g = new DriverGraph.DenseGraph(canon.collect())
        return driverPeel(edges.sparkSession, g,
          canon.schema("a").dataType, k, rounds)
      }
      def liveDegrees(live: DataFrame): DataFrame = e
        .join(live.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(live.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
      var live = Materialize.eager(e.select(col("a").as("v")).distinct())
      var r = 0
      while (r < rounds) {
        val next = Materialize.eager(
          liveDegrees(live).filter(col("deg") >= k).select(col("v")))
        Materialize.release(live)
        live = next
        r += 1
      }
      // materialize the (≤ |V|-row) result BEFORE releasing canon — a
      // lazy plan over a released canon fails at evaluation time
      val out = Materialize.eager(liveDegrees(live))
      Materialize.release(live)
      out
    } finally Materialize.release(canon)
  }
}
