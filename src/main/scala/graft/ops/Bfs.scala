package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop BFS distances over an edge list — the reachability /
  * shortest-unweighted-path primitive rounding out the graph family
  * ([[PageRank]], [[Triangles]], connected components in Dedup).
  *
  * Frontier expansion, not full relaxation: round h joins ONLY the vertices
  * first reached at hop h-1 against the edge list, so per-round cost is
  * |frontier ⋈ edges|, and a long-settled million-vertex core is never
  * rejoined (full relaxation re-expands every reached vertex every round —
  * quadratic on hub-and-spoke graphs). The reached set is a min-dist
  * aggregate (combinable), `localCheckpoint` cuts lineage per round, and a
  * drained frontier short-circuits the loop. Distances are exact longs, so
  * results are partition-order-independent.
  */
object Bfs {

  /** Edge-count threshold at or below which the frontier expansion runs
    * on the DRIVER over the collected edge list ([[DriverGraph]], the
    * round-13 convention): each distributed hop is a frontier⋈edges
    * join + a distinct + an anti-join + two eager localCheckpoints —
    * per-hop scheduled micro-stages whose count grows with graph
    * diameter. Distances are integers, so the driver layer-expansion is
    * exact (BfsSpec both-path pin). Set 0 to force the distributed path.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** The identical layered expansion over the collected edge list:
    * dist 0 = the distinct sources (reached whether or not they touch an
    * edge), hop h adds the unreached out-neighbors of layer h-1.
    */
  private def driverKHop(spark: org.apache.spark.sql.SparkSession,
                         g: DriverGraph.DenseGraph,
                         vType: org.apache.spark.sql.types.DataType,
                         vCol: String, maxHops: Int): DataFrame = {
    val nv = g.nVerts
    val dist = Array.fill(nv)(-1L)
    g.extra.foreach(s => dist(s) = 0L)
    var frontier = g.extra.distinct
    var h = 1L
    while (h <= maxHops && frontier.nonEmpty) {
      val inF = new Array[Boolean](nv)
      frontier.foreach(v => inF(v) = true)
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < g.nEdges) {
        if (inF(g.src(i)) && dist(g.dst(i)) < 0L) {
          dist(g.dst(i)) = h
          next += g.dst(i)
        }
        i += 1
      }
      frontier = next.toArray
      h += 1
    }
    val rows = (0 until nv).iterator.filter(dist(_) >= 0L)
      .map(v => org.apache.spark.sql.Row(g.vals(v), dist(v))).toSeq
    DriverGraph.vertexFrame(spark, vType,
      Seq("dist" -> org.apache.spark.sql.types.LongType), rows)
      .withColumnRenamed("v", vCol)
  }

  /** Distances (0..maxHops) from `sources` over DIRECTED edges `(aCol →
    * bCol)`; symmetrize the edge list first for undirected graphs. Returns
    * (vCol, dist) for every vertex reached within `maxHops`.
    *
    * At or below `driverThreshold` edges the expansion runs on the
    * driver — see [[defaultDriverThreshold]].
    */
  def kHopDistances(edges: DataFrame, aCol: String, bCol: String,
                    sources: DataFrame, vCol: String,
                    maxHops: Int,
                    driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops must be >= 0")
    // pin the edge projection ONCE (the ShortestPath discipline): the
    // per-round frontier join otherwise re-runs the caller's whole edge
    // derivation every hop — and rounds grow with the graph, so the
    // round-9 runtime scan audit measured the corpus re-scan count
    // RISING with scale (3 scans at sf0.001 → 5 at sf0.01 on q124)
    Materialize.scoped(edges.select(col(aCol).as("__a"), col(bCol).as("__b"))) { e =>
      // same id type on both frames: the driver map keys by JVM value
      if (driverThreshold > 0 &&
          sources.schema(vCol).dataType == e.schema("__a").dataType &&
          e.count() <= driverThreshold) {
        val srcRows = sources.select(col(vCol)).distinct().collect()
        val g = new DriverGraph.DenseGraph(e.collect(), srcRows)
        driverKHop(edges.sparkSession, g,
          e.schema("__a").dataType, vCol, maxHops)
      } else
        expand(e, sources.select(col(vCol).as("__v")).distinct()
            .withColumn("dist", lit(0L)), Nil, maxHops)
          .select(col("__v").as(vCol), col("dist"))
    }
  }

  /** The distributed frontier expansion, shared with [[MultiBfs]] (whose
    * `keys` = the source column, expanding every source at once): `seeds`
    * holds (keys…, __v, dist = 0), `e` the pinned (__a → __b) edges. Hop h
    * joins only the frontier — the (keys…, __v) first reached at hop h-1 —
    * and keeps what no earlier hop reached; a drained frontier ends the
    * loop. Returns the pinned (keys…, __v, dist) table.
    */
  private[ops] def expand(e: DataFrame, seeds: DataFrame, keys: Seq[String],
                          maxHops: Int): DataFrame = {
    val reached = keys :+ "__v"
    var dist = Materialize.eager(seeds)
    var frontier = dist
    var h = 1L
    while (h <= maxHops && !frontier.isEmpty) {
      val reachedNow = Materialize.eager(frontier.join(e, col("__v") === col("__a"))
        .select(keys.map(col) :+ col("__b").as("__v"): _*).distinct()
        .join(dist.select(reached.map(col): _*), reached, "left_anti")
        .withColumn("dist", lit(h)))
      val grown = Materialize.eager(dist.unionByName(reachedNow))
      Materialize.release(dist, frontier)
      dist = grown
      frontier = reachedNow
      h += 1
    }
    if (frontier ne dist) Materialize.release(frontier)
    dist
  }
}
