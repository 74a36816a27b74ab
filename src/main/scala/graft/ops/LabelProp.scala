package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) — the graph
  * family's structure finder ([[Bfs]] answers reachability,
  * connected components answers connectivity; LPA answers "which densely
  * linked cluster are you in").
  *
  * Determinism: classic LPA breaks score ties randomly and oscillates;
  * here every round is a pure function of the previous labeling — each
  * vertex adopts the label with the highest neighbor count, ties to the
  * LEXICOGRAPHICALLY SMALLEST label — and the round count is fixed, so
  * the result is partition-order-independent and exactly replayable
  * (the q134 oracle unrolls the rounds as CTEs).
  *
  * Scale shape per round: one edge⋈labels equi-join (labels is a
  * |V|-row table), a (vertex, label) count — combinable, a hub's
  * million neighbor labels collapse map-side — then argmax WITHOUT a
  * per-vertex window: max-count per vertex (combinable) + an equi-join
  * back + min-label at the max (combinable). `localCheckpoint` cuts the
  * per-round lineage, the same discipline as [[Bfs]]/[[PageRank]].
  */
object LabelProp {

  /** Edge-count threshold for the driver fallback (the round-13
    * [[DriverGraph]] convention): below it the fixed LPA rounds run in
    * memory over the collected edge list — each distributed round costs
    * two joins + two hash aggregations + an eager localCheckpoint. The
    * adopt rule is exact integer/ordering arithmetic; label ties
    * compare via [[DriverGraph.sparkOrdering]] (UTF8String order for
    * string labels — java.lang.String order would diverge on
    * supplementary characters), and an id type without a replicated
    * ordering falls back to the distributed loop. Pinned by
    * LabelPropSpec's both-path property. Set 0 to force distributed.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** The identical synchronous rounds over the collected edge list:
    * label₀(v) = v; per round each vertex with ≥ 1 in-neighbor adopts
    * the in-neighbor label with the highest count, ties to the smallest
    * label; vertices with no in-neighbors keep their label.
    */
  private def driverCommunities(spark: org.apache.spark.sql.SparkSession,
                                g: DriverGraph.DenseGraph,
                                vType: org.apache.spark.sql.types.DataType,
                                cmp: (Any, Any) => Int,
                                rounds: Int): DataFrame = {
    val nv = g.nVerts
    // label rank = position in Spark-order; comparing ranks ≡ comparing
    // label values (vertex values are distinct by construction)
    val order = (0 until nv).sortWith((x, y) => cmp(g.vals(x), g.vals(y)) < 0)
    val rank = new Array[Int](nv)
    order.zipWithIndex.foreach { case (v, r) => rank(v) = r }
    var labels = Array.tabulate(nv)(identity) // label as a vertex index
    var r = 0
    while (r < rounds) {
      // per destination: counts of in-neighbor labels
      val counts = Array.fill(nv)(
        null: scala.collection.mutable.HashMap[Int, Long])
      var i = 0
      while (i < g.nEdges) {
        val d = g.dst(i)
        if (counts(d) == null)
          counts(d) = scala.collection.mutable.HashMap.empty[Int, Long]
        val lab = labels(g.src(i))
        counts(d)(lab) = counts(d).getOrElse(lab, 0L) + 1L
        i += 1
      }
      val next = labels.clone()
      var v = 0
      while (v < nv) {
        if (counts(v) != null) {
          var bestLab = -1
          var bestC = -1L
          counts(v).foreach { case (lab, c) =>
            if (c > bestC || (c == bestC && rank(lab) < rank(bestLab)))
            { bestLab = lab; bestC = c }
          }
          next(v) = bestLab
        }
        v += 1
      }
      labels = next
      r += 1
    }
    DriverGraph.vertexFrame(spark, vType, Seq("label" -> vType),
      (0 until nv).map(v =>
        org.apache.spark.sql.Row(g.vals(v), g.vals(labels(v)))))
  }

  /** `rounds` synchronous LPA rounds over DIRECTED edges (symmetrize
    * first for undirected graphs). Initial label of a vertex is itself.
    * Returns (vCol, label).
    *
    * At or below `driverThreshold` edges the rounds run on the driver —
    * see [[defaultDriverThreshold]].
    */
  def communities(edges: DataFrame, aCol: String, bCol: String,
                  rounds: Int,
                  driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(rounds >= 0, s"rounds=$rounds must be >= 0")
    // pin the edge projection once — the per-round join otherwise
    // re-runs the caller's edge derivation `rounds`+1 times (the round-9
    // measured scan audit's Bfs finding; same fix)
    val e = Materialize.eager(edges.select(col(aCol).as("__a"), col(bCol).as("__b")))
    try {
      val ordering = DriverGraph.sparkOrdering(e.schema("__a").dataType)
      if (driverThreshold > 0 && ordering.isDefined &&
          e.count() <= driverThreshold) {
        val g = new DriverGraph.DenseGraph(e.collect())
        return driverCommunities(edges.sparkSession, g,
          e.schema("__a").dataType, ordering.get, rounds)
          .select(col("v"), col("label"))
      }
      var labels = Materialize.eager(e.select(col("__a").as("__v"))
        .union(e.select(col("__b")))
        .distinct()
        .withColumn("__lab", col("__v")))
      for (_ <- 1 to rounds) {
        val nbr = e.join(labels, col("__a") === col("__v"))
          .select(col("__b").as("__v"), col("__lab"))
          .groupBy("__v", "__lab").agg(count(lit(1)).as("__c"))
        // argmax in ONE combinable aggregate (max count, min label on
        // ties) — the max + join-back + min form costs an extra exchange
        // and join per round; MaxScoreMinKey folds it into the hash
        // aggregate (semantics pinned identical by LabelPropSpec)
        val adopted = nbr.groupBy("__v").agg(
          graft.functions.ArgExtremum
            .maxScoreMinKey(col("__c"), col("__lab")).as("__new"))
        // a vertex with no in-neighbors keeps its label (only possible on
        // directed input; a symmetrized graph always adopts)
        val next = Materialize.eager(labels.join(adopted, Seq("__v"), "left")
          .select(col("__v"),
            coalesce(col("__new"), col("__lab")).as("__lab")))
        Materialize.release(labels)
        labels = next
      }
      labels.select(col("__v").as("v"), col("__lab").as("label"))
    } finally Materialize.release(e)
  }
}
