package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list, in scaled-integer (fixed-point)
  * arithmetic.
  *
  * Why fixed point instead of doubles: each update is
  *
  *   pr'(v) = base + (dampNum * (Σ_in pr(u) div outDeg(u) + danglingShare))
  *                   div dampDen
  *
  * — a SUM of longs plus integer floor-divisions. Long addition is
  * associative and commutative, so the result is bit-identical under any
  * partitioning, shuffle order, or AQE re-plan, and exactly replayable by
  * any other engine (the conventional double formulation drifts in the
  * last ulp with summation order, which breaks exact-value verification
  * and makes reruns non-reproducible at cluster scale). Floor truncation
  * drops < 1 scaled unit per (edge + vertex) per hop — relative error
  * ~1e-12 at the default scale of 1e12, far below anything that could
  * reorder ranks.
  *
  * Damping is the rational dampNum/dampDen (default 17/20 = 0.85) so the
  * damp multiply stays integral too.
  *
  * Scale shape: per iteration, one equi-join pr⋈outDeg on the source
  * vertex, one equi-join onto the edge list, one hash aggregation on the
  * destination, and a 1-row cross join carrying the dangling mass (never
  * a driver round-trip). Edge list and degrees are pinned once;
  * per-iteration results are eagerly `localCheckpoint`ed — the standard
  * lineage barrier for iterative DataFrame algorithms (same device as
  * [[ConnectedComponents]]; without it Catalyst re-analysis grows with
  * the unrolled plan). Iteration count is a fixed small constant, so the
  * job count is bounded and independent of data size.
  *
  * Dangling vertices (no out-edges) donate their mass uniformly:
  * danglingShare = (Σ_dangling pr) div N, matching the standard
  * teleport-to-all treatment.
  */
object PageRank {

  /** Edge-count threshold at or below which the rank iterations run on
    * the DRIVER over the collected edge list ([[DriverGraph]], the
    * [[KTruss]] round-12 convention): each distributed iteration is
    * two equi-joins + a hash agg + a 1-row cross join + an eager
    * localCheckpoint — scheduled micro-stages for a bounded graph.
    * The recurrence is pure long arithmetic (sums + integral
    * divisions, Java semantics on both paths), so driver and
    * distributed results are bit-identical — pinned by PageRankSpec's
    * both-path properties. Set 0 to force the distributed loop.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** The identical fixed-point recurrence over the collected edge
    * list. Presence bookkeeping mirrors the distributed joins: contrib
    * rows exist only for indeg ≥ 1 vertices (coalesced to 0), dangling
    * mass comes from vertices with no out-edges, every vertex gets a
    * rank row every iteration.
    */
  private def driverRanks(spark: org.apache.spark.sql.SparkSession,
                          g: DriverGraph.DenseGraph,
                          vType: org.apache.spark.sql.types.DataType,
                          iterations: Int, dampNum: Long, dampDen: Long,
                          scale: Long): DataFrame = {
    val nv = g.nVerts
    require(nv > 0, "PageRank over an empty graph")
    val n = nv.toLong
    val p0 = scale / n
    val base = ((dampDen - dampNum) * p0) / dampDen
    val outDeg = new Array[Long](nv)
    var j = 0
    while (j < g.nEdges) { outDeg(g.src(j)) += 1L; j += 1 }
    var pr = Array.fill(nv)(p0)
    var iter = 0
    while (iter < iterations) {
      val cin = new Array[Long](nv)
      val c = new Array[Long](nv) // per-source donated share, pr div deg
      var v = 0
      while (v < nv) { if (outDeg(v) > 0) c(v) = pr(v) / outDeg(v); v += 1 }
      var i = 0
      while (i < g.nEdges) { cin(g.dst(i)) += c(g.src(i)); i += 1 }
      var dang = 0L
      v = 0
      while (v < nv) { if (outDeg(v) == 0L) dang += pr(v); v += 1 }
      val dShare = dang / n
      val next = new Array[Long](nv)
      v = 0
      while (v < nv) {
        next(v) = base + (dampNum * (cin(v) + dShare)) / dampDen
        v += 1
      }
      pr = next
      iter += 1
    }
    DriverGraph.vertexFrame(spark, vType,
      Seq("pr" -> org.apache.spark.sql.types.LongType),
      (0 until nv).map(v => org.apache.spark.sql.Row(g.vals(v), pr(v))))
  }

  /** (v, pr) for every vertex of the graph; `pr` is the scaled-integer
    * rank (initial mass = scale div N per vertex). Self-loops are
    * dropped and duplicate edges collapsed, so an unweighted simple
    * directed graph is what gets ranked.
    *
    * At or below `driverThreshold` edges (counted after the one-time
    * distributed dedup) the iterations run on the driver — see
    * [[defaultDriverThreshold]].
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 4,
            dampNum: Long = 17L, dampDen: Long = 20L,
            scale: Long = 1000000000000L,
            driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(iterations >= 1 && dampNum > 0 && dampNum < dampDen,
      s"need iterations >= 1 and 0 < dampNum < dampDen, got " +
        s"$iterations, $dampNum/$dampDen")
    val e = Materialize.eager(edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s") =!= col("d")).distinct())
    try {
      if (driverThreshold > 0 && e.count() <= driverThreshold)
        return driverRanks(edges.sparkSession,
          new DriverGraph.DenseGraph(e.collect()),
          e.schema("s").dataType, iterations, dampNum, dampDen, scale)
      val verts = Materialize.eager(e.select(col("s").as("v"))
        .union(e.select(col("d").as("v"))).distinct())
      val outDeg = Materialize.eager(
        e.groupBy(col("s").as("v")).agg(count(lit(1)).as("__deg")))
      try {
        // N is the one driver scalar (bounded bookkeeping); p0/base are the
        // same integer expressions the oracle derives from ITS count — equal
        // because both count the same graph.
        val n = verts.count()
        require(n > 0, "PageRank over an empty graph")
        val p0 = scale / n
        val base = ((dampDen - dampNum) * p0) / dampDen
        var pr = Materialize.eager(verts.withColumn("pr", lit(p0)))
        var iter = 0
        while (iter < iterations) {
          val contribs = e
            .join(pr.join(outDeg, "v")
                .select(col("v").as("s"), expr("pr div __deg").as("__c")),
              "s")
            .groupBy(col("d").as("v")).agg(sum(col("__c")).as("__cin"))
          val dangling = pr.join(outDeg, Seq("v"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("__dang"))
          val next = Materialize.eager(verts
            .join(contribs, Seq("v"), "left")
            .crossJoin(dangling)
            .withColumn("__recv",
              coalesce(col("__cin"), lit(0L)) + expr(s"__dang div ${n}L"))
            .select(col("v"),
              (lit(base) + expr(s"(${dampNum}L * __recv) div ${dampDen}L"))
                .as("pr")))
          Materialize.release(pr)
          pr = next
          iter += 1
        }
        pr
      } finally Materialize.release(verts, outDeg)
    } finally Materialize.release(e)
  }

  /** [[driverRanks]]' weighted twin: contribution per share row is
    * (pr(s) · share) div shareScale — the identical long arithmetic
    * (Java multiply/divide semantics on both paths). Dangling = no
    * share row with this source.
    */
  private def driverRanksWeighted(spark: org.apache.spark.sql.SparkSession,
                                  g: DriverGraph.DenseGraph,
                                  sh: Array[Long],
                                  vType: org.apache.spark.sql.types.DataType,
                                  iterations: Int, dampNum: Long,
                                  dampDen: Long, scale: Long,
                                  shareScale: Long): DataFrame = {
    val nv = g.nVerts
    require(nv > 0, "weighted PageRank over an empty graph")
    val n = nv.toLong
    val p0 = scale / n
    val base = ((dampDen - dampNum) * p0) / dampDen
    val hasOut = new Array[Boolean](nv)
    var j = 0
    while (j < g.nEdges) { hasOut(g.src(j)) = true; j += 1 }
    var pr = Array.fill(nv)(p0)
    var iter = 0
    while (iter < iterations) {
      val cin = new Array[Long](nv)
      var i = 0
      while (i < g.nEdges) {
        cin(g.dst(i)) += (pr(g.src(i)) * sh(i)) / shareScale
        i += 1
      }
      var dang = 0L
      var v = 0
      while (v < nv) { if (!hasOut(v)) dang += pr(v); v += 1 }
      val dShare = dang / n
      val next = new Array[Long](nv)
      v = 0
      while (v < nv) {
        next(v) = base + (dampNum * (cin(v) + dShare)) / dampDen
        v += 1
      }
      pr = next
      iter += 1
    }
    DriverGraph.vertexFrame(spark, vType,
      Seq("pr" -> org.apache.spark.sql.types.LongType),
      (0 until nv).map(v => org.apache.spark.sql.Row(g.vals(v), pr(v))))
  }

  /** Edge-WEIGHTED PageRank in the same fixed-point discipline: vertex u
    * donates mass to v proportionally to w(u,v)/W(u). To keep every
    * product inside signed-64 at ANY weight magnitude, weights are first
    * normalized to per-source integer shares —
    * share(u,v) = (w·shareScale) div W(u), a one-off aggregate+join — and
    * each hop's contribution is (pr · share) div shareScale: with the
    * defaults pr ≤ scale (1e9) and share ≤ shareScale (1e9), so the
    * product is ≤ 1e18 < 2⁶³ no matter how large raw weights grow
    * (guarded by a require, since both are tunable).
    *
    * Truncation bound, stated honestly: each of a vertex's outdeg share
    * floors lose < 1 share unit, so up to outdeg/shareScale of the
    * vertex's donated mass is dropped per hop — 0.01% at fanout 1e5 with
    * the 1e9 default (the earlier 1e6 ppm default lost 10% there and
    * zeroed every share past fanout 1e6, which is why shareScale is now
    * 1e9 at the cost of a coarser pr grid: 1 pr unit = 1e-9 of total
    * mass). For graphs whose max fanout is modest, raise `scale` and
    * lower `shareScale` to trade back; the require keeps the product
    * safe. The recurrence stays pure long arithmetic, so the result is
    * partitioning-independent and exactly replayable as unrolled CTEs.
    * Self-loops are dropped; parallel edges sum their weights; weights
    * must be positive (zero-weight edges are dropped with their mass —
    * filter them out first if that is not intended).
    */
  def ranksWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, iterations: Int = 4,
                    dampNum: Long = 17L, dampDen: Long = 20L,
                    scale: Long = 1000000000L,
                    shareScale: Long = 1000000000L,
                    driverThreshold: Long = defaultDriverThreshold)
      : DataFrame = {
    require(iterations >= 1 && dampNum > 0 && dampNum < dampDen,
      s"need iterations >= 1 and 0 < dampNum < dampDen, got " +
        s"$iterations, $dampNum/$dampDen")
    require(shareScale > 0 && scale > 0 &&
        scale <= Long.MaxValue / shareScale,
      s"pr*share must fit signed-64: scale=$scale shareScale=$shareScale")
    val e0 = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"),
        col(weightCol).cast("long").as("w"))
      .filter(col("s") =!= col("d") && col("w") > 0)
      .groupBy(col("s"), col("d")).agg(sum(col("w")).as("w"))
    val outW = e0.groupBy(col("s")).agg(sum(col("w")).as("__W"))
    // The one-off normalization runs in DECIMAL(38,0) so w·shareScale
    // cannot overflow for any int64 weight; `div` (IntegralDivide)
    // returns BIGINT and share ≤ shareScale, so the per-hop arithmetic
    // below stays pure long.
    val shares = Materialize.eager(e0.join(outW, "s")
      .select(col("s"), col("d"),
        expr(s"(CAST(w AS DECIMAL(38,0)) * ${shareScale}L) div __W")
          .as("__sh")))
    try {
      // Driver fallback (see [[defaultDriverThreshold]]): the one-off
      // share normalization is distributed either way; below threshold
      // the hop recurrence — pure long arithmetic over the share list —
      // runs in memory. Share rows carry (s, d, __sh) so the dense graph
      // collects the weighted edge list directly.
      if (driverThreshold > 0 && shares.count() <= driverThreshold) {
        val rows = shares.collect()
        return driverRanksWeighted(edges.sparkSession,
          new DriverGraph.DenseGraph(rows), rows.map(_.getLong(2)),
          shares.schema("s").dataType, iterations, dampNum, dampDen,
          scale, shareScale)
      }
      val verts = Materialize.eager(shares.select(col("s").as("v"))
        .union(shares.select(col("d").as("v"))).distinct())
      try {
        val n = verts.count()
        require(n > 0, "weighted PageRank over an empty graph")
        val p0 = scale / n
        val base = ((dampDen - dampNum) * p0) / dampDen
        val hasOut = shares.select(col("s").as("v")).distinct()
        var pr = Materialize.eager(verts.withColumn("pr", lit(p0)))
        var iter = 0
        while (iter < iterations) {
          val contribs = shares
            .join(pr.select(col("v").as("s"), col("pr")), "s")
            .select(col("d").as("v"),
              expr(s"(pr * __sh) div ${shareScale}L").as("__c"))
            .groupBy(col("v")).agg(sum(col("__c")).as("__cin"))
          val dangling = pr.join(hasOut, Seq("v"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("__dang"))
          val next = Materialize.eager(verts
            .join(contribs, Seq("v"), "left")
            .crossJoin(dangling)
            .withColumn("__recv",
              coalesce(col("__cin"), lit(0L)) + expr(s"__dang div ${n}L"))
            .select(col("v"),
              (lit(base) + expr(s"(${dampNum}L * __recv) div ${dampDen}L"))
                .as("pr")))
          Materialize.release(pr)
          pr = next
          iter += 1
        }
        pr
      } finally Materialize.release(verts)
    } finally Materialize.release(shares)
  }
}
