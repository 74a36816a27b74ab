package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed HITS (Kleinberg's hubs & authorities) over an edge list,
  * in the same scaled-integer discipline as [[PageRank]].
  *
  * Update rule, max-normalized so every score stays on the integer grid
  * `0..scale`:
  *
  *   authRaw(v) = Σ_{u→v} hub(u)          (exact: decimal sum)
  *   auth(v)    = (authRaw · scale) div max_w authRaw(w)
  *   hubRaw(u)  = Σ_{u→v} auth(v)
  *   hub(u)     = (hubRaw · scale) div max_w hubRaw(w)
  *
  * Why max-normalization instead of the textbook L2: the L2 norm needs a
  * square root, which is where cross-engine replay dies (libm last-ulp);
  * max-normalization is pure integer arithmetic — sums, one max, one
  * multiply, one floor division — so the result is bit-identical under
  * any partitioning and exactly replayable as unrolled CTEs by the
  * DuckDB oracle, the q116/q178 convention for iterative graph
  * operators. Ranking is unaffected (both norms are monotone rescales).
  *
  * Overflow discipline: the raw sums run in DECIMAL(38,0) (authRaw ≤
  * indeg·scale can exceed int64 at hub fan-in beyond ~9.2e6 with the
  * 1e12 default scale — the same cliff q164 widened past), and the
  * rescale multiplies inside decimal before the integral `div` brings
  * the score back to BIGINT ≤ scale. Headroom: authRaw·scale ≤
  * n·scale² = 1e33 at a billion vertices — 5 decimal digits to spare.
  *
  * Scale shape per iteration: two equi-joins (edges⋈scores), two hash
  * aggregations, two 1-row maxima carried by broadcast cross joins —
  * never a driver round-trip. Job count is a fixed small constant.
  * Per-iteration results are `localCheckpoint`ed (the standard lineage
  * barrier, as in [[PageRank]]/[[ConnectedComponents]]).
  */
object Hits {

  /** Edge-count threshold at or below which the 2·iterations half-steps
    * run on the DRIVER over the collected edge list ([[DriverGraph]],
    * the [[KTruss]] round-12 convention). Each distributed half-step is
    * an edge⋈score join + a decimal sum + a broadcast max + (every
    * other one) an eager localCheckpoint — 8 half-steps of scheduled
    * micro-stages for a bounded-vocabulary graph. The driver replays
    * the IDENTICAL integer recurrence in BigInt (⊇ DECIMAL(38,0);
    * both divisions floor non-negative values) — pinned by HitsSpec's
    * both-path property and ScaleProbe `hits`. Set 0 to force the
    * distributed path.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** The identical HITS recurrence over the collected edge list.
    * Presence bookkeeping mirrors the distributed half-steps exactly:
    * auth rows exist for indeg ≥ 1 vertices, hub rows for outdeg ≥ 1
    * (every edge's endpoint is present on the relevant side, so all
    * edges always contribute), and each max-normalization takes the max
    * over the PRESENT side only. Final output: every vertex, absent
    * scores coalesced to 0 — the distributed output join.
    */
  private def driverRanks(spark: org.apache.spark.sql.SparkSession,
                          g: DriverGraph.DenseGraph,
                          vType: org.apache.spark.sql.types.DataType,
                          iterations: Int, scale: Long): DataFrame = {
    val nv = g.nVerts
    val hasIn = new Array[Boolean](nv)
    val hasOut = new Array[Boolean](nv)
    var j = 0
    while (j < g.nEdges) {
      hasOut(g.src(j)) = true; hasIn(g.dst(j)) = true; j += 1
    }
    val big0 = BigInt(0)
    val bigScale = BigInt(scale)
    /** raw[present] = Σ partner score along the edge, rescaled so
      * max(present) = scale. `fromSrc` picks the half-step direction.
      */
    def halfStep(scores: Array[BigInt], fromSrc: Boolean,
                 present: Array[Boolean]): Array[BigInt] = {
      val raw = Array.fill(nv)(big0)
      var i = 0
      while (i < g.nEdges) {
        if (fromSrc) raw(g.dst(i)) += scores(g.src(i))
        else raw(g.src(i)) += scores(g.dst(i))
        i += 1
      }
      var m = big0
      var v = 0
      while (v < nv) { if (present(v) && raw(v) > m) m = raw(v); v += 1 }
      val out = Array.fill(nv)(big0)
      v = 0
      while (v < nv) {
        if (present(v)) out(v) = raw(v) * bigScale / m
        v += 1
      }
      out
    }
    var hub = Array.fill(nv)(bigScale) // hub₀ = scale for every vertex
    var auth: Array[BigInt] = null
    var iter = 0
    while (iter < iterations) {
      auth = halfStep(hub, fromSrc = true, hasIn)
      hub = halfStep(auth, fromSrc = false, hasOut)
      iter += 1
    }
    val rows = (0 until nv).map { v =>
      org.apache.spark.sql.Row(g.vals(v),
        if (hasIn(v)) auth(v).toLong else 0L,
        if (hasOut(v)) hub(v).toLong else 0L)
    }
    val lt = org.apache.spark.sql.types.LongType
    DriverGraph.vertexFrame(spark, vType, Seq("auth" -> lt, "hub" -> lt), rows)
  }

  /** (v, auth, hub) for every vertex of the simple digraph (self-loops
    * dropped, duplicate edges collapsed). Scores are scaled longs in
    * `0..scale`; at least one vertex has auth = scale and one has
    * hub = scale (the normalization anchors).
    *
    * At or below `driverThreshold` edges (counted after the one-time
    * distributed dedup) the half-steps run on the driver — see
    * [[defaultDriverThreshold]].
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 4,
            scale: Long = 1000000000000L,
            driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(iterations >= 1 && scale > 0,
      s"need iterations >= 1 and scale > 0, got $iterations, $scale")
    Materialize.scoped(edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s") =!= col("d")).distinct()) { e =>
      /** One half-step: raw = Σ over `joinKey` of the partner score along
        * the edge, then rescale to max = `scale`. outKey is the grouped
        * (receiving) endpoint. Zero-score vertices are simply ABSENT from
        * the intermediate result — they contribute nothing to the next
        * half-step's inner join, so the full vertex set (with coalesced
        * zeros) is restored only once, in the final output join; carrying
        * it through every half-step cost one extra join × 8 half-steps in
        * the first cut of this operator.
        */
      def halfStep(scores: DataFrame, scoreCol: String,
                   joinKey: String, outKey: String,
                   outCol: String): DataFrame = {
        val raw = e
          .join(scores.select(col("v").as(joinKey), col(scoreCol)), joinKey)
          .groupBy(col(outKey).as("v"))
          .agg(sum(col(scoreCol).cast("decimal(38,0)")).as("__raw"))
        val m = raw.agg(max(col("__raw")).as("__m"))
        raw.crossJoin(m)
          .select(col("v"), expr(s"(__raw * ${scale}L) div __m").as(outCol))
      }

      // loud-by-design on an empty graph: the max-normalization divides by
      // the largest raw score, which only exists when there is ≥ 1 edge.
      val nE = e.count()
      require(nE > 0, "HITS over an empty graph")
      if (driverThreshold > 0 && nE <= driverThreshold)
        driverRanks(edges.sparkSession,
          new DriverGraph.DenseGraph(e.collect()),
          e.schema("s").dataType, iterations, scale)
      else Materialize.scoped(e.select(col("s").as("v"))
          .union(e.select(col("d").as("v"))).distinct()) { verts =>
        // intermediate auths feed exactly one consumer (the hub half-step
        // of the same iteration), so only the LAST auth — referenced by
        // both the final hub step and the output join — is checkpointed;
        // hub checkpoints every iteration, keeping lineage depth at two
        // half-steps. (Checkpointing both halves measured 3.8 s at sf0.1
        // vs 2.6 s for this shape — eager materializations, not plans.)
        val (hub0, _) = Materialize.iterate(
            verts.withColumn("hub", lit(scale)), iterations - 1) { hub =>
          halfStep(halfStep(hub, "hub", "s", "d", "auth"),
            "auth", "d", "s", "hub")
        }
        val auth = Materialize.eager(halfStep(hub0, "hub", "s", "d", "auth"))
        val hub = Materialize.eager(halfStep(auth, "auth", "d", "s", "hub"))
        Materialize.release(hub0)
        // materialized (|V| rows) BEFORE the scopes release e/verts — a
        // lazy result over released parents fails at evaluation time
        val out = Materialize.eager(verts
          .join(auth, Seq("v"), "left")
          .join(hub, Seq("v"), "left")
          .select(col("v"),
            coalesce(col("auth"), lit(0L)).as("auth"),
            coalesce(col("hub"), lit(0L)).as("hub")))
        Materialize.release(auth, hub)
        out
      }
    }
  }
}
