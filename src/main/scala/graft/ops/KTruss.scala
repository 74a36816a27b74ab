package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss peeling over an undirected edge list — the edge-grained
  * cohesion filter (every surviving edge sits in ≥ k−2 triangles OF THE
  * SURVIVING GRAPH; Cohen 2008). The vertex-grained sibling is
  * [[KCore]]; a truss is the stronger demand — a star hub survives a
  * k-core but no truss, because its edges close no triangles.
  *
  * Scale shape — the wedge join runs ONCE, ever: [[Triangles.enumerate]]
  * pays the O(m^1.5) degree-ordered enumeration up front and the
  * triangle list is checkpointed; every peel round is then
  * [[Triangles.peelTriangles]] (drop triangles touching a removed edge)
  * + [[Triangles.edgeSupportOf]] (re-group the survivors) —
  * O(#triangles) equi-join work, valid because edge removal can only
  * DESTROY triangles, never create them. Full peeling runs tens of
  * rounds on real graphs; under re-enumeration each round would repeat
  * the O(m^1.5) join (the shape q220 had before round 10, measured
  * 0.709 → 0.212 s per round at sf0.1).
  *
  * `k >= 3`: a 2-truss (k−2 = 0) is the whole graph including
  * triangle-less edges, which this operator — tracking only edges that
  * appear in triangles — deliberately does not model.
  */
object KTruss {

  /** Triangle-count threshold at or below which peel rounds run on the
    * DRIVER over the collected triangle list (the
    * [[ConnectedComponents]] driver-union-find convention: the peel
    * recurrence is a pure function of the bounded triangle list — a
    * 1M-triangle list is ~24 MB — while every distributed round pays
    * scheduled micro-stages). Both paths compute the identical integer
    * recurrence (spec-pinned); the distributed loop remains the path
    * for graphs whose triangle list genuinely doesn't fit one machine.
    * Set 0 to force the distributed path (the scale-probe convention).
    */
  val defaultDriverThreshold: Long = 1L << 20

  private def canonEdge(x: Long, y: Long): (Long, Long) =
    if (x <= y) (x, y) else (y, x)

  private def driverSupportOf(tris: Array[(Long, Long, Long)])
      : scala.collection.mutable.HashMap[(Long, Long), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    tris.foreach { case (u, v, w) =>
      m.updateWith(canonEdge(u, v))(c => Some(c.getOrElse(0L) + 1L))
      m.updateWith(canonEdge(u, w))(c => Some(c.getOrElse(0L) + 1L))
      m.updateWith(canonEdge(v, w))(c => Some(c.getOrElse(0L) + 1L))
    }
    m
  }

  private def driverPeelOnce(tris: Array[(Long, Long, Long)],
                             removed: scala.collection.Set[(Long, Long)])
      : Array[(Long, Long, Long)] =
    tris.filterNot { case (u, v, w) =>
      removed(canonEdge(u, v)) || removed(canonEdge(u, w)) ||
        removed(canonEdge(v, w))
    }

  /** Long-id triangle collect for the driver path; None when the id
    * columns aren't Long (the distributed path handles any type).
    */
  private def collectLongTriangles(tri: DataFrame)
      : Option[Array[(Long, Long, Long)]] = {
    val lt = org.apache.spark.sql.types.LongType
    if (tri.schema.fields.take(3).forall(_.dataType == lt))
      Some(tri.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    else None
  }

  private def supportFrame(spark: org.apache.spark.sql.SparkSession,
                           sup: Iterable[((Long, Long), Long)]): DataFrame =
    spark.createDataFrame(
        sup.map { case ((a, b), s) => (a, b, s) }.toSeq)
      .toDF("a", "b", "support")

  /** FIXED `rounds` of peeling at threshold k (the q124/q134/q168
    * fixed-round convention: constant job count, exactly replayable as
    * unrolled CTEs — q220's oracle). `rounds = 2` is precisely q220's
    * contract: support → remove (< k−2) → support, then the final
    * ≥ k−2 filter. A fixed-round peel is a SUPERSET of the true
    * k-truss; callers needing the fixed point use [[fixpoint]].
    *
    * Below `driverThreshold` triangles the rounds run on the driver
    * (see [[defaultDriverThreshold]]); the one-time enumeration is
    * distributed either way.
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int,
           driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    require(k >= 3 && rounds >= 1, s"need k >= 3, rounds >= 1, got $k, $rounds")
    val need = (k - 2).toLong
    val tri0 = Materialize.lazily(Triangles.enumerate(edges, srcCol, dstCol))
    val nTri = tri0.count()
    if (nTri <= driverThreshold) {
      collectLongTriangles(tri0) match {
        case Some(arr0) =>
          Materialize.release(tri0)
          var tris = arr0
          var support = driverSupportOf(tris)
          var r = 1
          while (r < rounds) {
            val removed =
              support.iterator.filter(_._2 < need).map(_._1).toSet
            tris = driverPeelOnce(tris, removed)
            support = driverSupportOf(tris)
            r += 1
          }
          return supportFrame(edges.sparkSession,
            support.filter(_._2 >= need))
        case None => // non-Long ids: distributed below
      }
    }
    var tri = tri0
    var support = Triangles.edgeSupportOf(tri)
    var r = 1
    while (r < rounds) {
      val removed = support.filter(col("support") < need)
        .select(col("a"), col("b"))
      val next = Materialize.eager(Triangles.peelTriangles(tri, removed))
      Materialize.release(tri)
      tri = next
      support = Triangles.edgeSupportOf(tri)
      r += 1
    }
    support.filter(col("support") >= need)
  }

  /** Fixpoint result: `edges` is the exact k-truss when `converged`,
    * else the superset the `maxRounds` cap stopped at — the caller can
    * tell the two apart instead of silently trusting a capped run.
    * `rounds` counts peel rounds executed including the final
    * no-removal round that witnessed convergence (so a graph already
    * at its truss reports rounds = 1).
    */
  final case class FixpointResult(edges: DataFrame, converged: Boolean,
                                  rounds: Int)

  /** Peel to the k-truss FIXED POINT: rounds run until no edge falls
    * below k−2, capped at `maxRounds` as a runaway backstop (shell
    * depth of real similarity graphs is single-digit; the cap returns
    * the current superset, same convention as [[KCore.peel]]). On
    * convergence the result is the exact k-truss edge set with its
    * in-truss support.
    *
    * At or below `driverThreshold` triangles (after the one-time
    * distributed enumeration) the peel rounds run on the DRIVER over
    * the collected list — the [[ConnectedComponents]] driver-fallback
    * convention, measured both ways in SCALING.md round-12. The
    * distributed loop below is the path for triangle lists that don't
    * fit one machine; its job shape per removal round: ONE Spark job. Both the peeled
    * triangle list and its support re-group are pinned with
    * [[Materialize.lazily]] (lineage truncation keeps the plan
    * constant-size across tens of rounds, storage is the plain RDD
    * cache — cheaper than `persist()`'s columnar re-encode), and the
    * below-threshold `count` that decides convergence is the job that
    * materializes them: scanning the support RDD computes its parent
    * (the peeled triangle RDD), and the persistence layer caches both
    * as they stream past. The round-11 shape paid three jobs here —
    * two eager checkpoints plus a separate `isEmpty` probe. The final
    * no-removal round costs zero jobs: its below-count was already
    * computed when its support materialized. A round's frames are
    * released once the next round's count has materialized its own.
    *
    * Loop shuffle width: a fixpoint loop re-plans its shuffles every
    * round at the SESSION width, but iterates a frame whose size is
    * known after the one-time enumeration — when that frame is small,
    * tens of rounds × full-width micro-stages is pure scheduling
    * overhead (measured: 32→8 initial partitions cut the 81-round
    * depth probe ~25% on 32 cores; AQE coalesces the reduce side but
    * the initial width still prices planning and map tasks). So the
    * loop body runs under a scoped `spark.sql.shuffle.partitions`
    * override sized from the measured triangle count (~10K
    * triangles/partition), CAPPED at the session value — at real
    * graph scale (billions of triangles) the formula saturates the
    * cap and the override is a no-op. The override is restored in a
    * `finally`; it assumes the session plans one query at a time
    * while the loop runs (the suite's execution convention — same
    * assumption every driver-side iterative operator here makes).
    * AQE itself must stay ON: disabling it for the loop measured
    * 3-4× SLOWER (the per-round tiny-side joins lean on AQE's
    * runtime broadcast conversion).
    */
  def fixpointState(edges: DataFrame, srcCol: String, dstCol: String,
                    k: Int, maxRounds: Int = 64,
                    driverThreshold: Long = defaultDriverThreshold)
      : FixpointResult = {
    require(k >= 3 && maxRounds >= 1,
      s"need k >= 3, maxRounds >= 1, got $k, $maxRounds")
    val need = (k - 2).toLong
    var tri = Materialize.lazily(Triangles.enumerate(edges, srcCol, dstCol))
    val spark = edges.sparkSession
    val nTri = tri.count() // materializes the checkpoint; bounded scalar
    if (nTri <= driverThreshold) {
      collectLongTriangles(tri) match {
        case Some(arr0) =>
          Materialize.release(tri)
          // driver peel: the identical recurrence over the collected
          // bounded triangle list — tens of rounds with zero scheduled
          // jobs (measured: the 81-round nChain-160 probe drops from
          // ~35 s of distributed micro-stages to sub-second)
          var tris = arr0
          var support = driverSupportOf(tris)
          var nBelow = support.valuesIterator.count(_ < need)
          var r = 0
          var converged = false
          while (!converged && r < maxRounds) {
            if (nBelow == 0L) converged = true
            else {
              val removed =
                support.iterator.filter(_._2 < need).map(_._1).toSet
              tris = driverPeelOnce(tris, removed)
              support = driverSupportOf(tris)
              nBelow = support.valuesIterator.count(_ < need)
            }
            r += 1
          }
          return FixpointResult(
            supportFrame(spark, support.filter(_._2 >= need)),
            converged, r)
        case None => // non-Long ids: distributed below
      }
    }
    var support = Materialize.lazily(Triangles.edgeSupportOf(tri))
    var nBelow = support.filter(col("support") < need).count()
    val spKey = "spark.sql.shuffle.partitions"
    val sessionSp =
      try spark.conf.get(spKey).toInt catch { case _: Throwable => 200 }
    val loopSp = math.max(1L, math.min(sessionSp.toLong,
      nTri / 10000L + 1L)).toInt
    var r = 0
    var converged = false
    if (loopSp < sessionSp) spark.conf.set(spKey, loopSp)
    try {
      while (!converged && r < maxRounds) {
        if (nBelow == 0L) converged = true
        else {
          val removed = support.filter(col("support") < need)
            .select(col("a"), col("b"))
          val done = Seq(tri, support)
          tri = Materialize.lazily(Triangles.peelTriangles(tri, removed))
          support = Materialize.lazily(Triangles.edgeSupportOf(tri))
          nBelow = support.filter(col("support") < need).count()
          Materialize.release(done: _*)
        }
        r += 1
      }
    } finally if (loopSp < sessionSp) spark.conf.set(spKey, sessionSp)
    // the materialized support no longer reads the triangle list
    Materialize.release(tri)
    FixpointResult(support.filter(col("support") >= need), converged, r)
  }

  /** Known-depth 4-truss peel harness: an edge list whose fixpoint peel
    * takes a PREDICTABLE number of rounds — the fixture q355 and the
    * depth-vs-cost probe are built on. Construction (vertices are
    * `base + i`):
    *
    *  - a chain w_0..w_n (`n = nChain`) of chain edges (w_i, w_{i+1})
    *    and skip edges (w_i, w_{i+2});
    *  - two anchor PAIRS, one per parity: (g_e1, g_e2) attached to every
    *    EVEN w, (g_o1, g_o2) attached to every ODD w (anchor ids are
    *    base+n+1 .. base+n+4).
    *
    * Supports under k = 4 (need ≥ 2): a chain edge joins opposite
    * parities, so it gets NO anchor triangle — its only triangles are
    * the two strip triangles with w_{i−1} and w_{i+2}, i.e. support
    * exactly 2 interior and exactly 1 at the two chain ends. A skip
    * edge joins the SAME parity, so its shared anchor pair contributes
    * two triangles on top of the strip one (support 3, never peeled;
    * 2 after its strip triangle dies). Attach and anchor edges sit at
    * ≥ 2 via each other and the skips. Hence round 1 removes exactly
    * the two end chain edges, each removal drops the NEXT chain edge
    * from 2 to 1, and the peel cascades inward one edge per round from
    * both ends: ⌈nChain/2⌉ removal rounds + the final no-removal round,
    * e.g. nChain = 16 converges in exactly 9 rounds. The fixpoint truss
    * is the anchor scaffold: all skip, attach, and anchor edges; every
    * chain edge is peeled.
    */
  def cascadeHarness(nChain: Int, base: Long): Seq[(Long, Long)] = {
    require(nChain >= 4 && nChain % 2 == 0,
      s"even nChain >= 4 required, got $nChain")
    def w(i: Int) = base + i
    val Seq(ge1, ge2, go1, go2) = (1 to 4).map(j => base + nChain + j)
    val chain = (0 until nChain).map(i => (w(i), w(i + 1)))
    val skip = (0 to nChain - 2).map(i => (w(i), w(i + 2)))
    val attach = (0 to nChain).flatMap { i =>
      if (i % 2 == 0) Seq((w(i), ge1), (w(i), ge2))
      else Seq((w(i), go1), (w(i), go2))
    }
    chain ++ skip ++ attach ++ Seq((ge1, ge2), (go1, go2))
  }

  /** [[fixpointState]] keeping only the edge frame; a capped
    * (non-converged) run is still detectable — it warns on stderr
    * rather than silently returning the superset.
    */
  def fixpoint(edges: DataFrame, srcCol: String, dstCol: String,
               k: Int, maxRounds: Int = 64): DataFrame = {
    val res = fixpointState(edges, srcCol, dstCol, k, maxRounds)
    if (!res.converged)
      System.err.println(s"[ktruss] fixpoint hit maxRounds=$maxRounds " +
        s"without converging; result is a SUPERSET of the $k-truss")
    res.edges
  }
}
