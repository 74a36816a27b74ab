package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source bounded-hop BFS — [[Bfs]] generalized to carry the source
  * label through the expansion, yielding (src, v, dist) for every source
  * and every vertex within `maxHops` of it. This is the primitive behind
  * closeness/harmonic centrality audits and all-pairs-within-k analyses.
  *
  * Scale shape: identical to [[Bfs]] — frontier-only expansion (round h
  * joins ONLY pairs first reached at h-1 against the edge list), reached
  * set deduped by a combinable (src, v) anti-join, `localCheckpoint` per
  * round, drained frontier short-circuits. The difference is the STATE
  * BOUND: rows = Σ_v |B_k(v)| (the k-ball mass over all sources), not
  * |V|. That is linear on bounded-degree / clustered graphs (a dup-group
  * graph, a similarity graph after LSH) but quadratic on a small-diameter
  * hub graph — callers choose `sources` and `maxHops` accordingly (the
  * [[Knn]] `maxDriverQueries`-style contract: keep sources bounded or the
  * graph sparse; never run this on a social-scale giant component with
  * large k).
  */
object MultiBfs {

  /** Edge-count threshold for the driver fallback (the [[Bfs]]
    * round-13 convention); the driver path additionally requires
    * |sources| × |vertices| ≤ 2²⁴ — the output row bound — since the
    * per-source expansion holds its reached sets in memory. Set 0 to
    * force the distributed loop.
    */
  val defaultDriverThreshold: Long = DriverGraph.defaultEdgeThreshold

  /** Per-source layered expansion over the collected edge list —
    * [[Bfs.kHopDistances]]'s recurrence once per source (CSR adjacency,
    * so each source costs its k-ball, not |E| per hop).
    */
  private def driverPerSource(spark: org.apache.spark.sql.SparkSession,
                              g: DriverGraph.DenseGraph,
                              vType: org.apache.spark.sql.types.DataType,
                              vCol: String, maxHops: Int): DataFrame = {
    val nv = g.nVerts
    // CSR out-adjacency
    val degs = new Array[Int](nv)
    var i = 0
    while (i < g.nEdges) { degs(g.src(i)) += 1; i += 1 }
    val offs = new Array[Int](nv + 1)
    i = 0
    while (i < nv) { offs(i + 1) = offs(i) + degs(i); i += 1 }
    val adj = new Array[Int](g.nEdges)
    val fill = offs.clone()
    i = 0
    while (i < g.nEdges) {
      adj(fill(g.src(i))) = g.dst(i); fill(g.src(i)) += 1; i += 1
    }
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val dist = Array.fill(nv)(-1L)
    val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
    g.extra.distinct.foreach { s =>
      dist(s) = 0L; touched += s
      rows += org.apache.spark.sql.Row(g.vals(s), g.vals(s), 0L)
      var frontier = Array(s)
      var h = 1L
      while (h <= maxHops && frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuffer.empty[Int]
        frontier.foreach { v =>
          var j = offs(v)
          while (j < offs(v + 1)) {
            val d = adj(j)
            if (dist(d) < 0L) {
              dist(d) = h; touched += d; next += d
              rows += org.apache.spark.sql.Row(g.vals(s), g.vals(d), h)
            }
            j += 1
          }
        }
        frontier = next.toArray
        h += 1
      }
      touched.foreach(v => dist(v) = -1L) // reset for the next source
      touched.clear()
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("src", vType),
      StructField(vCol, vType), StructField("dist", LongType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      schema)
  }

  /** Distances (0..maxHops) from EVERY vertex of `sources` over DIRECTED
    * edges (aCol → bCol); symmetrize first for undirected graphs.
    * Returns (src, vCol, dist) — one row per (source, reached vertex).
    *
    * At or below `driverThreshold` edges (and |sources|·|verts| ≤ 2²⁴)
    * the per-source expansions run on the driver.
    */
  def perSourceDistances(edges: DataFrame, aCol: String, bCol: String,
                         sources: DataFrame, vCol: String,
                         maxHops: Int,
                         driverThreshold: Long = defaultDriverThreshold)
      : DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops must be >= 0")
    // materialize the edge list ONCE: every round joins against it, and an
    // expensive upstream derivation (a fuzzy join, an LSH bucket pass)
    // would otherwise re-execute per round — measured 18 s → 2 s on the
    // q204 fuzzy graph at sf0.1. ([[Bfs]]/[[LabelProp]] now pin their
    // edges too: the round-9 runtime scan audit measured their re-scan
    // count rising with graph diameter.)
    Materialize.scoped(edges.select(col(aCol).as("__a"), col(bCol).as("__b"))) { e =>
      val onDriver: Option[DataFrame] =
        if (driverThreshold > 0 &&
            sources.schema(vCol).dataType == e.schema("__a").dataType &&
            e.count() <= driverThreshold) {
          val srcRows = sources.select(col(vCol)).distinct().collect()
          val g = new DriverGraph.DenseGraph(e.collect(), srcRows)
          if (srcRows.length.toLong * g.nVerts <= (1L << 24))
            Some(driverPerSource(edges.sparkSession, g,
              e.schema("__a").dataType, vCol, maxHops))
          else None
        } else None
      onDriver.getOrElse(
        Bfs.expand(e, sources.select(col(vCol).as("__s")).distinct()
            .select(col("__s"), col("__s").as("__v"))
            .withColumn("dist", lit(0L)), Seq("__s"), maxHops)
          .select(col("__s").as("src"), col("__v").as(vCol), col("dist")))
    }
  }
}
