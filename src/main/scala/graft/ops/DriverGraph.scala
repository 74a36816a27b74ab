package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared driver-fallback plumbing for the iterative graph operators
  * ([[KCore]], [[Hits]], [[PageRank]] — the [[KTruss]] round-12
  * convention generalized): when the one-time distributed preparation
  * (symmetrize/dedup/weight-normalize) leaves a BOUNDED edge list, the
  * fixed-round integer recurrence is a pure function of that list, so
  * running it on the driver replaces tens of scheduled micro-stages
  * (2 joins + an agg + an eager localCheckpoint per round, each a
  * full-width shuffle at local scale) with an in-memory loop — while
  * the distributed loop remains the path for graphs that genuinely
  * don't fit one machine. Every recurrence here is integer/decimal
  * arithmetic (the repo-wide exact-replay discipline), so the driver
  * and distributed paths produce IDENTICAL rows — pinned per operator
  * by both-path specs and the ScaleProbe both-path probes.
  */
private[ops] object DriverGraph {

  /** Default edge-count threshold for collecting an edge list to the
    * driver: 4M two-column rows ≈ a few hundred MB of boxed Rows —
    * comfortably inside the driver heap this harness runs with, far
    * under `spark.driver.maxResultSize`-class limits at cluster scale.
    * Operators expose their own `driverThreshold` parameter (0 forces
    * the distributed path — the scale-probe convention).
    */
  val defaultEdgeThreshold: Long = 1L << 22

  /** Dense-int vertex indexing over arbitrary vertex values: returns
    * (srcIdx, dstIdx, vertexValues). Vertex ids keep their original
    * JVM values (Long, String, …) so results round-trip through
    * [[org.apache.spark.sql.Row]]s with the source column's exact type.
    * `extraVerts` interns additional single-column vertex rows (BFS
    * sources that may not appear in any edge) after the edge endpoints.
    */
  final class DenseGraph(rows: Array[org.apache.spark.sql.Row],
                         extraVerts: Array[org.apache.spark.sql.Row] =
                           Array.empty) {
    private val idOf = new java.util.HashMap[Any, Integer]()
    private val valsBuf = scala.collection.mutable.ArrayBuffer.empty[Any]
    private def id(x: Any): Int = {
      val g = idOf.get(x)
      if (g != null) g.intValue
      else { val i = valsBuf.length; idOf.put(x, Integer.valueOf(i)); valsBuf += x; i }
    }
    val src = new Array[Int](rows.length)
    val dst = new Array[Int](rows.length)
    internEdges(rows)
    val extra: Array[Int] = extraVerts.map(r => id(r.get(0)))
    val vals: Array[Any] = valsBuf.toArray
    def nVerts: Int = vals.length
    def nEdges: Int = src.length

    // a method, not the constructor body: HotSpot leaves a constructor's
    // loops interpreted (and `rows` stays a parameter, not a field)
    private def internEdges(rows: Array[org.apache.spark.sql.Row]): Unit = {
      var i = 0
      while (i < rows.length) {
        src(i) = id(rows(i).get(0)); dst(i) = id(rows(i).get(1)); i += 1
      }
    }
  }

  /** Value comparison consistent with Spark's ordering for the id types
    * the graph operators carry: integral ids numerically, strings by
    * UTF8String (UTF-8 binary) order — NOT java.lang.String order, which
    * diverges on supplementary characters. Returns None for types whose
    * Spark ordering is not replicated here (caller falls back to the
    * distributed path).
    */
  def sparkOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some((a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case IntegerType => Some((a, b) =>
        Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case StringType => Some((a, b) =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])))
      case _ => None
    }
  }

  /** Build a DataFrame from driver-computed per-vertex rows with the
    * vertex column's ORIGINAL dataType (nullable like the distributed
    * agg output) — the [[KTruss]] supportFrame device, typed.
    */
  def vertexFrame(spark: org.apache.spark.sql.SparkSession,
                  vType: org.apache.spark.sql.types.DataType,
                  cols: Seq[(String, org.apache.spark.sql.types.DataType)],
                  rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("v", vType) +: cols.map { case (n, t) => StructField(n, t) })
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }
}
