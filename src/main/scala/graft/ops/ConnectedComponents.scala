package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate PAIRS (MinHashLSH / SimHash / Knn output) into duplicate
  * GROUPS. A dedup pipeline keeps one representative per component, not one
  * per pair: pairs (a,b), (b,c) must collapse a, b, c together even though
  * (a,c) was never emitted.
  *
  * Algorithm: min-label propagation with pointer jumping, driver-controlled
  * iterations (the k-means pattern — iterate small, converge fast):
  *
  *  - each vertex starts labeled with itself;
  *  - per iteration, a vertex takes the min of its own label and its
  *    neighbors' labels (one shuffle join edges⋈labels + a min-aggregate),
  *    then every label is replaced by ITS label's label (pointer jumping —
  *    one more join), doubling propagation distance per round: convergence
  *    in O(log diameter) iterations instead of O(diameter);
  *  - convergence test: an EXACT changed-vertex probe — join the old and
  *    new label tables on vertex and ask whether any label differs
  *    (`isEmpty` = a limit-1 scan). Both sides are localCheckpoint'd, so
  *    the probe joins two materialized vertex tables, a cost dominated by
  *    the round's own edge join. (A sum(label)-monotonicity shortcut is
  *    tempting but WRONG in general: sum() is null for string ids — any
  *    non-numeric graph would "converge" after round one — and Long ids
  *    can overflow the monotone argument away.)
  *
  * Near-dup graphs are star-/clique-like (tiny diameter), so 2-3 rounds
  * typically suffice; `maxIter` is a safety bound, not the expected cost.
  * Each round shuffles O(E) edge-label pairs — the plain iterative CC that
  * holds at 100 TB (the large-star/small-star variant saves rounds on
  * pathological long-path graphs; dedup graphs are not those).
  *
  * Output: (vertex, component) for every vertex present in `edges`;
  * component = the smallest vertex id reachable. Vertices with no edges
  * are their own (absent) components — union them in at the call site if
  * singleton rows are wanted.
  */
object ConnectedComponents {

  /** `driverThreshold`: edge counts at or below it solve on the DRIVER
    * (union-find with path compression — microseconds, zero Spark jobs)
    * instead of paying ~2 scheduled jobs per propagation round. Near-dup
    * pair graphs are usually tiny relative to the corpus (pairs ≪ docs);
    * the iterative path exists for the graphs that genuinely don't fit one
    * machine. Both paths produce identical labels (spec-pinned); set 0 to
    * force the distributed path.
    */
  def run(edges: DataFrame, aCol: String, bCol: String,
          maxIter: Int = 25, driverThreshold: Long = 1L << 20): DataFrame =
    runCounted(edges, aCol, bCol, maxIter, driverThreshold)._1

  /** [[run]] plus the number of propagation rounds the distributed path
    * executed (0 = solved on the driver) — the diagnostic surface the
    * scale probes report (each round shuffles O(E) edge-label pairs, so
    * rounds × edges is the path's total exchange volume).
    */
  def runCounted(edges: DataFrame, aCol: String, bCol: String,
                 maxIter: Int = 25,
                 driverThreshold: Long = 1L << 20): (DataFrame, Int) = {
    // Pin the DIRECTED projection, then mirror it: the symmetric union
    // would otherwise embed the caller's edge computation twice (near-dup
    // pair generation is expensive — measured 2× its cost inside q57
    // before this), whereas the mirror of a pinned frame is a block scan.
    val e0 = Materialize.eager(edges.select(col(aCol).as("s"), col(bCol).as("d")))
    val idType = e0.schema("s").dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    try {
      if (integralIds && e0.count() <= driverThreshold)
        return (runOnDriver(e0, idType), 0)
      val sym = e0.unionAll(e0.select(col("d").as("s"), col("s").as("d")))
      // Eager checkpoint per iteration, NOT persist: `jumped`
      // references `next` twice (the pointer-jump self-join), so without
      // lineage truncation the logical plan DOUBLES per round and Catalyst
      // re-analysis goes exponential — execution would short-circuit at a
      // cache, but the analyzer still walks the whole tree (first version
      // of this loop hung a 64-vertex path graph). The checkpoint replaces
      // each round's plan with its materialized blocks — the standard
      // barrier for iterative DataFrame algorithms (same device as
      // IncrementalIngest's read-overwrite barrier).
      var labels = Materialize.eager(sym.select(col("s").as("v")).distinct()
        .withColumn("comp", col("v")))
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val nbrMin = sym
          .join(labels.select(col("v").as("d"), col("comp")), "d")
          .groupBy(col("s")).agg(min(col("comp")).as("nmin"))
        val next = labels
          .join(nbrMin.withColumnRenamed("s", "v"), Seq("v"), "left")
          .select(col("v"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        val jumped = Materialize.eager(next.as("x")
          .join(next.select(col("v").as("comp"), col("comp").as("cc")), Seq("comp"), "left")
          .select(col("v"), coalesce(col("cc"), col("comp")).as("comp")))
        converged = jumped
          .join(labels.select(col("v"), col("comp").as("__prev")), "v")
          .filter(col("comp") =!= col("__prev"))
          .isEmpty
        Materialize.release(labels)
        labels = jumped
        iter += 1
      }
      (labels, iter)
    } finally Materialize.release(e0)
  }

  /** Union-find with path compression, smaller id stays root — so labels
    * are the component minimum, bit-identical to the distributed path.
    */
  private def runOnDriver(e0: DataFrame,
                          idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val pairs = e0.select(col("s").cast("long"), col("d").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
    out.toDF("v", "comp")
      .select(col("v").cast(idType).as("v"), col("comp").cast(idType).as("comp"))
  }
}
