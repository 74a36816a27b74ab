package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** Distributed NN-descent round (Dong et al., WWW 2011) — the kNN-graph
  * build primitive behind NN-descent/HNSW-style ANN indexes, factored out
  * of q332 so the graph-health audits (q344 connectivity) consume the SAME
  * production edge path they certify, not a parallel re-implementation.
  *
  * Scale shape (the reason this is the 100 TB path where brute top-k is
  * the oracle harness): every stage has CONSTANT per-vertex fan —
  *  - [[seed]]: sorted-neighborhood blocking over the (label, vec_id) rank
  *    (the q163 device), ±`window` candidates per vector, top-k by exact
  *    cosine → ≤ 2·window candidates/vector, linear in |V|, one bounded
  *    rank window;
  *  - [[refine]]: candidates = neighbors-of-neighbors ∪ current graph
  *    (≤ k² + k per vector), re-ranked by exact cosine → linear again.
  * No stage is ever all-pairs; the rank windows partition by query id.
  *
  * Both frames carry (qa, cb, cos) with cosine rounded to 6 dp — exactly
  * replayable as window SQL by the DuckDB oracle (q332/q344 unroll these
  * stages as CTEs).
  */
object NnDescent {

  private def byQuery = Window.partitionBy(col("qa"))
    .orderBy(col("cos").desc, col("cb"))

  /** Seed kNN graph: top-`k` of the ±`window` sorted-neighborhood
    * candidates per vector, by exact cosine. `v` = (vec_id, label,
    * v: array&lt;double&gt;). Eagerly pinned ([[Materialize]]): every
    * consumer fans out on it at least twice (the neighbor-of-neighbor
    * self-join), and the seed's own derivation holds a rank window that
    * must not re-run per branch (the round-8 scan-audit class).
    */
  def seed(v: DataFrame, window: Int = 12, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val rk = v.withColumn("r", row_number().over(w))
    val off = rk
      .withColumn("d", explode(lit(
        ((-window to -1) ++ (1 to window)).map(_.toLong).toArray)))
      .select(col("label"), (col("r") + col("d")).as("rn"),
        col("vec_id").as("qa"), col("v").as("va"))
    val c0 = off.join(rk.select(col("label"), col("r").as("rn"),
        col("vec_id").as("cb"), col("v").as("vb")), Seq("label", "rn"))
      .select(col("qa"), col("cb"),
        round(HashExpressions.cosineSim(col("va"), col("vb")), 6).as("cos"))
    Materialize.eager(c0.withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= k).select(col("qa"), col("cb"), col("cos")))
  }

  /** One refinement round over an existing (qa, cb, cos) graph: each
    * vector re-ranks its neighbors' neighbors plus its current list by
    * exact cosine and keeps top-`k`. Candidate fan is ≤ k²+k per vector
    * by construction.
    */
  def refine(v: DataFrame, n0: DataFrame, k: Int = 5): DataFrame = {
    val nn = n0.select(col("qa"), col("cb").as("mid"))
      .join(n0.select(col("qa").as("mid"), col("cb").as("cc")), "mid")
      .filter(col("qa") =!= col("cc"))
      .select(col("qa"), col("cc").as("cb"))
      .unionByName(n0.select(col("qa"), col("cb")))
      .distinct()
    val vv = v.select(col("vec_id"), col("v"))
    val c1 = nn
      .join(vv.select(col("vec_id").as("qa"), col("v").as("va")), "qa")
      .join(vv.select(col("vec_id").as("cb"), col("v").as("vb")), "cb")
      .select(col("qa"), col("cb"),
        round(HashExpressions.cosineSim(col("va"), col("vb")), 6).as("cos"))
    c1.withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= k).select(col("qa"), col("cb"), col("cos"))
  }
}
