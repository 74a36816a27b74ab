package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression tier of the ANN
  * stack: each vector is split into `m` subvectors, each subvector is
  * quantized to one of `ksub` per-subspace centroids, and a vector is then
  * stored as `m` small codes (m·log₂ksub bits — 64-dim floats become 4
  * bytes at m=4/ksub=16, a 64× compression). Queries score candidates with
  * the ADC (asymmetric distance computation) trick: the query precomputes
  * its dot product against every centroid of every subspace — an m×ksub
  * lookup table — and a candidate's approximate score is just the sum of
  * m table lookups, no float vector ever touched.
  *
  * Codebooks are trained with the SAME deterministic spherical Lloyd's as
  * the IVF coarse quantizer ([[Knn.kmeansCentroids]]: farthest-first
  * seeding, cosine assignment, hash tie-breaks), run once per subspace on
  * the sliced projection. Encoding assigns by per-subspace cosine argmax —
  * consistent with how training assigned members — with ties to the lowest
  * code. On L2-normalized input (the caller's contract for cosine ANN,
  * see [[adcTopKJoin]]) the summed subspace dots approximate the full
  * cosine.
  *
  * Scale shape: training scans the (sampled) corpus m times over
  * subDim-wide slices; encoding is one narrow map (m compiled argmax-of-
  * ksub expressions per row); ADC scoring explodes codes to (id, sub,
  * code) rows and hash-joins the BROADCAST m×ksub-per-query lookup table —
  * never a nested-loop join, never the corpus collected. At 100 TB codes
  * live next to the vectors as an `array<int>` column written at ingest;
  * re-encoding is only needed when the codebook retrains.
  */
object Pq {

  /** cents(s)(c) = centroid c of subspace s (length subDim each). */
  final case class Codebook(m: Int, subDim: Int,
                            cents: IndexedSeq[IndexedSeq[Seq[Double]]])

  private def sub(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** Per-subspace code: argmax of cosine over the ksub centroids, ties to
    * the LOWEST code, zero-norm cosine = 0.0 (the [[Knn]] assignment
    * convention), via the compiled
    * [[graft.functions.HashExpressions.PqAssign]] expression.
    *
    * The centroids enter as ONE array&lt;array&lt;double&gt;&gt; literal
    * (`centsArr`, built with typedlit) — NOT as m·ksub·subDim inlined
    * scalar literals. Complex-typed literals land in the codegen reference
    * array, so the expression tree and generated source stay IDENTICAL
    * across Lloyd iterations even though the centroid VALUES change: no
    * per-iteration Catalyst re-analysis of a thousands-of-nodes tree and
    * no Janino recompile (the inlined form paid ~1s of plan compilation
    * per iteration for microseconds of compute; an interpreted-HOF form
    * pays µs-scale lambda overhead per cosine — PqAssign's compiled loop
    * avoids both).
    */
  private def codeFor(vec: Column, s: Int, subDim: Int,
                      centsArr: Column): Column =
    graft.functions.HashExpressions.pqAssign(sub(vec, s, subDim), centsArr)

  private def centsLit(cents: Seq[Seq[Double]]): Column =
    typedlit(cents.map(_.toSeq).toSeq)

  private def codeExpr(vec: Column, s: Int, cb: Codebook): Column =
    codeFor(vec, s, cb.subDim, centsLit(cb.cents(s)))

  /** Train an m×ksub codebook. `vecCol` must be a fixed-dimension array
    * column with dim % m == 0; `trainFraction` bounds the training scan at
    * scale exactly as in [[Knn.kmeansCentroids]].
    *
    * All m subspaces train JOINTLY: seeding is one hash-ordered distinct
    * job (codebook s starts as the s-slices of the same ksub seed
    * vectors), and each Lloyd iteration is ONE scan — every row assigns
    * all m codes in a single projection, subvectors explode to
    * (subspace, cell, pos, x) and the elementwise means come back as one
    * m·ksub·subDim-row collect. Training many codebooks with the serial
    * per-subspace path costs m×(seed + iters) driver-blocking jobs —
    * scheduler latency, not compute (measured 10.2 s → ~1.5 s at m=8
    * on the audit corpus).
    */
  def train(emb: DataFrame, vecCol: String, m: Int, ksub: Int, iters: Int,
            trainFraction: Double = 1.0): Codebook = {
    require(m >= 1 && ksub >= 1 && iters >= 1,
      s"need m, ksub, iters >= 1; got $m, $ksub, $iters")
    val base = emb.select(col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
    // dimension probe runs on the null-FILTERED projection: a null vector
    // surfacing first in scan order must not NPE the probe (it carries no
    // dimension information anyway)
    val dimRow = base.select(size(col("__v")).as("__d")).limit(1).collect()
    require(dimRow.nonEmpty, "cannot train a PQ codebook on an empty input")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val train = Materialize.eager(if (trainFraction < 1.0)
      base.sample(withReplacement = false, trainFraction, seed = 42) else base)
    try {
      val seeds = train.distinct().orderBy(hash(col("__v")).asc).limit(ksub)
        .collect().map(_.getSeq[Double](0).toIndexedSeq)
      require(seeds.nonEmpty,
        s"empty PQ training set (trainFraction=$trainFraction)")
      // fewer distinct vectors than ksub just yields a smaller codebook
      var cents: IndexedSeq[IndexedSeq[Seq[Double]]] =
        (0 until m).map(s =>
          seeds.toIndexedSeq.map(v => v.slice(s * subDim, (s + 1) * subDim)))
      for (_ <- 0 until iters) {
        val entries = (0 until m).map { s =>
          struct(lit(s).as("s"),
            codeFor(col("__v"), s, subDim, centsLit(cents(s))).as("c"),
            sub(col("__v"), s, subDim).as("sv"))
        }
        val means = train.select(explode(array(entries: _*)).as("e"))
          .select(col("e.s").as("s"), col("e.c").as("c"),
            posexplode(col("e.sv")).as(Seq("p", "x")))
          .groupBy(col("s"), col("c"), col("p")).agg(avg(col("x")).as("mx"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k, rs) =>
            k -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
        cents = cents.zipWithIndex.map { case (cs, s) =>
          cs.indices.map(c => means.getOrElse((s, c), cs(c))).toIndexedSeq }
      }
      Codebook(m, subDim, cents)
    } finally Materialize.release(train)
  }

  /** (idCol, codes array<int> of length m) — the stored PQ representation. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: Codebook): DataFrame =
    emb.select(col(idCol),
      array((0 until cb.m).map(s => codeExpr(col(vecCol), s, cb)): _*)
        .as("codes"))

  /** Approximate top-k per query by ADC over an encoded corpus.
    *
    * `queries` is a BOUNDED query set (same contract as
    * [[Knn.topKJoin]]'s query side): each query row computes its m×ksub
    * dot-product table as one literal-centroid expression, the table
    * explodes to (query_id, sub, code, dot) rows, and candidate scoring is
    * a broadcast hash join of that table against the exploded (id, sub,
    * code) corpus — sum of m dots per (query, candidate), then a bounded
    * top-k. For cosine semantics, normalize BOTH sides to unit L2 before
    * encode/query (then Σ subspace dots ≈ full cosine).
    *
    * @return (query_id, id, score_ppm, rank) — score in integer ppm
    *         (rounded once, after the float sum) with rank ties broken by
    *         id; ranks 1..k per query.
    */
  def adcTopKJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
                  encoded: DataFrame, idCol: String, cb: Codebook,
                  k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // the full codebook rides along as one 3-level array literal (a
    // codegen REFERENCE, same rationale as codeFor): the per-query m×ksub
    // lookup table is a nested transform + flatten over it, not m·ksub
    // separate inlined-literal dot expressions
    val cb3 = typedlit(cb.cents.map(_.map(_.toSeq).toSeq).toSeq)
    val qv = col(qVecCol).cast("array<double>")
    val lutCol = flatten(transform(cb3, (subCents, sIdx) =>
      transform(subCents, (cent, cIdx) =>
        struct(sIdx.as("s"), cIdx.as("c"),
          graft.functions.VectorFunctions
            .dot(slice(qv, sIdx * lit(cb.subDim) + 1, lit(cb.subDim)), cent)
            .as("d")))))
    val lut = queries
      .select(col(qIdCol).as("__qid"), explode(lutCol).as("e"))
      .select(col("__qid"), col("e.s").as("__s"), col("e.c").as("__c"),
        col("e.d").as("__d"))
    val ex = encoded.select(col(idCol).as("__id"),
        posexplode(col("codes")).as(Seq("__s", "__c")))
    val scored = ex.join(broadcast(lut), Seq("__s", "__c"))
      .groupBy(col("__qid"), col("__id"))
      // one rounding, AFTER the sum: the m-term float sum is grouped by
      // key so partial order is fixed per (query, id) pair
      .agg(round(sum(col("__d")) * 1e6).cast("long").as("score_ppm"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col("score_ppm").desc, col("__id"))))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col("__id").as("id"),
        col("score_ppm"), col("rank").cast("long").as("rank"))
  }
}
