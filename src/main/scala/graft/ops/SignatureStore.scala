package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions => HE, TextFunctions => TF}

/** Incremental near-duplicate detection against a PERSISTED signature
  * store — the continuously-ingesting form of [[Dedup.nearDupGroups]].
  *
  * The reference's pipeline refetches hourly (`run_pipeline.py:92-96`);
  * the 100 TB analogue ingests a new document batch against a corpus that
  * was already deduplicated. Re-shingling the old corpus per batch would
  * make every hour cost a full-corpus scan. Instead, each batch persists
  * its signature projection — `(doc_id, n, th, sig)`: post-cut set size,
  * sorted 60-bit shingle hashes, k-wide MinHash signature — and the next
  * batch detects duplicates by banding against the STORE, never re-reading
  * old text. The projection is a few hundred bytes per document (th
  * dominates at ~8B/shingle), ~10⁴× smaller than raw text+overhead at
  * typical document sizes.
  *
  * Scale shape per batch: Θ(|batch| × k) hashing, one banded-bucket join
  * of batch buckets against (store ∪ batch) buckets — the store side is a
  * narrow columnar scan of the persisted projection, partition-prunable if
  * the store is written bucketed by band — and exact-Jaccard verification
  * of candidates via the linear sorted-set merge. Old×old pairs are
  * excluded by construction (each was found when its own batch landed), so
  * per-batch work is proportional to the BATCH, not the corpus.
  *
  * Store discipline mirrors every bucketed blocker in this repo: persist
  * CANONICAL signatures (collapse exact duplicates with
  * [[Dedup.collapseByContent]] first) or a large duplicate group collides
  * in every band of every future batch forever.
  */
object SignatureStore {

  /** The signature projection for one batch of documents:
    * (doc_id, n, th, sig). Append this to the store (e.g.
    * `store.unionByName(sigs).write.parquet(...)` or a partitioned append)
    * after the batch's pairs are consumed.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 3, k: Int = 64): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(par)
      .select(col(idCol).as("doc_id"),
        HE.shingleHash60Array(TF.tokens(col(textCol)), w).as("th"))
      .select(col("doc_id"), size(col("th")).as("n"), col("th"))
      .withColumn("sig", HE.minhashSignature(col("th"), k,
        MinHashLSH.A.take(k), MinHashLSH.B.take(k)))
  }

  /** Near-duplicate pairs INVOLVING the new batch: batch×store and
    * batch×batch, exact Jaccard ≥ threshold, verified on the persisted
    * hash sets. Old×old pairs never re-emit. Output: doc_a, doc_b
    * (doc_a < doc_b), jaccard (round 6) — identical semantics to
    * [[MinHashLSH.nearDuplicates]] over (store ∪ batch) restricted to
    * pairs touching the batch (spec-pinned).
    *
    * `store` and `batch` are signature projections from [[signatures]]
    * with the SAME (w, k); `k` must match the stored signature width.
    * `maxBucket` is the usual bucket-skew valve (see
    * [[MinHashLSH.nearDuplicates]]) applied to the combined bucket table.
    */
  def incrementalPairs(store: DataFrame, batch: DataFrame, k: Int = 64,
                       rowsPerBand: Int = 2, threshold: Double = 0.5,
                       maxBucket: Int = 0): DataFrame = {
    val bands = k / rowsPerBand
    val sigCols = Seq("doc_id", "n", "th", "sig").map(col)
    val batchP = Materialize.eager(batch.select(sigCols: _*))
    val all = store.select(sigCols: _*).unionByName(batchP)

    def banded(sigs: DataFrame): DataFrame = sigs.select(col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
            .as("bucket"))
      }: _*)).as("__b"))
      .select(col("doc_id"), col("__b.band"), col("__b.bucket"))

    val allBanded = banded(all)
    val gated =
      if (maxBucket <= 0) allBanded
      else allBanded.withColumn("__bc",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket"))))
        .filter(col("__bc") <= maxBucket)
        .drop("__bc")

    // Candidates: batch side × full side. A batch×batch pair meets in both
    // orientations — normalized ids + distinct collapse it; a batch×store
    // pair meets once. Store×store pairs cannot appear (x is batch-only).
    val batchBanded = banded(batchP)
    val cand = batchBanded.as("x").join(gated.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()

    val sets = all.select(col("doc_id"), col("n"), col("th"))
    val withSets = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("n").as("__na"),
        col("th").as("__ta")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("n").as("__nb"),
        col("th").as("__tb")), "doc_b")
    val inter = HE.sortedIntersectCount(col("__ta"), col("__tb"))
    val union = col("__na") + col("__nb") - inter
    withSets
      .withColumn("jaccard",
        round(inter.cast("double") / union.cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
