package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.TestSpark

/** Operators materialize their shared intermediates call-scoped (eager
  * local checkpoints freed with the result), never as session cache
  * entries: repeated near-dup passes in one long-lived session must not
  * grow the CacheManager, and a repeated call must recompute the same
  * answer rather than read a leftover cache.
  */
class CacheRetentionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 40 random base docs, each with a one-token variant (3-shingle Jaccard
    * ≈ 0.8) and every fifth with an exact copy; ids disjoint per seed.
    */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def doc() = Vector.fill(20 + rnd.nextInt(20))(s"w${rnd.nextInt(2000)}")
    val texts = (0 until 40).flatMap { i =>
      val d = doc()
      val variant = d.updated(rnd.nextInt(d.length), s"v$seed$i")
      Seq(d, variant) ++ (if (i % 5 == 0) Seq(d) else Nil)
    }
    texts.zipWithIndex
      .map { case (t, i) => (seed * 1000L + i, t.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def runs(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to 600).map(i => ("g" + (i % 3), i.toLong, rnd.nextInt(100).toLong))
      .toDF("g", "o", "v").repartition(3)
  }

  /** Each operator as one call on the input of a seed. */
  private val ops: Seq[(String, Int => DataFrame)] = Seq(
    "Dedup.nearDupGroups" -> (s => Dedup.nearDupGroups(corpus(s), "doc_id", "text")),
    "MinHashLSH.exactNearDuplicates" ->
      (s => MinHashLSH.exactNearDuplicates(corpus(s), "doc_id", "text")),
    "MinHashLSH.nearDuplicates" ->
      (s => MinHashLSH.nearDuplicates(corpus(s), "doc_id", "text")),
    "PrefixSum.withRunningSum" ->
      (s => PrefixSum.withRunningSum(runs(s), Seq("g"), Seq("o"), "v", "cum",
        partitions = 4)),
    "SignatureStore.incrementalPairs" -> { s =>
      // even ids are the stored corpus, odd ids the new batch: each base
      // doc and its variant sit on opposite sides
      val sigs = SignatureStore.signatures(corpus(s), "doc_id", "text")
      SignatureStore.incrementalPairs(
        sigs.filter($"doc_id" % 2 === 0), sigs.filter($"doc_id" % 2 === 1))
    })

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("near-dup, prefix-sum and signature-store calls leave no CacheManager entries") {
    // the session is shared with earlier suites: start from an empty cache
    spark.sharedState.cacheManager.clearCache()
    for ((name, op) <- ops; seed <- Seq(1, 2)) {
      assert(rows(op(seed)).nonEmpty, s"$name on seed $seed found nothing")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name on seed $seed left a cached plan in the session")
    }
  }

  test("a repeated call on the same input returns the same rows") {
    for ((name, op) <- ops)
      assert(rows(op(3)) === rows(op(3)), name)
  }
}
