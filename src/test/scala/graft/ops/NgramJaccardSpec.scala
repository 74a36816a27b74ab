package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.{TextFunctions => TF}

/** The df-cut skew bound of the exact inverted-index Jaccard pass: inert on
  * the fixture corpus (so q32's oracle parity is unconditional) and active
  * exactly when a posting exceeds the cap.
  */
class NgramJaccardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The pass's two paths: the default (these corpora fit the driver-side
    * index) and the forced distributed one; each case runs at both.
    */
  private val paths = Seq(1L << 20, 0L)

  private def pairs(df: org.apache.spark.sql.DataFrame, maxDf: Int, driverThreshold: Long) =
    MinHashLSH.exactNearDuplicates(df, "doc_id", "text",
        w = 3, threshold = 0.5, maxDf = maxDf, driverThreshold = driverThreshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet

  test("df-cut at 256 is inert on the fixture corpus (max df stays far below)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val maxDf = docs
      .select(explode(TF.hash60Array(TF.shingles($"text", 3))).as("h"))
      .groupBy($"h").count().agg(max($"count")).head.getLong(0)
    assert(maxDf < 256, s"fixture max df $maxDf defeats the inertness claim")
    for (dt <- paths)
      assert(pairs(docs, 256, dt) === pairs(docs, Int.MaxValue, dt))
  }

  test("df-cut drops only pairs whose sole overlap is an over-cap shingle") {
    // Six boilerplate docs share one identical shingle (df 6 > cap 4); two
    // docs are near-dups through rare shingles (df 2, under cap).
    val boiler = (0L until 6L).map(i => (i, "alpha beta gamma"))
    val near = Seq((100L, "p q r s t u"), (101L, "p q r s t v"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    for (dt <- paths) {
      val capped = pairs(docs, maxDf = 4, dt)
      assert(capped.map(p => (p._1, p._2)) === Set((100L, 101L)))
      assert(capped.head._3 === 0.6) // 3 shared of 5 distinct shingles
      // uncapped: the boilerplate C(6,2)=15 identical pairs reappear
      assert(pairs(docs, Int.MaxValue, dt).size === 16)
    }
  }

  test("pairs sharing an over-cap shingle get exact post-cut jaccard, not a deflated one") {
    // "alpha beta gamma" is boilerplate (df 8 > cap 4); docs 100/101 share
    // it PLUS three rare shingles. Full-set jaccard = 4/6 ≈ 0.667; the
    // post-cut vocabulary drops the boilerplate shingle from BOTH sides:
    // retained sizes 4/4, retained common 3 → jaccard 3/5 = 0.6. (The old
    // computation mixed post-cut common with full sizes: 3/7 ≈ 0.43 — a
    // silently dropped true pair at threshold 0.5.)
    val boiler = (0L until 6L).map(i => (i, s"alpha beta gamma x$i y$i z$i"))
    val near = Seq((100L, "alpha beta gamma p q r s"),
      (101L, "alpha beta gamma p q r t"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    for (dt <- paths) {
      val capped = pairs(docs, maxDf = 4, dt)
      assert(capped === Set((100L, 101L, 0.6)))
      // uncapped, same pair scores full-set jaccard 4/6
      val un = pairs(docs, Int.MaxValue, dt)
      assert(un.contains((100L, 101L, 0.666667)))
    }
  }

  test("collapse-first near-dup: canonical pairs + full membership on a dup-heavy corpus") {
    // three distinct contents, two of them near-dups, each replicated 10x
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val c = "completely different words about spark engines and parquet files"
    val docs = (0 until 10).flatMap(r => Seq(
      (r * 10L + 0, a), (r * 10L + 1, b), (r * 10L + 2, c)
    )).toDF("doc_id", "text")
    val (pairs, membership) = MinHashLSH.nearDuplicatesCollapsed(
      docs, "doc_id", "text", w = 3, k = 64, rowsPerBand = 2, threshold = 0.5)
    // one canonical pair: a's representative (0) vs b's (1); c unrelated
    assert(pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
      === Seq((0L, 1L)))
    // membership maps all 30 docs onto the 3 canonical ids
    val m = membership.as[(Long, Long)].collect()
    assert(m.length === 30)
    assert(m.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    assert(m.filter(_._1 == 0L).map(_._2).sorted.toSeq
      === (0 until 10).map(_ * 10L))
    // the exact inverted-index collapsed pass agrees with the LSH one here
    for (dt <- paths) {
      val (exactPairs, m2) = MinHashLSH.exactNearDuplicatesCollapsed(
        docs, "doc_id", "text", w = 3, threshold = 0.5, driverThreshold = dt)
      assert(exactPairs.select($"doc_a", $"doc_b").as[(Long, Long)]
        .collect().toSeq === Seq((0L, 1L)))
      assert(m2.count() === 30)
    }
    // and the simhash family exposes the same collapse-first contract
    val (shPairs, m3) = SimHash.nearDuplicatesCollapsed(docs, "doc_id", "text")
    assert(m3.count() === 30)
    assert(shPairs.filter($"doc_a" >= 10 || $"doc_b" >= 10).count() === 0)
  }

  test("simhash maxBucket valve drops the hot duplicate group, keeps under-cap pairs") {
    // six identical docs share every chunk bucket (size 6 > cap 4); one
    // distinct pair with identical token SETS rides size-2 buckets
    val boiler = (0L until 6L).map(i => (i, "alpha beta gamma"))
    val near = Seq((100L, "p q r s t u"), (101L, "u t s r q p"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val gated = SimHash.nearDuplicates(docs, "doc_id", "text",
        maxHamming = 3, maxBucket = 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(gated === Set((100L, 101L)))
    // valve off: the 15 boilerplate pairs are back (exactness default)
    assert(SimHash.nearDuplicates(docs, "doc_id", "text").count() === 16L)
  }

  test("lsh maxBucket gate bounds candidate blowup without losing under-cap pairs") {
    val boiler = (0L until 6L).map(i => (i, "alpha beta gamma"))
    val near = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "the quick brown fox jumps over the lazy cat again and again"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val gated = MinHashLSH.nearDuplicates(docs, "doc_id", "text",
        w = 3, k = 64, rowsPerBand = 2, threshold = 0.5, maxBucket = 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // the 6-doc exact-dup group over-fills its bucket in every band -> cut;
    // the near-dup pair rides under-cap buckets and survives
    assert(gated === Set((100L, 101L)))
  }
}
