package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[CappedList]] — the one-pass df-cut postings build rides on its
  * two guarantees: complete list for groups at or below the cap, bounded
  * buffer (never more than cap elements) for groups above it.
  */
class CappedListSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groups at or below the cap: sorted list == sorted collect_list") {
    val df = Seq((1L, 10L), (1L, 7L), (2L, 5L), (2L, 5L), (2L, 9L),
      (3L, 1L)).toDF("g", "x").repartition(5)
    val got = df.groupBy($"g")
      .agg(sort_array(CappedList.cappedList($"x", 3)).as("l"))
      .as[(Long, Seq[Long])].collect().toMap
    val want = df.groupBy($"g")
      .agg(sort_array(collect_list($"x")).as("l"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got === want)
  }

  test("groups above the cap: exactly cap elements, all from the group") {
    val df = (1 to 100).map(i => (1L, i.toLong)).toDF("g", "x")
      .repartition(7)
    val got = df.groupBy($"g")
      .agg(CappedList.cappedList($"x", 5).as("l"),
        count(lit(1)).as("n"))
      .as[(Long, Seq[Long], Long)].collect().head
    assert(got._2.size === 5 && got._3 === 100L)
    assert(got._2.forall(v => v >= 1L && v <= 100L))
  }

  test("nulls are skipped (collect_list parity); empty group -> empty") {
    val df = Seq((1L, Some(3L)), (1L, None), (2L, None))
      .toDF("g", "x").repartition(3)
    val got = df.groupBy($"g")
      .agg(CappedList.cappedList($"x", 4).as("l"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got === Map(1L -> Seq(3L), 2L -> Seq.empty))
  }

  test("exactNearDuplicates is unchanged by the one-pass postings build " +
    "including when the df-cut bites") {
    // tiny corpus where shingle "a b c" is posted by every doc: with
    // maxDf = 2 the hot shingle is cut and pairs must match the
    // brute-force Jaccard over the CUT shingle sets
    val docs = Seq(
      (1L, "a b c x y"), (2L, "a b c x z"), (3L, "a b c q r"),
      (4L, "q r s t u")).toDF("doc_id", "text")
    def pairsAt(maxDf: Int, driverThreshold: Long): Map[(Long, Long), Double] =
      graft.ops.MinHashLSH
        .exactNearDuplicates(docs, "doc_id", "text", w = 3,
          threshold = 0.2, maxDf = maxDf, driverThreshold = driverThreshold)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
    // the default path indexes this corpus on the driver; 0 forces the
    // distributed CappedList postings build
    for (dt <- Seq(1L << 20, 0L)) {
      // no cut: plain exact Jaccard on 3-shingles
      val loose = pairsAt(256, dt)
      assert(loose.contains((1L, 2L)) && loose((1L, 2L)) > 0.3)
      // cut at 2: "a b c" (df 3) dropped from numerators AND denominators
      val cut = pairsAt(2, dt)
      assert(cut !== loose)
      assert(!cut.contains((1L, 3L)))
    }
  }
}
