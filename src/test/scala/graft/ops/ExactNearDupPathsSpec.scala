package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.TestSpark

/** The exact near-dup pair pass runs on the driver while its postings and
  * pair emissions fit `driverThreshold`, and distributed otherwise; both
  * paths must return the same (doc_a, doc_b, jaccard) rows, and so must
  * [[Dedup.nearDupGroups]] on top of them.
  */
class ExactNearDupPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  /** The distributed path leaves its pinned postings in the returned plan;
    * the driver path returns a local frame.
    */
  private def ranOnDriver(out: DataFrame): Boolean =
    !out.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  private def pairs(out: DataFrame): Set[(Long, Long, Double)] =
    out.select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect().toSet

  private def exact(df: DataFrame, threshold: Double, maxDf: Int,
                    driverThreshold: Long): DataFrame =
    MinHashLSH.exactNearDuplicates(df, "doc_id", "text", w = 3,
      threshold = threshold, maxDf = maxDf, driverThreshold = driverThreshold)

  /** Runs the default and the forced-distributed path and requires equal
    * rows; `onDriver` is the path the default must have taken.
    */
  private def bothPaths(df: DataFrame, threshold: Double = 0.5, maxDf: Int = 256,
                        driverThreshold: Long = 1L << 20,
                        onDriver: Boolean = true): Set[(Long, Long, Double)] = {
    val hybrid = exact(df, threshold, maxDf, driverThreshold)
    val distributed = exact(df, threshold, maxDf, 0L)
    assert(ranOnDriver(hybrid) === onDriver)
    assert(!ranOnDriver(distributed))
    val got = pairs(hybrid)
    assert(got === pairs(distributed))
    got
  }

  private lazy val fixture = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  test("fixture documents: both paths agree at threshold 0.5 and at q155's 0.05") {
    assert(bothPaths(fixture).nonEmpty)
    assert(bothPaths(fixture, threshold = 0.05).size > bothPaths(fixture).size)
  }

  test("df-cut corpora: both paths agree at maxDf 4 and 2") {
    val boiler = (0L until 6L).map(i => (i, s"alpha beta gamma x$i y$i z$i"))
    val near = Seq((100L, "alpha beta gamma p q r s"), (101L, "alpha beta gamma p q r t"))
    assert(bothPaths(docs(boiler ++ near: _*), maxDf = 4) === Set((100L, 101L, 0.6)))
    val shared = (0L until 6L).map(i => (i, "alpha beta gamma")) ++
      Seq((100L, "p q r s t u"), (101L, "p q r s t v"))
    assert(bothPaths(docs(shared: _*), maxDf = 4).size === 1)
    assert(bothPaths(docs(shared: _*), maxDf = Int.MaxValue).size === 16)
    val capped = docs((1L, "a b c x y"), (2L, "a b c x z"), (3L, "a b c q r"),
      (4L, "q r s t u"))
    assert(bothPaths(capped, threshold = 0.2, maxDf = 2) !==
      bothPaths(capped, threshold = 0.2, maxDf = 256))
  }

  test("empty input and docs shorter than w") {
    assert(bothPaths(docs()).isEmpty)
    // below w each doc is one whole-doc shingle: equal short texts pair at 1.0
    val short = docs((1L, "a b"), (2L, "a b"), (3L, "a"), (4L, ""), (5L, "a b c"))
    assert(bothPaths(short) === Set((1L, 2L, 1.0)))
  }

  test("an input just over either bound takes the distributed path") {
    // 8 postings, 3 emissions: the postings bound decides
    val near = docs((100L, "p q r s t u"), (101L, "p q r s t v"))
    bothPaths(near, driverThreshold = 8L)
    bothPaths(near, driverThreshold = 7L, onDriver = false)
    // 4 postings, C(4,2) = 6 emissions: the emission bound decides
    val same = docs((1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c"))
    assert(bothPaths(same, driverThreshold = 6L).size === 6)
    bothPaths(same, driverThreshold = 5L, onDriver = false)
  }

  test("duplicate ids take the distributed path") {
    val dup = docs((1L, "a b c d"), (1L, "a b c e"), (2L, "a b c d"))
    assert(bothPaths(dup, onDriver = false).nonEmpty)
  }

  test("nearDupGroups labels every doc the same on both paths") {
    // every third fixture doc gets an exact copy under a fresh id
    val base = fixture.select($"doc_id", $"text")
    val near = base.union(base.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    def groups(driverThreshold: Long) =
      Dedup.nearDupGroups(near, "doc_id", "text", driverThreshold = driverThreshold)
        .as[(Long, Long)].collect().toSet
    val hybrid = groups(1L << 20)
    assert(hybrid.size === near.count())
    assert(hybrid === groups(0L))
  }
}
