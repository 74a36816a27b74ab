package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.TestSpark

/** The exact near-dup pair pass runs on the driver while its postings and
  * pair emissions fit `driverThreshold`, and distributed otherwise; both
  * paths must return the same (doc_a, doc_b, jaccard) rows. So must
  * [[Dedup.nearDupGroups]], whose whole grouping runs on the driver under
  * the same bounds on its rows, postings and canonical pair emissions.
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

  private def groups(df: DataFrame, threshold: Double, maxDf: Int,
                     driverThreshold: Long): DataFrame =
    Dedup.nearDupGroups(df, "doc_id", "text", w = 3, threshold = threshold,
      maxDf = maxDf, driverThreshold = driverThreshold)

  /** (doc_id, group_id) rows; either may be null. */
  private def labels(out: DataFrame): Set[(Any, Any)] =
    out.collect().map(r => (r.get(0), r.get(1))).toSet

  /** [[bothPaths]] for [[Dedup.nearDupGroups]]: the whole grouping runs on
    * the driver (a local frame) or distributed (a pinned result).
    */
  private def groupsBothPaths(df: DataFrame, threshold: Double = 0.5, maxDf: Int = 256,
                              driverThreshold: Long = 1L << 20,
                              onDriver: Boolean = true): Set[(Any, Any)] = {
    val hybrid = groups(df, threshold, maxDf, driverThreshold)
    val distributed = groups(df, threshold, maxDf, 0L)
    assert(ranOnDriver(hybrid) === onDriver)
    assert(!ranOnDriver(distributed))
    assert(hybrid.schema === distributed.schema)
    val got = labels(hybrid)
    assert(got === labels(distributed))
    got
  }

  /** The docs of `got` grouped by label, each group's ids sorted. */
  private def partition(got: Set[(Any, Any)]): Set[Seq[Long]] =
    got.groupBy(_._2).values.map(_.toSeq.map(_._1.asInstanceOf[Long]).sorted).toSet

  test("nearDupGroups labels every doc the same on both paths") {
    // every third fixture doc gets an exact copy under a fresh id
    val base = fixture.select($"doc_id", $"text")
    val near = base.union(base.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    val got = groupsBothPaths(near)
    assert(got.size === near.count())
    // each copy shares its original's group
    val label = got.toMap
    assert(got.forall { case (id, g) =>
      id.asInstanceOf[Long] < 1000000L || label(id.asInstanceOf[Long] - 1000000L) == g })
  }

  test("nearDupGroups: null, empty and short texts, df-cut corpora and empty input") {
    // null texts share one fingerprint, empty ones another; every text
    // shorter than w is one whole-text shingle, so all four pair at 1.0
    val blank = Seq((1L, null), (2L, null), (3L, ""), (4L, ""),
      (5L, "a b c d"), (6L, "a b c e"), (7L, "x y"))
    assert(partition(groupsBothPaths(docs(blank: _*))) ===
      Set(Seq(1L, 2L, 3L, 4L), Seq(5L), Seq(6L), Seq(7L)))
    val short = docs((1L, "a b"), (2L, "a b"), (3L, "a"), (4L, "a b c"), (5L, "a b"))
    assert(partition(groupsBothPaths(short)) === Set(Seq(1L, 2L, 5L), Seq(3L), Seq(4L)))
    val boiler = (0L until 6L).map(i => (i, s"alpha beta gamma x$i y$i z$i"))
    val near = Seq((100L, "alpha beta gamma p q r s"), (101L, "alpha beta gamma p q r t"))
    assert(partition(groupsBothPaths(docs(boiler ++ near: _*), maxDf = 4))
      .contains(Seq(100L, 101L)))
    val capped = docs((1L, "a b c x y"), (2L, "a b c x z"), (3L, "a b c q r"),
      (4L, "q r s t u"))
    assert(groupsBothPaths(capped, threshold = 0.2, maxDf = 2) !==
      groupsBothPaths(capped, threshold = 0.2, maxDf = 256))
    assert(groupsBothPaths(docs()).isEmpty)
  }

  test("nearDupGroups falls back on repeated or null ids") {
    val dup = docs((1L, "a b c d"), (1L, "a b c e"), (2L, "a b c d"), (3L, "x y z"))
    assert(groupsBothPaths(dup, onDriver = false).size === 3)
    val nullIds = Seq((Some(1L), "a b c d"), (None, "a b c d"), (Some(2L), "a b c e"),
      (None, "x y z")).toDF("doc_id", "text")
    assert(groupsBothPaths(nullIds, onDriver = false).nonEmpty)
  }

  test("nearDupGroups falls back one over the row, posting or emission bound") {
    // 3 rows, 2 postings (doc 2 copies doc 1 and is not hashed): the row
    // bound decides
    val short = docs((1L, "a b"), (2L, "a b"), (3L, "c"))
    groupsBothPaths(short, driverThreshold = 3L)
    groupsBothPaths(short, driverThreshold = 2L, onDriver = false)
    // 2 rows, 8 postings, 3 emissions: the posting bound decides
    val near = docs((100L, "p q r s t u"), (101L, "p q r s t v"))
    groupsBothPaths(near, driverThreshold = 8L)
    groupsBothPaths(near, driverThreshold = 7L, onDriver = false)
    // 5 rows, 15 postings, 2 × C(5, 2) = 20 emissions from the shared
    // "a b c" and "b c d": the emission bound decides; each pair is at 0.5
    val fan = docs((1 to 5).map(i => (i.toLong, s"a b c d x$i")): _*)
    assert(partition(groupsBothPaths(fan, driverThreshold = 20L)) === Set((1L to 5L)))
    groupsBothPaths(fan, driverThreshold = 19L, onDriver = false)
    // the collapse runs before the emissions count: 5 exact copies of one
    // text are one canonical doc with no emissions
    val copies = docs((1 to 5).map(i => (i.toLong, "a b c d x")): _*)
    assert(partition(groupsBothPaths(copies, driverThreshold = 15L)) === Set((1L to 5L)))
  }
}
