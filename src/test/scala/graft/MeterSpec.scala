package graft

import org.scalatest.funsuite.AnyFunSuite

/** One [[Meter.measure]] window must agree with itself across its two
  * listeners: the job/stage timeline StageProfile prints is non-empty, the
  * stage rows account for every task the task-end stream counted, and the
  * plan walk keeps the query inside RuntimeScanSpec's scan bound.
  */
class MeterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("one measure of q170 reads jobs, stages that sum to its tasks, and scans") {
    val r = Meter.measure(spark)(
      Queries.byName("q170_greedy_cover").fn(spark, sf))
    assert(r.jobs.nonEmpty)
    assert(r.jobs.forall(j => j.end >= j.start && j.start > 0))
    assert(r.stages.nonEmpty && r.stages.forall(_.completed > 0))
    assert(r.tasks.tasks > 0)
    assert(r.stages.map(_.tasks.toLong).sum === r.tasks.tasks,
      s"stage rows ${r.stages.map(s => s.id -> s.tasks)} vs ${r.tasks.pretty}")
    val docs = r.scans.getOrElse("documents", 0)
    assert(docs >= 1 && docs <= 2, s"documents scans: ${r.scans}")
    spark.sharedState.cacheManager.clearCache()
  }
}
