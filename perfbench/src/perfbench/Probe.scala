package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-engine counters for the traced run, collected from outside the
  * program: a SparkListener (jobs, tasks, shuffle, spill, job intervals),
  * a QueryExecutionListener (file scans and Catalyst planning time per
  * executed query) and the block manager's storage report. Registered only
  * when tracing.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext

  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var queries = 0L
  @volatile var filesScanned = 0L
  @volatile var bytesScanned = 0L
  @volatile var rowsScanned = 0L
  @volatile var planMs = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; shuffleBytes = 0; spillBytes = 0
    queries = 0; filesScanned = 0; bytesScanned = 0; rowsScanned = 0; planMs = 0
    jobSpans.clear()
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  /** Milliseconds of [t0, t1] (epoch ms) during which no job was running. */
  def idleMs(t0: Long, t1: Long): Double = synchronized {
    val spans = jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = t0
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0 - covered).toDouble
  }

  /** MB of RDD blocks (memory + disk) held for RDDs that are still
    * persisted. Call after a full GC: Spark tracks persisted RDDs by weak
    * reference, so RDDs nobody references any more have dropped out.
    */
  def retainedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = scanNodes(qe.executedPlan)
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val plan = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized {
      queries += 1
      planMs += plan
      scans.foreach { s =>
        filesScanned += metric(s, "numFiles")
        bytesScanned += metric(s, "filesSize")
        rowsScanned += metric(s, "numOutputRows")
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }
}

object Probe {
  def register(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** Span recorder for the traced run: per-op wall time of each layer call,
  * kept in memory and summarised when the run ends. `enabled = false` makes
  * every span a plain call.
  */
final class Trace(val enabled: Boolean) {
  private val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally ms.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def medianMs(name: String): Double = ms.get(name).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
  def meanCount(name: String): Double = counts.get(name).map(b => b.sum / b.size).getOrElse(0.0)
}

object Stats {
  /** Median of a sample (the mean of the middle two for an even size); 0 if empty. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
