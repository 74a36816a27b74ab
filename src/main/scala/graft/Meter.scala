package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one runtime meter: [[measure]] opens a listener window around query
  * CONSTRUCTION plus final materialization and returns everything the
  * diagnostic mains and the audit specs read from the engine — executed
  * parquet scans, task-metric totals, and the job/stage timeline. Every
  * tracked action inside the query function (`localCheckpoint` pin builds,
  * bounded `.count()`/`.collect()` bookkeeping, cache-building first
  * consumers) lands inside the window, so a pinned subtree's build passes
  * are counted although they vanish from the final plan.
  *
  * Scans (the measured form of the round-8 plan-text audit, which
  * over-counted persist lineage and reused subtrees): per executed plan the
  * walker visits the post-execution adaptive plan, query stages and
  * per-node subqueries, each node INSTANCE once (identity set), so
  * `ReusedExchangeExec`/`ReusedSubqueryExec` add nothing; an
  * `InMemoryTableScanExec` descends into its cache's build plan once per
  * CACHE (cacheBuilder identity, shared across the window); a
  * `FileSourceScanExec` counts only if its `numFiles` metric says it
  * actually opened files.
  *
  * Tasks (summed from `onTaskEnd`, the only place executor-side task
  * metrics are complete) — what each number means for the 100 TB argument:
  *  - `inputBytes`   — bytes SOURCED into tasks: parquet reads (compressed,
  *    post column-pruning) PLUS block-manager reads of cached / pinned
  *    intermediates (Spark credits a task's cached-block reads to
  *    inputMetrics too — measured: q181 k-core reads its lineitem parquet
  *    exactly once per the scan count, yet shows in=190 MB at sf0.1, the
  *    cumulative per-round block reads of its checkpointed peel state).
  *  - `shuffleWrite` — bytes written to shuffle files across ALL stages of
  *    the query (map-side, post partial-aggregation). A query whose
  *    shuffleWrite ≫ input is re-materializing the corpus over the network
  *    instead of reducing early.
  *  - `memSpill`/`diskSpill` — bytes spilled by sorts/aggregations. ZERO
  *    is the bar at sf0.1: partitions that spill in a single-node heap are
  *    sized wrong for executors with 8–32 GiB.
  *  - `peakTaskMem` — max per-task peak execution memory; × concurrent
  *    tasks approximates the working set.
  *
  * Input bytes are COMPRESSED parquet (plus cached-block reads) while
  * shuffle bytes are serialized rows, so ratios of 1–3× are normal for
  * shuffle-an-entire-projection plans and explode-heavy shapes over the
  * tiny test corpus legitimately show 1000× ratios on KB inputs.
  *
  * Jobs and stages are the timeline `StageProfile` prints: job start/end
  * and description, stage submission/completion with task count,
  * executor run time, shuffle read/write and input bytes.
  */
object Meter {

  private val tables: Seq[String] = Seq("documents", "embeddings", "lineitem",
    "orders", "customer", "supplier", "part", "nation", "region", "events")

  final case class Stats(inputBytes: Long, shuffleWrite: Long,
                         shuffleRead: Long, memSpill: Long, diskSpill: Long,
                         peakTaskMem: Long, tasks: Long) {
    def ratio: Double = shuffleWrite.toDouble / math.max(inputBytes, 1L).toDouble
    def pretty: String =
      f"in=${mb(inputBytes)}%s shW=${mb(shuffleWrite)}%s shR=${mb(shuffleRead)}%s " +
        f"ratio=$ratio%.2f spillMem=${mb(memSpill)}%s spillDisk=${mb(diskSpill)}%s " +
        f"peakTask=${mb(peakTaskMem)}%s tasks=$tasks%d"
    private def mb(b: Long): String =
      if (b >= 10L * 1024 * 1024) f"${b / (1024.0 * 1024.0)}%.0fM"
      else if (b >= 1024) f"${b / 1024.0}%.0fK" else s"${b}B"
  }

  /** One job: listener-clock start/end (ms) and its description. */
  final case class Job(id: Int, start: Long, end: Long, desc: String)

  /** One stage: submission/completion (ms; completion 0 if it never
    * completed inside the window) and its task-metric totals.
    */
  final case class Stage(id: Int, name: String, submitted: Long,
                         completed: Long, tasks: Int, runMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, input: Long)

  final case class Reading(scans: Map[String, Int], tasks: Stats,
                           jobs: Seq[Job], stages: Seq[Stage])

  /** Build the query inside one listener window, drain THIS
    * QueryExecution with `runJob` (a `df.write` would plan and run a
    * separate one, leaving these plan nodes' metrics at zero), drain the
    * listener bus once and return the reading.
    */
  def measure(spark: SparkSession)(build: => DataFrame): Reading = {
    val sc = spark.sparkContext
    val seen = newIdentitySet()
    val scans = mutable.Map.empty[String, Int].withDefaultValue(0)
    def add(p: SparkPlan): Unit = seen.synchronized(scansInto(p, seen, scans))
    var t = Stats(0, 0, 0, 0, 0, 0, 0)
    val jobs = TrieMap.empty[Int, Job]
    val stages = TrieMap.empty[Int, Stage]

    val events = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) synchronized {
          t = Stats(t.inputBytes + m.inputMetrics.bytesRead,
            t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
            t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
            t.memSpill + m.memoryBytesSpilled,
            t.diskSpill + m.diskBytesSpilled,
            math.max(t.peakTaskMem, m.peakExecutionMemory), t.tasks + 1)
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        // job description (setJobDescription / phase label) > call site:
        // broadcast-future jobs all share the CompletableFuture call site
        jobs(e.jobId) = Job(e.jobId, e.time, 0L,
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val i = e.stageInfo
        stages(i.stageId) = Stage(i.stageId, i.name,
          i.submissionTime.getOrElse(0L), 0L, 0, 0L, 0L, 0L, 0L)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.get(i.stageId).foreach(s => stages(i.stageId) = s.copy(
          completed = i.completionTime.getOrElse(0L), tasks = i.numTasks,
          runMs = m.executorRunTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          input = m.inputMetrics.bytesRead))
      }
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        if (sys.env.get("SPARK_GRAFT_SCAN_DEBUG").contains("1"))
          System.err.println(s"[scan-qe] onSuccess func=$funcName qe@" +
            Integer.toHexString(System.identityHashCode(qe)))
        add(qe.executedPlan)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    sc.addSparkListener(events)
    spark.listenerManager.register(plans)
    try {
      val qe = build.queryExecution
      sc.runJob(qe.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
          { while (it.hasNext) it.next(); () })
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
      if (sys.env.get("SPARK_GRAFT_SCAN_DEBUG").contains("2"))
        System.err.println(qe.executedPlan.toString)
      add(qe.executedPlan)
      Reading(seen.synchronized(scans.toMap), events.synchronized(t),
        jobs.values.toSeq.sortBy(_.start), stages.values.toSeq.sortBy(_.id))
    } finally {
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(events)
    }
  }

  private def newIdentitySet(): java.util.Set[AnyRef] =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private def scansInto(root: SparkPlan, visited: java.util.Set[AnyRef],
                        counts: mutable.Map[String, Int]): Unit = {
    def walk(p: SparkPlan): Unit = {
      if (!visited.add(p)) return
      p.subqueries.foreach(walk)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case r: ReusedExchangeExec => walk(r.child) // identity set dedupes
        case c: InMemoryTableScanExec =>
          if (visited.add(c.relation.cacheBuilder)) walk(c.relation.cachedPlan)
        case s: FileSourceScanExec =>
          val opened = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          if (opened > 0) tableOf(s).foreach { t =>
            counts(t) += 1
            // per-scan provenance for triaging WHICH split re-executed
            if (sys.env.get("SPARK_GRAFT_SCAN_DEBUG").contains("1"))
              System.err.println(s"[scan] $t rows=" +
                s"${s.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)}" +
                s" filters=${s.dataFilters.mkString(";")}")
          }
        case other => other.children.foreach(walk)
      }
    }
    walk(root)
  }

  private def tableOf(s: FileSourceScanExec): Option[String] = {
    val paths = s.relation.location.rootPaths.mkString(";")
    tables.find(t => paths.contains(s"$t.parquet"))
  }
}
