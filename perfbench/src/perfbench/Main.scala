package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one closed-loop client, fixed op counts.
  *
  * Usage: Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *             [--scale full|small] --work <dir>
  *
  * Prints `# config {...}` (the pinned Spark settings) and, per workload,
  * a line `{"correct", "attempted", "failed", "metrics"}`. `all` runs every
  * workload in turn in one JVM (the build's class-data sharing recording). With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
  * per-layer ones, from a run that alternates untraced and traced ops.
  */
object Main {
  /** Pinned engine settings; echoed so every result states them. Two task
    * threads on a 4-core host leave cores for the JIT compiler, the
    * collector and the driver, so an op does not queue behind them.
    */
  val Settings: Seq[(String, String)] = Seq(
    "spark.master" -> "local[2]",
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** Op counts are fixed per workload and scale; `--seconds` only names
    * the nominal measured length they were sized for on a 4-core host.
    * `setups` counts the timed setups, which follow the ops; the first,
    * cold setup is not timed.
    */
  def sizes(workload: String, scale: String): Sizes = (workload, scale) match {
    case ("analyst_queries", "full") => Sizes(9, 1, 0, setups = 2, warmOps = 2, ops = 7)
    case ("corpus_dedup", "full") => Sizes(0, 0, 12000, setups = 3, warmOps = 3, ops = 8)
    case ("analyst_queries", "small") => Sizes(8, 1, 0, setups = 1, warmOps = 1, ops = 2)
    case ("corpus_dedup", "small") => Sizes(0, 0, 2000, setups = 1, warmOps = 1, ops = 2)
    case _ => throw new IllegalArgumentException(s"unknown workload/scale: $workload/$scale")
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "paginator.fetch_ms" -> "ms", "paginator.pages" -> "count", "paginator.rows" -> "count",
    "store.write_ms" -> "ms", "store.bytes_written" -> "bytes", "store.files" -> "count",
    "store.files_scanned_per_query" -> "count", "store.bytes_scanned_per_query" -> "bytes",
    "store.rows_scanned_per_row_returned" -> "ratio",
    "klines.normalize_ms" -> "ms", "klines.dedupe_ms" -> "ms", "klines.dedupe_keep_ratio" -> "ratio",
    "query.plan_ms" -> "ms", "query.point_ms" -> "ms", "query.latest_ms" -> "ms",
    "query.month_ms" -> "ms", "query.resample_ms" -> "ms", "query.star_ms" -> "ms", "query.asof_ms" -> "ms",
    "ingest.upsert_ms" -> "ms", "ingest.partitions_rewritten" -> "count",
    "ingest.bytes_rewritten" -> "bytes", "ingest.rewrite_ratio" -> "ratio",
    "dedup.collapse_ms" -> "ms", "dedup.canonical_ratio" -> "ratio",
    "lsh.pairs_ms" -> "ms", "lsh.pairs_out" -> "count",
    "cc.ms" -> "ms", "cc.rounds" -> "count",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.gc_ms_per_op" -> "ms", "spark.driver_gap_ms_per_op" -> "ms",
    "spark.storage_mb_retained" -> "MB",
    "trace.op_ms_p50" -> "ms", "trace.overhead_ms" -> "ms")

  val Workloads = Seq("analyst_queries", "corpus_dedup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val names = if (workload == "all") Workloads else Seq(workload)
    require(names.forall(Workloads.contains), s"unknown workload: $workload")
    val scale = opts.getOrElse("scale", "full")
    val seed = opts.getOrElse("seed", "1").toLong
    val tracing = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".bench_build/work"))
    StoreFiles.delete(work)
    work.mkdirs()
    val local = new File(work, "spark-local"); local.mkdirs()

    val builder = SparkSession.builder().appName(s"perfbench-$workload")
    Settings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoint").getAbsolutePath)
    println("# config " + Settings.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))

    try names.foreach { name =>
      val sz = sizes(name, scale)
      println(s"# workload $name scale $scale $sz")
      val mkt = new Market(seed)
      val dir = new File(work, name)
      val w: Workload = name match {
        case "analyst_queries" => new AnalystQueries(spark, mkt, seed, sz, dir)
        case "corpus_dedup" => new CorpusDedup(spark, seed, sz, dir)
      }
      println(new Runner(spark, w, sz, tracing).run())
    } finally { spark.stop(); StoreFiles.delete(work) }
  }
}

/** Runs one workload: a cold setup, warm-up ops, measured ops, then the
  * timed setups. Every op's output is checked; a thrown or wrong op counts
  * as failed.
  */
final class Runner(spark: SparkSession, w: Workload, sz: Sizes, tracing: Boolean) {
  private val off = new Trace(false)
  private val tr = new Trace(tracing)
  private val probe = if (tracing) Some(Probe.register(spark)) else None
  private var attempted = 0
  private var failed = 0
  private var memPeak = 0.0

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still live once Spark's cleaner has caught up, in MB. A full
    * collection hands the cleaner the RDDs, broadcasts and shuffles nothing
    * references any more; it frees their blocks on its own thread, which can
    * leave more garbage behind. So collect again until the reading stops
    * falling.
    */
  private def settledHeapMb(): Double = {
    def collect() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 1
    while (prev - cur > 0.5 && rounds < 8) {
      Thread.sleep(100); prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  private val engine = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = engine.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private var returned = 0L

  /** One op: untimed input preparation, the timed body, then the untimed
    * output check. With `sample`, the engine counters cover the timed body
    * and nothing else. Returns the body's ms (NaN if it threw).
    */
  private def runOp(i: Int, t: Trace, measured: Boolean = true, sample: Boolean = false): Double = {
    attempted += 1
    w.prepare(i, t)
    // every measured op starts on a collected heap
    if (measured) System.gc()
    val p = probe.filter(_ => sample)
    p.foreach { p => p.drain(); p.reset() }
    val rows0 = w.rowsReturned
    val gc0 = gcMs()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val check =
      try Some(w.op(i, t))
      catch { case e: Exception => System.err.println(s"op $i failed: $e"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    val gc1 = gcMs()
    p.foreach { p =>
      p.drain()
      note("spark.jobs_per_op", p.jobs); note("spark.tasks_per_op", p.tasks)
      note("spark.shuffle_bytes_per_op", p.shuffleBytes); note("spark.spill_bytes_per_op", p.spillBytes)
      note("spark.gc_ms_per_op", (gc1 - gc0).toDouble)
      note("spark.driver_gap_ms_per_op", p.idleMs(wall0, wall1))
      note("queries", p.queries); note("files", p.filesScanned); note("bytes", p.bytesScanned)
      note("rows", p.rowsScanned); note("plan_ms", p.planMs)
      returned += w.rowsReturned - rows0
    }
    if (check.isEmpty) { failed += 1; return Double.NaN }
    val c0 = System.nanoTime()
    try check.get().foreach { err => System.err.println(s"op $i wrong: $err"); failed += 1 }
    catch { case e: Exception => System.err.println(s"op $i check failed: $e"); failed += 1 }
    val c1 = System.nanoTime()
    System.err.println(f"# op $i%d $ms%.1f ms (check ${(c1 - c0) / 1e6}%.0f ms)")
    ms
  }

  def run(): String = {
    // The first setup runs on a cold JVM and builds the state the ops
    // start from; only the setups after the ops, on a warm JVM, are timed.
    w.setup(tr)
    (0 until sz.warmOps).foreach(i => runOp(i, off, measured = false))

    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until sz.ops) {
      // untraced, traced, traced, untraced, ...: both halves sit at the same
      // mean position on the warm-up curve
      val useTrace = tracing && (k % 4 == 1 || k % 4 == 2)
      if (useTrace) traced += runOp(sz.warmOps + k, tr)
      else plain += runOp(sz.warmOps + k, off, sample = tracing)
    }
    if (!tracing) memPeak = settledHeapMb()
    // collected first: Spark tracks persisted RDDs by weak reference
    val retained = probe.map { p => settledHeapMb(); p.retainedMb() }.getOrElse(0.0)
    val layerCounts = w.layerCounts(tr)
    val setupMs = (0 until sz.setups).map(_ => timed(w.setup(tr)))
    System.err.println(s"# setup ms ${setupMs.map(m => f"$m%.1f").mkString(" ")}")
    val ok = plain.filterNot(_.isNaN).toSeq
    val metrics: Seq[(String, String, Double)] =
      if (!tracing) {
        Seq(
          ("setup_s", "s", Stats.median(setupMs) / 1000),
          ("op_ms_p50", "ms", Stats.median(ok)),
          ("mem_peak_mb", "MB", memPeak))
      } else {
        def sum(k: String) = engine.get(k).map(_.sum).getOrElse(0.0)
        def mean(k: String) = engine.get(k).map(b => b.sum / b.size).getOrElse(0.0)
        val queries = math.max(sum("queries"), 1.0)
        val values = Map(
          "paginator.fetch_ms" -> tr.medianMs("paginator.fetch"),
          "paginator.pages" -> tr.meanCount("paginator.pages"),
          "paginator.rows" -> tr.meanCount("paginator.rows"),
          "store.write_ms" -> tr.medianMs("store.write"),
          "store.bytes_written" -> tr.meanCount("store.bytes_written"),
          "store.files_scanned_per_query" -> sum("files") / queries,
          "store.bytes_scanned_per_query" -> sum("bytes") / queries,
          "store.rows_scanned_per_row_returned" -> (if (returned > 0) sum("rows") / returned else 0.0),
          "klines.normalize_ms" -> tr.medianMs("klines.normalize"),
          "klines.dedupe_ms" -> tr.medianMs("klines.dedupe"),
          "klines.dedupe_keep_ratio" -> tr.meanCount("klines.dedupe_keep_ratio"),
          "query.plan_ms" -> sum("plan_ms") / queries,
          "query.point_ms" -> tr.medianMs("query.point"),
          "query.latest_ms" -> tr.medianMs("query.latest"),
          "query.month_ms" -> tr.medianMs("query.month"),
          "query.resample_ms" -> tr.medianMs("query.resample"),
          "query.star_ms" -> tr.medianMs("query.star"),
          "query.asof_ms" -> tr.medianMs("query.asof"),
          "ingest.upsert_ms" -> tr.medianMs("ingest.upsert"),
          "ingest.partitions_rewritten" -> tr.meanCount("ingest.partitions_rewritten"),
          "ingest.bytes_rewritten" -> tr.meanCount("ingest.bytes_rewritten"),
          "ingest.rewrite_ratio" -> tr.meanCount("ingest.rewrite_ratio"),
          "dedup.collapse_ms" -> tr.medianMs("dedup.collapse"),
          "dedup.canonical_ratio" -> tr.meanCount("dedup.canonical_ratio"),
          "lsh.pairs_ms" -> tr.medianMs("lsh.pairs"),
          "lsh.pairs_out" -> tr.meanCount("lsh.pairs_out"),
          "cc.ms" -> tr.medianMs("cc"),
          "cc.rounds" -> tr.meanCount("cc.rounds"),
          "spark.jobs_per_op" -> mean("spark.jobs_per_op"),
          "spark.tasks_per_op" -> mean("spark.tasks_per_op"),
          "spark.shuffle_bytes_per_op" -> mean("spark.shuffle_bytes_per_op"),
          "spark.spill_bytes_per_op" -> mean("spark.spill_bytes_per_op"),
          "spark.gc_ms_per_op" -> Stats.median(engine.getOrElse("spark.gc_ms_per_op", Nil).toSeq),
          "spark.driver_gap_ms_per_op" -> Stats.median(engine.getOrElse("spark.driver_gap_ms_per_op", Nil).toSeq),
          "spark.storage_mb_retained" -> retained,
          "trace.op_ms_p50" -> Stats.median(traced.filterNot(_.isNaN).toSeq),
          "trace.overhead_ms" -> (Stats.median(traced.filterNot(_.isNaN).toSeq) - Stats.median(ok))
        ) ++ layerCounts
        Main.PerLayer.map { case (k, unit) => (k, unit, values.getOrElse(k, 0.0)) }
      }
    val ms = metrics.map { case (k, unit, v) => s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
