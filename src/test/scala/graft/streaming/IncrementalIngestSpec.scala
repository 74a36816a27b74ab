package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** End-to-end incremental upsert (SURVEY.md §2.10 T1–T5): two overlapping
  * file batches stream through the checkpointed AvailableNow pipeline; the
  * table must hold exactly the keep-last rows, and re-running must be a
  * no-op (idempotent restart — the reference's progress.json semantics).
  */
class IncrementalIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two-batch overlapping ingest keeps last version; rerun is a no-op") {
    val root = Files.createTempDirectory("graft_ingest").toString
    val src = s"$root/src"; val table = s"$root/table"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()

    def mk(rows: Seq[(String, Long, Long, Double)]) =
      rows.toDF("symbol", "ts_us", "ingest_seq", "close")
        .withColumn("tstamp", timestamp_micros($"ts_us"))

    // The file stream source lists srcDir non-recursively: land each batch's
    // part files flat in srcDir (stage elsewhere, then move).
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$root/stage_$name"
      df.coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet")))
    }

    val schema = mk(Seq(("X", 1L, 1L, 1.0))).schema
    val janUs = 1704067200L * 1000000L  // 2024-01-01
    val febUs = 1706745600L * 1000000L  // 2024-02-01

    // batch 1: two symbols, Jan + Feb
    land(mk(Seq(("BTC", janUs, 1L, 100.0), ("BTC", febUs, 1L, 110.0),
           ("ETH", janUs, 1L, 10.0))), "batch1")
    IncrementalIngest.runOnce(spark, src, schema,
      keys = Seq("symbol", "ts_us"), version = Seq("ingest_seq"),
      tsCol = "tstamp", tableDir = table, checkpointDir = ckpt)

    // batch 2: overlapping refetch of BTC Jan (newer version) + new row
    land(mk(Seq(("BTC", janUs, 2L, 101.0), ("ETH", febUs, 1L, 11.0))), "batch2")
    IncrementalIngest.runOnce(spark, src, schema,
      keys = Seq("symbol", "ts_us"), version = Seq("ingest_seq"),
      tsCol = "tstamp", tableDir = table, checkpointDir = ckpt)

    def snapshot() = spark.read.parquet(table)
      .select("symbol", "ts_us", "ingest_seq", "close")
      .as[(String, Long, Long, Double)].collect().toSeq.sorted

    val after2 = snapshot()
    assert(after2 === Seq(
      ("BTC", janUs, 2L, 101.0),   // upserted by batch 2
      ("BTC", febUs, 1L, 110.0),
      ("ETH", janUs, 1L, 10.0),
      ("ETH", febUs, 1L, 11.0)).sorted)

    // T5: rerun with no new files — checkpoint skips everything
    IncrementalIngest.runOnce(spark, src, schema,
      keys = Seq("symbol", "ts_us"), version = Seq("ingest_seq"),
      tsCol = "tstamp", tableDir = table, checkpointDir = ckpt)
    assert(snapshot() === after2)

    // partition layout is monthly (ym=202401 / ym=202402)
    val parts = new java.io.File(table).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts === Array("ym=202401", "ym=202402"))
  }

  test("upsertBatch leaves the session conf alone; a later table rebuild keeps only its months") {
    val table = Files.createTempDirectory("graft_upsert_conf").toString + "/table"
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(mode)
    def mk(rows: Seq[(String, Long, Long, Double)]) =
      rows.toDF("symbol", "ts_us", "ingest_seq", "close")
        .withColumn("tstamp", timestamp_micros($"ts_us"))
    val janUs = 1704067200L * 1000000L  // 2024-01-01
    val febUs = 1706745600L * 1000000L  // 2024-02-01

    IncrementalIngest.upsertBatch(spark,
      mk(Seq(("BTC", janUs, 1L, 100.0), ("BTC", febUs, 1L, 110.0))),
      keys = Seq("symbol", "ts_us"), version = Seq("ingest_seq"),
      tsCol = "tstamp", tableDir = table)
    assert(spark.conf.getOption(mode) === before)

    // a full rebuild from February alone replaces the whole table
    graft.sources.PartitionedStore.write(mk(Seq(("ETH", febUs, 1L, 11.0))),
      "tstamp", Seq("symbol", "ts_us"), table)
    val parts = new java.io.File(table).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts === Array("ym=202402"))
    assert(spark.read.parquet(table).select("symbol").as[String].collect()
      === Array("ETH"))
  }

  test("continuous trigger: files landed while running flow through watermarked dedup") {
    val root = Files.createTempDirectory("graft_cont").toString
    val src = s"$root/src"; val table = s"$root/table"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()

    def mk(rows: Seq[(String, Long, Long, Double)]) =
      rows.toDF("symbol", "ts_us", "ingest_seq", "close")
        .withColumn("tstamp", timestamp_micros($"ts_us"))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$root/stage_$name"
      df.coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet")))
    }
    def snapshot(): Seq[(String, Long, Long, Double)] =
      scala.util.Try(spark.read.parquet(table)
        .select("symbol", "ts_us", "ingest_seq", "close")
        .as[(String, Long, Long, Double)].collect().toSeq.sorted)
        .getOrElse(Seq.empty)
    def await(expect: Seq[(String, Long, Long, Double)]): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (snapshot() != expect.sorted && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(snapshot() === expect.sorted)
    }

    val schema = mk(Seq(("X", 1L, 1L, 1.0))).schema
    val janUs = 1704067200L * 1000000L  // 2024-01-01
    val febUs = 1706745600L * 1000000L  // 2024-02-01

    // Watermark delay (40 days) deliberately exceeds the Jan→Feb refetch
    // horizon: a shorter delay would drop the late BTC-Jan upsert as a
    // late event (documented trade-off of in-stream dedup).
    val q = IncrementalIngest.runContinuous(spark, src, schema,
      keys = Seq("symbol", "ts_us"), version = Seq("ingest_seq"),
      tsCol = "tstamp", tableDir = table, checkpointDir = ckpt,
      intervalMs = 250, watermarkDelay = Some("40 days"))
    try {
      land(mk(Seq(("BTC", janUs, 1L, 100.0), ("BTC", febUs, 1L, 110.0),
        ("ETH", janUs, 1L, 10.0))), "b1")
      await(Seq(("BTC", janUs, 1L, 100.0), ("BTC", febUs, 1L, 110.0),
        ("ETH", janUs, 1L, 10.0)))

      // second live batch: a late re-fetch (newer version), an in-batch
      // exact re-delivery (same keys+version twice -> one survives the
      // within-watermark dedup), and a brand-new row
      land(mk(Seq(("BTC", janUs, 2L, 101.0), ("BTC", janUs, 2L, 101.0),
        ("ETH", febUs, 1L, 11.0))), "b2")
      await(Seq(("BTC", janUs, 2L, 101.0), ("BTC", febUs, 1L, 110.0),
        ("ETH", janUs, 1L, 10.0), ("ETH", febUs, 1L, 11.0)))

      // the data flowed through MULTIPLE ProcessingTime micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }
}
