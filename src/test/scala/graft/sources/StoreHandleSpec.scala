package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.IncrementalIngest

/** [[PartitionedStore.read]] holds one resolved table per (session, path)
  * and checks it against one listing of the table root on every read: a
  * read after any writer, the store's own or an outside one, sees the new
  * rows; a read with no write in between reuses the held table; a held
  * table caches and pins nothing.
  */
class StoreHandleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("symbol", "ts_us")

  private def bars(rows: (String, String, Long, Double)*): DataFrame =
    rows.toDF("symbol", "day", "ingest_seq", "close")
      .withColumn("tstamp", to_timestamp($"day")).drop("day")
      .withColumn("ts_us", unix_micros($"tstamp"))

  private def snapshot(df: DataFrame): Seq[(String, Long, Long, Double)] =
    df.select("symbol", "ts_us", "ingest_seq", "close")
      .as[(String, Long, Long, Double)].collect().toSeq.sorted

  private def upsert(batch: DataFrame, dir: String): Unit =
    IncrementalIngest.upsertBatch(spark, batch, keys, Seq("ingest_seq"), "tstamp", dir)

  private def freshDir(): String = Files.createTempDirectory("graft_handle").toString + "/t"

  /** January and February. */
  private val initial = bars(
    ("BTC", "2024-01-05", 1L, 100.0), ("ETH", "2024-01-06", 1L, 10.0),
    ("BTC", "2024-01-20", 1L, 101.0), ("ETH", "2024-02-03", 1L, 11.0),
    ("BTC", "2024-02-04", 1L, 102.0), ("SOL", "2024-02-05", 1L, 1.0))

  test("read, upsert, compact, read: every read after a write sees its rows") {
    val dir = freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir, buckets = 4)
    val first = PartitionedStore.read(spark, dir)
    assert(snapshot(first) === snapshot(initial))
    assert(PartitionedStore.read(spark, dir) eq first, "an unchanged table was resolved again")

    // a newer BTC bar in January and a new month; February stays as
    // written, one file per bucket, for compact
    val batch = bars(("BTC", "2024-01-05", 2L, 100.5), ("BTC", "2024-03-01", 2L, 103.0))
    upsert(batch, dir)
    val want = (snapshot(initial).filterNot(r => r._1 == "BTC" && r._3 == 1L && r._4 == 100.0) ++
      snapshot(batch)).sorted
    val afterUpsert = PartitionedStore.read(spark, dir)
    assert(afterUpsert ne first)
    assert(snapshot(afterUpsert) === want)

    val report = PartitionedStore.compact(spark, dir, Seq("symbol"), targetBytes = 1L << 30)
    assert(report.contains("202402"), s"February not fragmented: $report")
    assert(snapshot(PartitionedStore.read(spark, dir)) === want)
    assert(PartitionedStore.read(spark, dir).filter($"ym" === "202403").count() === 1)
  }

  test("an outside overwrite between two reads is seen") {
    val dir = freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir)
    assert(PartitionedStore.read(spark, dir).count() === 6)
    val replacement = bars(("DOGE", "2024-04-01", 7L, 0.1), ("DOGE", "2024-04-02", 7L, 0.2))
    replacement.write.mode("overwrite").parquet(dir)
    assert(snapshot(PartitionedStore.read(spark, dir)) === snapshot(replacement))
  }

  test("a clustered rewrite between two reads is seen") {
    val dir = freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir)
    assert(PartitionedStore.read(spark, dir).count() === 6)
    val grid = (0 until 40).map(i => (i % 7, i / 7, i.toDouble)).toDF("x", "y", "v")
    PartitionedStore.writeClustered(grid, "x", "y", dir, files = 4, tiles = 8)
    assert(PartitionedStore.read(spark, dir).select("x", "y", "v").as[(Int, Int, Double)]
      .collect().toSet === grid.as[(Int, Int, Double)].collect().toSet)
  }

  test("where directories carry no modification time, upserts and compactions are seen") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flattimes.impl", classOf[FlatTimesFileSystem].getName)
    val dir = "flattimes:" + freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir, buckets = 4)
    assert(PartitionedStore.read(spark, dir).count() === 6)
    // replaces January in place: same ym= names, same root _SUCCESS
    upsert(bars(("BTC", "2024-01-05", 2L, 100.5)), dir)
    val want = snapshot(PartitionedStore.read(spark, dir))
    assert(want.contains(("BTC", 1704412800000000L, 2L, 100.5)), want)
    assert(want.size === 6)
    assert(PartitionedStore.compact(spark, dir, Seq("symbol"), targetBytes = 1L << 30)
      .contains("202402"))
    assert(snapshot(PartitionedStore.read(spark, dir)) === want)
  }

  test("reading a deleted table fails as spark.read.parquet does") {
    val dir = freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir)
    assert(PartitionedStore.read(spark, dir).count() === 6)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val ours = intercept[AnalysisException](PartitionedStore.read(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition === theirs.getCondition)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("upsert into a file: URI table keeps the month's other rows") {
    val dir = new java.io.File(freshDir()).toURI.toString
    assert(dir.startsWith("file:"))
    upsert(bars(("BTC", "2024-01-05", 1L, 100.0), ("ETH", "2024-01-06", 1L, 10.0),
      ("SOL", "2024-01-07", 1L, 1.0)), dir)
    upsert(bars(("BTC", "2024-01-08", 2L, 100.5)), dir)
    assert(PartitionedStore.read(spark, dir).filter($"ym" === "202401").count() === 4)
  }

  test("held tables cache nothing and persist no RDD") {
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val dir = freshDir()
    PartitionedStore.write(initial, "tstamp", keys, dir)
    (1 to 3).foreach { _ =>
      PartitionedStore.read(spark, dir).filter($"symbol" === "BTC").collect()
    }
    upsert(bars(("BTC", "2024-01-09", 2L, 99.0)), dir)
    assert(PartitionedStore.read(spark, dir).count() === 7)
    assert(spark.sharedState.cacheManager.isEmpty, "a read left a CacheManager entry")
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "a read left an RDD persisted")
  }
}

/** The local file system under the `flattimes:` scheme, listing every
  * directory with modification time 0, as an object store lists prefixes.
  */
class FlatTimesFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flattimes:///")
  private def flat(s: FileStatus): FileStatus =
    if (s.isDirectory) new FileStatus(0L, true, 1, 0L, 0L, s.getPath) else s
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(flat)
  override def getFileStatus(p: Path): FileStatus = flat(super.getFileStatus(p))
}
