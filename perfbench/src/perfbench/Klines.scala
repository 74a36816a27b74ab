package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.Klines
import graft.sources.{Paginator, PartitionedStore}
import graft.streaming.IncrementalIngest

/** Parquet files under a store directory, as (relative path, bytes). */
object StoreFiles {
  def list(dir: String): Map[String, Long] = {
    val root = new File(dir)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** The kline write path `analyst_queries` builds its store with: backfill with
  * `PartitionedStore.write`, then hourly cycles of
  * fetch → normalize → dedupe → `IncrementalIngest.upsertBatch` → freshness.
  *
  * Each cycle's batch is what the reference loads from its per-symbol cache:
  * this cycle's fetch (new hour plus the re-fetched overlap) together with
  * the previous fetch's overlap tail, so `Klines.dedupe` has real work.
  */
final class KlineStore(spark: SparkSession, mkt: Market, val dir: String) {
  import spark.implicits._
  import Market._

  val Keys = Seq("symbol", "interval", "timestamp")
  var nowMin = 0L
  var cycle = 0L
  private var prevFetch: DataFrame = _
  /** The deduped batch the last cycle upserted. */
  private var lastBatch: DataFrame = _

  private def normalized(s: Int, rows: Seq[RawKline], seq: Long): DataFrame =
    Klines.normalize(rows.toDF(), Symbols(s), "binance", "spot", "1m")
      .withColumn("ingest_seq", lit(seq))

  /** Bars [StartMin, untilMin) of every symbol as the exchange serves them at
    * `untilMin`, written month-partitioned.
    */
  def backfill(untilMin: Long, tr: Trace): Unit = {
    StoreFiles.delete(new File(dir))
    val m = mkt
    val df = (0 until S).map { s =>
      Klines.normalize(
        spark.range(StartMin, untilMin, 1, 2).map(t => m.raw(s, t, untilMin)).toDF(),
        Symbols(s), "binance", "spot", "1m")
    }.reduce(_ unionByName _).withColumn("ingest_seq", lit(0L))
    tr.span("store.write") {
      PartitionedStore.write(df, "timestamp", Keys, dir)
    }
    nowMin = untilMin
    cycle = 0
    prevFetch = (0 until S).map { s =>
      normalized(s, (untilMin - OverlapMin until untilMin).map(t => mkt.raw(s, t, untilMin)), 0L)
    }.reduce(_ unionByName _)
  }

  def ym(min: Long): String =
    java.time.Instant.ofEpochSecond(min * 60).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))

  def monthStartMin(min: Long): Long = {
    val d = java.time.Instant.ofEpochSecond(min * 60).atZone(java.time.ZoneOffset.UTC)
      .withDayOfMonth(1).toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC)
    d.toEpochSecond / 60
  }

  /** One scheduled update cycle: advances the feed by an hour and upserts it.
    * Returns the freshness read (symbol → (max bar ms, rows this month)).
    */
  def cycleOnce(tr: Trace): Map[String, (Long, Long)] = {
    cycle += 1
    val fromMin = nowMin - OverlapMin
    nowMin += 60
    val now = nowMin
    var pages = 0
    val fetched = tr.span("paginator.fetch") {
      (0 until S).map { s =>
        Paginator.fetchRange(fromMin * 60000L, now * 60000L - 1, PageLimit) { (c, e, l) =>
          pages += 1; mkt.page(s, c, e, l, now)
        }(_.timestamp)
      }
    }
    tr.count("paginator.pages", pages)
    tr.count("paginator.rows", fetched.map(_.size).sum)

    val cur = tr.span("klines.normalize") {
      val df = fetched.indices.map(s => normalized(s, fetched(s), cycle)).reduce(_ unionByName _)
      if (tr.enabled) df.localCheckpoint(true) else df
    }
    val batch = cur.unionByName(
      prevFetch.filter(col("timestamp") >= timestamp_millis(lit(fromMin * 60000L))))
    val deduped = tr.span("klines.dedupe") {
      val d = Klines.dedupe(batch, "ingest_seq")
      if (tr.enabled) d.localCheckpoint(true) else d
    }
    if (tr.enabled) {
      val kept = deduped.count()
      tr.count("klines.dedupe_keep_ratio", kept.toDouble / (fetched.map(_.size).sum + S * OverlapMin))
    }
    tr.span("ingest.upsert") {
      IncrementalIngest.upsertBatch(spark, deduped, Keys, Seq("ingest_seq"), "timestamp", dir)
    }
    prevFetch = cur
    lastBatch = deduped
    PartitionedStore.read(spark, dir).filter(col("ym") === ym(now - 1))
      .groupBy("symbol").agg(max(col("timestamp")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getTimestamp(1).getTime, r.getLong(2))).toMap
  }

  /** Bytes of the last cycle's batch as `PartitionedStore.write` encodes it. */
  def batchBytes(): Long = {
    val out = new File(dir + "-batch")
    PartitionedStore.write(lastBatch, "timestamp", Keys, out.getPath)
    try StoreFiles.list(out.getPath).values.sum
    finally StoreFiles.delete(out)
  }

  /** Checks a cycle's freshness read against the feed: every symbol is
    * fresh to the last closed minute with one row per minute this month.
    */
  def checkFresh(fresh: Map[String, (Long, Long)]): Option[String] = {
    val monthRows = nowMin - math.max(monthStartMin(nowMin - 1), StartMin)
    Symbols.find(s => !fresh.get(s).contains(((nowMin - 1) * 60000L, monthRows)))
      .map(s => s"freshness of $s: ${fresh.get(s)}")
  }
}
