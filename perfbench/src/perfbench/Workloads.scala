package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{Klines, SymbolDim}
import graft.ops.{ConnectedComponents, Dedup, MinHashLSH}
import graft.sources.PartitionedStore

/** One benchmark workload: a starting state and a closed loop of ops. An op
  * returns its output check, which the caller runs outside the timed span.
  */
trait Workload {
  /** Builds the starting state from scratch; safe to call repeatedly. */
  def setup(tr: Trace): Unit
  /** Untimed input preparation for op `i`. */
  def prepare(i: Int, tr: Trace): Unit = ()
  def op(i: Int, tr: Trace): () => Option[String]
  /** Rows the ops handed back to the caller so far (read-path denominator). */
  def rowsReturned: Long = 0L
  /** Per-layer values this workload measures beyond the trace's spans. */
  def layerCounts(tr: Trace): Map[String, Double] = Map.empty
}

/** Fixed sizes. The seed never changes them. */
final case class Sizes(
    backfillDays: Int, analystCycles: Int, docs: Int, setups: Int, warmOps: Int, ops: Int)

object Ingest {
  /** Files the last upsert added, the partitions they landed in, and their
    * bytes per byte of the batch it merged (the batch as the store's own
    * writer encodes it).
    */
  def record(tr: Trace, before: Map[String, Long], store: KlineStore): Unit = {
    val added = StoreFiles.list(store.dir).filter { case (p, _) => !before.contains(p) }
    val bytes = added.values.sum.toDouble
    tr.count("ingest.partitions_rewritten", added.keys.map(_.takeWhile(_ != '/')).toSet.size)
    tr.count("ingest.bytes_rewritten", bytes)
    tr.count("ingest.rewrite_ratio", bytes / store.batchBytes())
  }
}

/** `analyst_queries`: the store as the write path leaves it (backfill plus
  * `analystCycles` hourly update cycles, each checked for freshness); one op
  * is an analyst session running a fixed deck of queries with seeded,
  * Zipf-skewed, recent-biased parameters. Its setup is the benchmark's
  * measure of the write path.
  */
final class AnalystQueries(spark: SparkSession, mkt: Market, seed: Long, sz: Sizes, work: File)
    extends Workload {
  import spark.implicits._
  import Market._

  private var store: KlineStore = _
  private var rep = 0
  private var info: DataFrame = _
  private var funding: DataFrame = _
  private var returned = 0L
  override def rowsReturned: Long = returned

  def setup(tr: Trace): Unit = {
    if (store != null) StoreFiles.delete(new File(store.dir))
    rep += 1
    store = new KlineStore(spark, mkt, new File(work, s"store$rep").getPath)
    store.backfill(StartMin + sz.backfillDays * 1440L, tr)
    tr.count("store.bytes_written", StoreFiles.list(store.dir).values.sum)
    (0 until sz.analystCycles).foreach { _ =>
      val before = if (tr.enabled) StoreFiles.list(store.dir) else Map.empty[String, Long]
      store.checkFresh(store.cycleOnce(tr)).foreach(e => throw new IllegalStateException(e))
      if (tr.enabled) Ingest.record(tr, before, store)
    }
    info = spark.read.json(Seq(mkt.exchangeInfoJson).toDS())
    val events = ((store.nowMin - StartMin) / 480 + 2).toInt
    funding = (for (s <- 0 until S; k <- 0 until events)
      yield (Symbols(s), new java.sql.Timestamp(mkt.fundingMs(s, k)),
        mkt.fundingRate(s, k), mkt.markPrice(s, k)))
      .toDF("symbol", "fundingTime", "fundingRate", "markPrice")
    info.count()
  }

  private def table = PartitionedStore.read(spark, store.dir)
  private def ts(min: Long) = timestamp_millis(lit(min * 60000L))
  private def between(from: Long, until: Long) =
    col("timestamp") >= ts(from) && col("timestamp") < ts(until)

  /** Zipf(1.1) over symbols, most popular first. */
  private val zipf: Array[Double] = {
    val w = (1 to S).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def symbol(r: Random): Int = { val u = r.nextDouble(); zipf.indexWhere(u < _) max 0 }
  /** Geometric look-back with the given mean, capped. */
  private def back(r: Random, mean: Double, cap: Long): Long =
    math.min((-math.log(1 - r.nextDouble()) * mean).toLong, cap)

  private def run(tr: Trace, kind: String)(df: => DataFrame): Array[Row] = {
    val rows = tr.span(s"query.$kind")(df.collect())
    returned += rows.length
    rows
  }

  private def u(r: Row, i: Int): Long = r.getDecimal(i).unscaledValue.longValueExact

  def op(i: Int, tr: Trace): () => Option[String] = {
    val r = new Random(Gen.hash(seed, 7, i, 0))
    val now = store.nowMin
    val startHour = StartMin / 60
    val checks = Seq.newBuilder[() => Option[String]]

    // point lookup: one symbol, one hour of 1m bars
    {
      val s = symbol(r)
      val h = now / 60 - 1 - back(r, 24, now / 60 - 1 - startHour)
      val rows = run(tr, "point")(table.filter(col("symbol") === Symbols(s) && between(h * 60, h * 60 + 60))
        .select("timestamp", "open", "high", "low", "close", "volume", "trades_count")
        .orderBy("timestamp"))
      checks += (() => {
        val ok = rows.length == 60 && rows.zipWithIndex.forall { case (row, k) =>
          val m = h * 60 + k
          val b = mkt.bar(s, m, mkt.rev(m, now))
          row.getTimestamp(0).getTime == m * 60000L && u(row, 1) == b.open && u(row, 2) == b.high &&
            u(row, 3) == b.low && u(row, 4) == b.close && u(row, 5) == b.volume && row.getLong(6) == b.trades
        }
        if (ok) None else Some(s"point $s@$h")
      })
    }

    // latest bar per symbol (keep-last over the whole table)
    val latest = run(tr, "latest")(Dedup.keepLast(table, Seq("symbol"), Seq("timestamp"))
      .select("symbol", "timestamp", "close"))
    checks += (() => {
      val ok = latest.length == S && latest.forall { row =>
        val s = Symbols.indexOf(row.getString(0))
        row.getTimestamp(1).getTime == (now - 1) * 60000L && u(row, 2) == mkt.bar(s, now - 1, 0).close
      }
      if (ok) None else Some("latest")
    })

    // month range aggregate, recent-biased month
    {
      val s = symbol(r)
      val monthMin = if (r.nextDouble() < 0.7) store.monthStartMin(now - 1) else StartMin
      val end = math.min(now, store.monthStartMin(monthMin + 32 * 1440))
      val rows = run(tr, "month")(table.filter(col("symbol") === Symbols(s) && col("ym") === store.ym(monthMin))
        .agg(count(lit(1)), sum("volume"), max("high"), min("low"), sum("trades_count")))
      checks += (() => {
        var n = 0L; var vol = BigInt(0); var hi = Long.MinValue; var lo = Long.MaxValue; var trades = 0L
        var m = monthMin
        while (m < end) {
          val b = mkt.bar(s, m, mkt.rev(m, now))
          n += 1; vol += b.volume; hi = math.max(hi, b.high); lo = math.min(lo, b.low); trades += b.trades
          m += 1
        }
        val row = rows.head
        val ok = row.getLong(0) == n && BigInt(row.getDecimal(1).unscaledValue) == vol &&
          u(row, 2) == hi && u(row, 3) == lo && row.getLong(4) == trades
        if (ok) None else Some(s"month $s@$monthMin")
      })
    }

    // resample 1m -> 1h over a week
    {
      val s = symbol(r)
      val endDay = now / 1440 - back(r, 3, now / 1440 - StartMin / 1440 - 7)
      val from = (endDay - 7) * 1440; val until = math.min(endDay * 1440, now)
      val rows = run(tr, "resample")(Klines.resample(
          table.filter(col("symbol") === Symbols(s) && between(from, until)), "1 hour", "1h")
        .select("timestamp", "open", "high", "low", "close", "volume", "trades_count")
        .orderBy("timestamp"))
      checks += (() => {
        val hours = ((until - from) / 60).toInt
        val ok = rows.length == hours && rows.zipWithIndex.forall { case (row, k) =>
          val bars = (0 until 60).map { j => val m = from + k * 60 + j; mkt.bar(s, m, mkt.rev(m, now)) }
          row.getTimestamp(0).getTime == (from + k * 60) * 60000L && u(row, 1) == bars.head.open &&
            u(row, 2) == bars.map(_.high).max && u(row, 3) == bars.map(_.low).min &&
            u(row, 4) == bars.last.close && u(row, 5) == bars.map(_.volume).sum &&
            row.getLong(6) == bars.map(_.trades).sum
        }
        if (ok) None else Some(s"resample $s@$from")
      })
    }

    // star join: a day's quote volume per base asset over trading symbols
    {
      val day = now / 1440 - 1 - back(r, 2, now / 1440 - 1 - StartMin / 1440)
      val rows = run(tr, "star")(table.filter(between(day * 1440, day * 1440 + 1440))
        .join(SymbolDim.spotSymbols(info).filter(col("is_trading")).select("symbol", "base_asset"), "symbol")
        .groupBy("base_asset").agg(sum("quote_volume"), count(lit(1))))
      checks += (() => {
        val want = (0 until S).filter(_ != BreakSymbol).groupBy(Base(_)).map { case (b, ss) =>
          b -> ss.map(s => (0 until 1440).map { j =>
            val m = day * 1440 + j; BigInt(mkt.bar(s, m, mkt.rev(m, now)).quoteVolume)
          }.sum).sum
        }
        val got = rows.map(row => row.getString(0) -> BigInt(row.getDecimal(1).unscaledValue)).toMap
        val counts = rows.forall(row => row.getLong(2) == 1440L * (0 until S).count(s => s != BreakSymbol && Base(s) == row.getString(0)))
        if (got == want && counts) None else Some(s"star $day")
      })
    }

    // as-of join of 1m bars to the latest funding rate, 6 h window
    {
      val s = symbol(r)
      val until = now - back(r, 24 * 60, now - StartMin - 360)
      val from = until - 360
      val rows = run(tr, "asof")(Klines.withFundingRate(
          table.filter(col("symbol") === Symbols(s) && between(from, until)), funding)
        .select("timestamp", "fundingRate").orderBy("timestamp"))
      checks += (() => {
        val ok = rows.length == 360 && rows.zipWithIndex.forall { case (row, k) =>
          val t = (from + k) * 60000L
          val f = mkt.fundingAt(s, t)
          row.getTimestamp(0).getTime == t &&
            (if (f < 0) row.isNullAt(1) else row.getDouble(1) == mkt.fundingRate(s, f))
        }
        if (ok) None else Some(s"asof $s@$from")
      })
    }

    val all = checks.result()
    () => all.iterator.map(_()).collectFirst { case Some(e) => e }
  }

  override def layerCounts(tr: Trace): Map[String, Double] =
    Map("store.files" -> StoreFiles.list(store.dir).size.toDouble)
}

/** `corpus_dedup`: one op runs `Dedup.nearDupGroups` over a freshly landed
  * corpus with planted exact- and near-duplicate groups. Bypasses the store,
  * the ingest path and the kline domain entirely.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, sz: Sizes, work: File) extends Workload {
  import spark.implicits._

  private val Vocab = 50000
  private var landed = 0
  private var corpus: Corpus = _

  final case class Corpus(dir: String, cluster: Array[Int])

  /** Cluster shapes repeat every 20 clusters: 12 singletons, 4 exact-copy
    * groups (2-5 copies), 4 near-duplicate groups (2-4 variants with up to 3
    * replaced tokens each; the last also holds an exact copy of a variant).
    * A cluster's length is 10-100 tokens and depends on its index only.
    * A variant replaces at most one token per 10, so its 3-shingle Jaccard
    * with the first variant stays above `nearDupGroups`' 0.5 threshold.
    */
  private def generate(tag: Long): (Seq[(Long, String)], Array[Int]) = {
    def word(k: Long) = "w" + java.lang.Long.toString(k, 36)
    def tok(j: Int, pos: Int, salt: Int) = word(Gen.hash(seed, tag, j * 131L + salt, pos) % Vocab)
    val docs = Vector.newBuilder[String]
    val cluster = Array.newBuilder[Int]
    var n = 0; var j = 0
    while (n < sz.docs) {
      val len = 10 + (Gen.hash(0, 0, j, 0) % 91).toInt
      val base = Array.tabulate(len)(p => tok(j, p, 0))
      val texts: Seq[String] = j % 20 match {
        case k if k < 12 => Seq(base.mkString(" "))
        case k if k < 16 => Seq.fill(2 + (j / 20) % 4)(base.mkString(" "))
        case k =>
          val variants = (0 until 2 + (j / 20) % 3).map { v =>
            val t = base.clone()
            val edits = if (v == 0) 0 else math.min(1 + (Gen.hash(0, 1, j, v) % 3).toInt, (len - 2) / 10)
            (0 until edits).foreach { e =>
              t((Gen.hash(seed, tag, j, 2000 + v * 10 + e) % len).toInt) = tok(j, 3000 + v * 10 + e, 1)
            }
            t.mkString(" ")
          }
          if (k == 19) variants :+ variants.head else variants
      }
      texts.take(sz.docs - n).foreach { t => docs += t; cluster += j; n += 1 }
      j += 1
    }
    (docs.result().zipWithIndex.map { case (t, i) => (i.toLong, t) }, cluster.result())
  }

  private def land(tag: Long): Corpus = {
    val (docs, cluster) = generate(tag)
    landed += 1
    val dir = new File(work, s"corpus$landed").getPath
    docs.toDF("doc_id", "text").write.parquet(dir)
    Corpus(dir, cluster)
  }

  private def replace(c: Corpus): Unit = {
    if (corpus != null) StoreFiles.delete(new File(corpus.dir))
    corpus = c
  }

  def setup(tr: Trace): Unit = replace(land(-1 - landed))

  override def prepare(i: Int, tr: Trace): Unit = replace(land(i))

  def op(i: Int, tr: Trace): () => Option[String] = {
    val c = corpus
    val docs = spark.read.parquet(c.dir)
    val rows =
      if (!tr.enabled)
        Dedup.nearDupGroups(docs, "doc_id", "text").collect()
      else {
        // the same composition as nearDupGroups, forced at each layer boundary
        val (canon, membership) = tr.span("dedup.collapse") {
          val (cr, m) = Dedup.collapseByContent(docs, Seq("text"), "doc_id")
          (cr.localCheckpoint(true), m)
        }
        tr.count("dedup.canonical_ratio", canon.count().toDouble / c.cluster.length)
        val pairs = tr.span("lsh.pairs") {
          MinHashLSH.exactNearDuplicates(canon, "doc_id", "text").localCheckpoint(true)
        }
        tr.count("lsh.pairs_out", pairs.count())
        val (comp, rounds) = tr.span("cc") {
          val (cc, n) = ConnectedComponents.runCounted(pairs, "doc_a", "doc_b")
          (cc.localCheckpoint(true), n)
        }
        tr.count("cc.rounds", rounds)
        tr.span("dedup.expand") {
          membership.join(comp.withColumnRenamed("v", "canonical_id"), Seq("canonical_id"), "left")
            .select(col("member_id").as("doc_id"),
              coalesce(col("comp"), col("canonical_id")).as("group_id"))
            .collect()
        }
      }
    () => check(c, rows)
  }

  /** The output partition must equal the planted one exactly. */
  private def check(c: Corpus, rows: Array[Row]): Option[String] = {
    if (rows.length != c.cluster.length) return Some(s"rows ${rows.length}")
    val group = new Array[Long](c.cluster.length)
    rows.foreach(r => group(r.getLong(0).toInt) = r.getLong(1))
    val byGroup = group.indices.groupBy(group(_)).values.map(_.sorted).toSet
    val planted = c.cluster.indices.groupBy(c.cluster(_)).values.map(_.sorted).toSet
    if (byGroup == planted) None
    else Some(s"partition: ${byGroup.size} groups vs ${planted.size} planted")
  }
}
