package perfbench

/** Deterministic generators. Every value is a pure function of
  * (seed, coordinates), so the Spark side and the driver-side truth compute
  * identical values without shipping data around. Sizes never depend on the
  * seed: it only changes values.
  */
object Gen {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(a: Long, b: Long, c: Long, d: Long): Long =
    mix(mix(mix(mix(a) ^ b) ^ c) ^ d) >>> 1

  /** Exact 8-decimal string of a value held in 1e-8 units. */
  def dec8(u: Long): String = {
    val neg = u < 0
    val a = math.abs(u)
    val frac = (a % 100000000L).toString
    val sb = new java.lang.StringBuilder(24)
    if (neg) sb.append('-')
    sb.append(a / 100000000L).append('.')
    var pad = 8 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac).toString
  }
}

/** A raw kline page row, field for field what the exchange API returns
  * (`graft.domain.Klines.rawSchema`): epoch-millis longs, numbers as strings.
  */
final case class RawKline(
    timestamp: Long, open: String, high: String, low: String, close: String,
    volume: String, close_time: Long, quote_volume: String, trades_count: Long,
    taker_buy_volume: String, taker_buy_quote_volume: String, ignore: String)

/** One bar with every price and volume in exact 1e-8 units. */
final case class Bar(
    open: Long, high: Long, low: Long, close: Long, volume: Long,
    quoteVolume: Long, takerBuyVolume: Long, takerBuyQuoteVolume: Long,
    trades: Long) {
  def raw(ts: Long): RawKline = RawKline(
    ts, Gen.dec8(open), Gen.dec8(high), Gen.dec8(low), Gen.dec8(close),
    Gen.dec8(volume), ts + 59999L, Gen.dec8(quoteVolume), trades,
    Gen.dec8(takerBuyVolume), Gen.dec8(takerBuyQuoteVolume), "0")
}

/** The simulated exchange: a 1m kline feed per symbol whose newest
  * `Market.OverlapMin` bars are provisional (revision 0) and become final
  * (revision 1) once they fall behind that window — the reason the hourly
  * cycle re-fetches an overlap and relies on keep-last.
  */
final class Market(seed: Long) extends Serializable {
  import Market._

  def bar(s: Int, minute: Long, rev: Int): Bar = {
    def r(i: Int): Long = Gen.hash(seed * 31 + i, s, minute, rev)
    val base = BasePrice(s)
    val step = base / 1000000L
    val close = base + step * (r(1) % 20001 - 10000)
    val open = base + step * (r(2) % 20001 - 10000)
    val high = math.max(open, close) + step * (r(3) % 1001)
    val low = math.min(open, close) - step * (r(4) % 1001)
    val volume = 1000000L + r(5) % 1000000000L
    val takerBuy = volume * (r(6) % 101) / 100
    val px = close / 10000L
    Bar(open, high, low, close, volume, volume / 10000L * px,
      takerBuy, takerBuy / 10000L * px, 1 + r(7) % 5000)
  }

  /** Revision of bar `minute` as the exchange serves it at `nowMin`. */
  def rev(minute: Long, nowMin: Long): Int = if (minute >= nowMin - OverlapMin) 0 else 1

  def raw(s: Int, minute: Long, nowMin: Long): RawKline =
    bar(s, minute, rev(minute, nowMin)).raw(minute * 60000L)

  /** One API call: bars with open time in [cursorMs, endMs], at most `limit`. */
  def page(s: Int, cursorMs: Long, endMs: Long, limit: Int, nowMin: Long): Seq[RawKline] = {
    val from = math.max(Math.floorDiv(cursorMs + 59999L, 60000L), StartMin)
    val to = math.min(Math.floorDiv(endMs, 60000L), nowMin - 1)
    if (from > to) Nil
    else (from to math.min(to, from + limit - 1)).map(m => raw(s, m, nowMin))
  }

  /** Funding events per symbol: every 8 h plus a seeded sub-second offset. */
  def fundingMs(s: Int, k: Int): Long =
    StartMin * 60000L + k * 8L * 3600000L + Gen.hash(seed, 101 + s, k, 0) % 1000L
  def fundingRate(s: Int, k: Int): Double =
    (Gen.hash(seed, 201 + s, k, 0) % 2001 - 1000) / 1e7
  def markPrice(s: Int, k: Int): Double = BasePrice(s) / 1e8

  /** Index of the latest funding event at or before `tsMs`, or -1. */
  def fundingAt(s: Int, tsMs: Long): Int = {
    var k = ((tsMs - StartMin * 60000L) / (8L * 3600000L)).toInt + 1
    while (k >= 0 && fundingMs(s, k) > tsMs) k -= 1
    k
  }

  /** Exchange-info JSON in the shape `graft.domain.SymbolDim` parses. The
    * kline symbols come first; the rest are listed instruments with no bars.
    */
  def exchangeInfoJson: String = {
    val syms = Symbols.indices.map { s =>
      (Symbols(s), Base(s), Quote(s), if (s == BreakSymbol) "BREAK" else "TRADING")
    } ++ (0 until 40).map(i => (s"X${i}USDT", s"X$i", "USDT", if (i % 5 == 0) "BREAK" else "TRADING"))
    syms.map { case (sym, b, q, st) =>
      s"""{"symbol":"$sym","status":"$st","baseAsset":"$b","quoteAsset":"$q",""" +
        s""""isMarginTradingAllowed":true,"filters":[""" +
        s"""{"filterType":"PRICE_FILTER","minPrice":"0.01","tickSize":"0.01"},""" +
        s"""{"filterType":"LOT_SIZE","stepSize":"0.0001"}]}"""
    }.mkString("""{"symbols":[""", ",", "]}")
  }
}

object Market {
  val Symbols = Vector("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "ETHBTC")
  val Base = Vector("BTC", "ETH", "SOL", "BNB", "ETH")
  val Quote = Vector("USDT", "USDT", "USDT", "USDT", "BTC")
  val S: Int = Symbols.size
  val BreakSymbol = 4
  val BasePrice = Array(4200000000000L, 230000000000L, 9500000000L,
    31000000000L, 5500000L)
  /** 2024-01-27 00:00 UTC in epoch minutes: the first bar of every feed. */
  val StartMin: Long = 1706313600000L / 60000L
  /** Minutes re-fetched by every hourly cycle (the provisional tail). */
  val OverlapMin = 15
  val PageLimit = 1000
}
