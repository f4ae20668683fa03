package perfbench

import java.sql.{Date, Timestamp}
import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{FxRate, RateProvider}

/** One bar as the feed delivers it; prices and volume may be null. */
final case class Bar(open: java.lang.Double, high: java.lang.Double, low: java.lang.Double,
    close: java.lang.Double, adjClose: java.lang.Double, volume: java.lang.Double)

/** Seeded synthetic feed in the yfinance shape: a wide frame with one row per
  * hourly timestamp and one `<ticker>:<field>` column per ticker and field.
  *
  * Tick `k` re-delivers the trailing 48 hourly bars ending `6k` hours after
  * the history window, so 7/8 of its keys are already in the lake. A seeded
  * share of bars is corrected once, on a later re-delivery. Currencies
  * include USD (identity rate) and several others whose rates exist on
  * business days only, so weekend bars take the missing-rate path. Some
  * tickers never report volume and some bars miss it; a few bars carry no
  * prices at all.
  */
final class TickGen(val seed: Long, val nTickers: Int) {
  val windowHours = 48
  val stepHours = 6
  /** Hours of history the lake is seeded with before the first tick (one
    * window, so every tick re-delivers 42 hours the lake already holds). */
  val historyHours = 48

  private def mix(xs: Long*): Long = xs.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x632BE59BD9B4E019L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }
  /** Uniform in [0, n) from the seed and the given coordinates. */
  private def pick(n: Int, xs: Long*): Int = java.lang.Math.floorMod(mix(xs: _*), n.toLong).toInt
  /** Uniform in [0, 1) from the seed and the given coordinates. */
  private def u(xs: Long*): Double = (mix(xs: _*) >>> 11).toDouble / (1L << 53)

  val currencies: Vector[String] = Vector("USD", "EUR", "GBP", "JPY", "CNY", "INR", "CHF", "CAD")
  private val baseRate = Map("USD" -> 1.0, "EUR" -> 1.08, "GBP" -> 1.27, "JPY" -> 0.0067,
    "CNY" -> 0.138, "INR" -> 0.012, "CHF" -> 1.12, "CAD" -> 0.74)

  val tickers: Vector[String] = Vector.tabulate(nTickers)(i => f"IX$i%04d")
  val currencyOf: Vector[String] = Vector.tabulate(nTickers)(i =>
    if (i % 4 == 0) "USD" else currencies(1 + pick(currencies.length - 1, i, 1)))
  private val noVolume: Vector[Boolean] = Vector.tabulate(nTickers)(i => u(i, 2) < 0.2)
  private val basePrice: Vector[Double] = Vector.tabulate(nTickers)(i => 100 + 9900 * u(i, 3))

  /** First hour of the feed: a Monday, shifted by the seed so weekends fall
    * at different tick positions.
    */
  val anchor: Instant = LocalDate.of(2025, 1, 6).plusDays(seed.abs % 5)
    .atStartOfDay(ZoneOffset.UTC).toInstant

  def hourInstant(h: Int): Instant = anchor.plusSeconds(3600L * h)
  def hourMicros(h: Int): Long = anchor.getEpochSecond * 1000000L + 3600L * 1000000L * h

  /** Hours tick `k` delivers (tick -1 is the seeded history). */
  def hoursOf(k: Int): Range =
    if (k < 0) 0 until historyHours
    else {
      val end = historyHours + stepHours * (k + 1)
      (end - windowHours) until end
    }

  /** The tick at which bar (i, h) is corrected, if it ever is: one of its
    * re-deliveries after the first.
    */
  private def correctionTick(i: Int, h: Int): Option[Int] =
    if (u(i, h, 4) >= 0.03) None
    else {
      val first = math.max(0, math.ceil((h + 1 - historyHours - stepHours).toDouble / stepHours).toInt)
      Some(first + 1 + pick(windowHours / stepHours - 1, i, h, 5))
    }

  def bar(i: Int, h: Int, tick: Int): Bar = {
    if (u(i, h, 6) < 0.01) return Bar(null, null, null, null, null, null)
    val corr = if (correctionTick(i, h).exists(tick >= _)) 1.005 else 1.0
    val p = basePrice(i) * (1 + 0.02 * (u(i, h, 7) - 0.5)) * corr
    val close = p * (1 + 0.004 * (u(i, h, 8) - 0.5))
    val high = math.max(p, close) * (1 + 0.002 * u(i, h, 9))
    val low = math.min(p, close) * (1 - 0.002 * u(i, h, 10))
    val vol: java.lang.Double =
      if (noVolume(i) || u(i, h, 11) < 0.05) null
      else java.lang.Double.valueOf(math.floor(1e4 + 1e6 * u(i, h, 12)))
    Bar(p, high, low, close, close, vol)
  }

  /** The business-day rate of `ccy` → USD on `day`, or None on weekends. */
  def rate(ccy: String, day: LocalDate): Option[Double] =
    if (day.getDayOfWeek == DayOfWeek.SATURDAY || day.getDayOfWeek == DayOfWeek.SUNDAY) None
    else Some(baseRate(ccy) * (1 + 0.01 * (u(currencies.indexOf(ccy), day.toEpochDay, 13) - 0.5)))

  val fields: Seq[String] = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")

  val wideSchema: StructType = StructType(StructField("ts", TimestampType, nullable = false) +:
    tickers.flatMap(t => fields.map(f => StructField(s"$t:$f", DoubleType))))

  /** Driver-side rows of tick `k`'s wide frame. */
  def wideRows(k: Int): java.util.List[Row] = {
    val rows = new java.util.ArrayList[Row]()
    for (h <- hoursOf(k)) {
      val vals = new Array[Any](1 + nTickers * fields.length)
      vals(0) = Timestamp.from(hourInstant(h))
      for (i <- 0 until nTickers) {
        val b = bar(i, h, k)
        val o = 1 + i * fields.length
        vals(o) = b.open; vals(o + 1) = b.high; vals(o + 2) = b.low
        vals(o + 3) = b.close; vals(o + 4) = b.adjClose; vals(o + 5) = b.volume
      }
      rows.add(Row.fromSeq(vals.toSeq))
    }
    rows
  }

  def wide(spark: SparkSession, k: Int): DataFrame = spark.createDataFrame(wideRows(k), wideSchema)

  def dim(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(tickers.indices.map(i => Row(tickers(i),
      f"Index ${tickers(i)}", s"C${i % 17}", s"X${i % 5}", currencyOf(i))): _*),
      StructType(Seq("ticker", "name", "country", "exchange", "currency")
        .map(StructField(_, StringType))))
}

/** The benchmark's own rate source: counts pairs requested and rates
  * returned, and the time spent answering.
  */
final class CountingRates(gen: TickGen) extends RateProvider {
  var requested = 0L
  var returned = 0L
  var ns = 0L
  def rates(pairs: Seq[(String, Date)], target: String): Seq[FxRate] = {
    val t0 = System.nanoTime()
    requested += pairs.length
    val out = pairs.flatMap { case (ccy, d) =>
      gen.rate(ccy, d.toLocalDate).map(r => FxRate(ccy, target, d, r))
    }
    returned += out.length
    ns += System.nanoTime() - t0
    out
  }
}
