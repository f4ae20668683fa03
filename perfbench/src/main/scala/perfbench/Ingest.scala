package perfbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, SnapshotLake, Standardizer}
import graft.streaming.LakeChangeFeed

/** `ingest_ticks`: the reference's only job, run as a closed loop of ticks
  * against a lake that grows for the whole run. Every tick's outputs are
  * checked against a model the benchmark keeps from the bars it delivered.
  */
final class Ingest(seed: Long, nTickers: Int, work: String, out: Outcome, tr: Tracer) {
  val gen = new TickGen(seed, nTickers)
  val rates = new CountingRates(gen)
  private val indicesLake = s"$work/lake/indices"
  private val quotesLake = s"$work/lake/quotes"
  private val parquetTarget = s"$work/parquet/quotes"
  private val consumerDir = s"$work/lake/cdc-consumer"

  /** Expected state: last delivered bar per (ticker index, hour). */
  private val model = mutable.HashMap.empty[(Int, Int), Bar]
  private var dim: DataFrame = _
  private var tick = 0

  /** Deliver tick `k`'s bars to the model; returns the keys that changed. */
  private def deliver(k: Int): Set[(Int, Int)] = {
    val changed = mutable.Set.empty[(Int, Int)]
    for (h <- gen.hoursOf(k); i <- 0 until nTickers) {
      val b = gen.bar(i, h, k)
      if (!model.get((i, h)).contains(b)) changed += ((i, h))
      model((i, h)) = b
    }
    changed.toSet
  }

  /** Fresh lakes seeded with the history window; the CDC consumer
    * bootstraps from the seeded snapshot. The parquet target starts empty:
    * the first tick's `Pipeline.run` creates it.
    */
  def seedLakes(spark: SparkSession): Unit = {
    Seq("lake", "parquet").foreach(d => Files.deleteTree(s"$work/$d"))
    model.clear()
    tick = 0
    dim = gen.dim(spark).localCheckpoint()
    val long = Standardizer.unpivotWide(gen.wide(spark, -1))
    Pipeline.runLake(spark, long, dim, rates, indicesLake, quotesLake)
    deliver(-1)
    LakeChangeFeed.followAvailableNow(spark, quotesLake, consumerDir, (df, _) => df.count())
  }

  /** One tick cycle. Returns per-operation wall seconds, the commit first. */
  def runTick(spark: SparkSession): Seq[(String, Double)] = {
    val k = tick
    tick += 1
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    def op[T](name: String)(body: => T): Option[T] = {
      out.attempted += 1
      val before = collector.map(c => tr.bookkeeping { c.take(); LakeState(this) })
      val (req0, ret0, ns0) = (rates.requested, rates.returned, rates.ns)
      val s0 = Clock.nowNs()
      val t0 = System.nanoTime()
      val r =
        try {
          val r = tr.span(name)(body)
          times += name -> (System.nanoTime() - t0) / 1e9
          Some(r)
        } catch {
          case e: Exception =>
            out.fail(s"tick $k $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      val s1 = Clock.nowNs()
      collector.foreach { c =>
        tr.bookkeeping {
          val (st, jb, pl) = c.take()
          opTraces += OpTrace(k, name, s0, s1, st, jb, pl, before.get, LakeState(this),
            rates.requested - req0, rates.returned - ret0, rates.ns - ns0)
        }
      }
      r
    }
    val wide = gen.wide(spark, k)
    var long: DataFrame = null
    op("commit") {
      val u0 = System.nanoTime()
      long = tr.span("standardizer.unpivotWide")(Standardizer.unpivotWide(wide))
      unpivotNs(k) = System.nanoTime() - u0
      val m = tr.span("pipeline.runLake")(
        Pipeline.runLake(spark, long, dim, rates, indicesLake, quotesLake))
      rowsOut += m.rows
    }
    val changed = deliver(k)
    changedPerTick(k) = changed.size
    if (long != null) op("parquet") {
      tr.span("pipeline.run")(Pipeline.run(spark, long, dim, rates, parquetTarget))
    }
    op("cdc") {
      val keys = mutable.Set.empty[(String, Long)]
      var gens = 0
      tr.span("cdc.followAvailableNow") {
        LakeChangeFeed.followAvailableNow(spark, quotesLake, consumerDir, (df, _) => {
          gens += 1
          df.select("ticker", "timestamp_utc").collect().foreach(r =>
            keys += ((r.getString(0), micros(r.get(1)))))
        })
      }
      cdcRows += keys.size
      cdcGens += gens
      val got = keys.toSet
      val want = changed.map { case (i, h) => (gen.tickers(i), gen.hourMicros(h)) }
      if (got != want) out.fail(s"tick $k cdc: delivered ${got.size} keys, " +
        s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
    }
    readChecks(spark, k).foreach { case (name, body) => op(name)(body()) }
    times.toSeq
  }

  val rowsOut = mutable.ArrayBuffer.empty[Long]
  val cdcRows = mutable.ArrayBuffer.empty[Long]
  val cdcGens = mutable.ArrayBuffer.empty[Long]
  /** Set for the measured phase of a traced run. */
  var collector: Option[Collector] = None
  val opTraces = mutable.ArrayBuffer.empty[OpTrace]
  /** Keys new or changed by each tick, and time spent resolving reads. */
  val changedPerTick = mutable.Map.empty[Int, Int]
  val resolveNs = mutable.Map.empty[Int, Long]
  val unpivotNs = mutable.Map.empty[Int, Long]
  var retainedAtEnd = 0

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case i: Instant => DateTimeUtils.instantToMicros(i)
  }

  private def hourOfMicros(us: Long): Int =
    ((us - gen.hourMicros(0)) / (3600L * 1000000L)).toInt

  private def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) out.fail(s"$what: $detail")

  /** The README reads on the live lake, each checked against the model. */
  private def readChecks(spark: SparkSession, k: Int): Seq[(String, () => Unit)] = {
    val x = (k * 7 + seed.abs.toInt % nTickers) % nTickers
    val xt = gen.tickers(x)
    val newest = gen.hoursOf(k).last
    val dayStart = (newest / 24 - 1) * 24
    def resolve(what: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      try tr.span(s"lake.resolve.$what")(df)
      finally resolveNs(k) = resolveNs.getOrElse(k, 0L) + System.nanoTime() - t0
    }
    val ts = col("timestamp_utc")
    Seq(
      "read.latest5" -> (() => {
        val got = resolve("read")(SnapshotLake.read(spark, quotesLake))
          .filter(col("ticker") === xt).orderBy(ts.desc).limit(5)
          .select(ts).collect().map(r => hourOfMicros(micros(r.get(0)))).toSeq
        val want = model.keys.filter(_._1 == x).map(_._2).toSeq.sorted.reverse.take(5)
        check(s"tick $k latest5", got == want, s"$got != $want")
      }),
      "read.day" -> (() => {
        val lo = java.sql.Timestamp.from(gen.hourInstant(dayStart))
        val hi = java.sql.Timestamp.from(gen.hourInstant(dayStart + 23))
        val got = resolve("readSlice")(
          SnapshotLake.readSlice(spark, quotesLake, "timestamp_utc", Some(lo), Some(hi)))
          .filter(col("ticker") === xt).select(ts).collect()
          .map(r => hourOfMicros(micros(r.get(0)))).toSet
        val want = model.keys.collect { case (`x`, h) if h >= dayStart && h < dayStart + 24 => h }.toSet
        check(s"tick $k day", got == want, s"${got.size} hours != ${want.size}")
      }),
      "read.in" -> (() => {
        val set = Seq(x, (x + 1) % nTickers, (x + 2) % nTickers)
        val got = resolve("readIn")(
          SnapshotLake.readIn(spark, quotesLake, "ticker", set.map(gen.tickers)))
          .groupBy("ticker").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = set.map(i => gen.tickers(i) -> model.keys.count(_._1 == i).toLong).toMap
        check(s"tick $k in", got == want, s"$got != $want")
      }),
      "read.indices" -> (() => {
        val got = resolve("read")(SnapshotLake.read(spark, indicesLake))
          .orderBy("name").select("ticker").collect().map(_.getString(0)).toSeq
        check(s"tick $k indices", got == gen.tickers, s"${got.size} tickers")
      }),
      "read.join" -> (() => {
        val lo = java.sql.Timestamp.from(gen.hourInstant(dayStart))
        val hi = java.sql.Timestamp.from(gen.hourInstant(dayStart + 23))
        val q = resolve("readSlice")(
          SnapshotLake.readSlice(spark, quotesLake, "timestamp_utc", Some(lo), Some(hi)))
        val i = resolve("read")(SnapshotLake.read(spark, indicesLake))
        val got = q.select("ticker", "timestamp_utc", "close_usd")
          .join(i.select(col("ticker"), col("name").as("index_name")), "ticker")
          .count()
        val want = model.keys.count { case (_, h) => h >= dayStart && h < dayStart + 24 }.toLong
        check(s"tick $k join", got == want, s"$got != $want")
      }))
  }

  /** Compare a quotes table with the model: last write wins per key,
    * `*_usd` = price × rate, null without a rate, rate 1.0 for USD.
    */
  def checkQuotes(what: String, df: DataFrame, firstHour: Int = 0): Unit = {
    out.attempted += 1
    val cols = Seq("ticker", "timestamp_utc", "original_currency", "open", "high", "low", "close",
      "adjusted_close", "volume", "open_usd", "high_usd", "low_usd", "close_usd",
      "adjusted_close_usd")
    val rows = df.select(cols.map(col): _*).collect()
    val idx = gen.tickers.zipWithIndex.toMap
    var bad = 0
    var example = ""
    val seen = mutable.Set.empty[(Int, Int)]
    rows.foreach { r =>
      val i = idx.getOrElse(r.getString(0), -1)
      val h = hourOfMicros(micros(r.get(1)))
      val ok = h >= firstHour && model.get((i, h)).exists { b =>
        val ccy = gen.currencyOf(i)
        val day = gen.hourInstant(h).atZone(ZoneOffset.UTC).toLocalDate
        val rate: Option[Double] = if (ccy == "USD") Some(1.0) else gen.rate(ccy, day)
        def dbl(c: Int): java.lang.Double = if (r.isNullAt(c)) null else r.getDouble(c)
        val prices = Seq(b.open, b.high, b.low, b.close, b.adjClose)
        val usd = prices.map(p => if (p == null || rate.isEmpty) null
          else java.lang.Double.valueOf(p * rate.get))
        val vol = if (r.isNullAt(8)) null else java.lang.Double.valueOf(r.getLong(8).toDouble)
        r.getString(2) == ccy && (3 to 7).map(dbl) == prices && vol == b.volume &&
          (9 to 13).map(dbl) == usd
      }
      if (!ok && bad == 0) example = r.toString
      if (!ok) bad += 1
      seen += ((i, h))
    }
    val keys = model.keys.count(_._2 >= firstHour)
    if (bad > 0 || rows.length != keys || seen.size != rows.length)
      out.fail(s"$what: ${rows.length} rows for $keys keys, $bad wrong (e.g. $example)")
  }

  def finalChecks(spark: SparkSession): Unit = {
    checkQuotes("quotes lake", SnapshotLake.read(spark, quotesLake))
    checkQuotes("parquet target", spark.read.parquet(parquetTarget), gen.hoursOf(0).head)
    out.attempted += 1
    val idx = SnapshotLake.read(spark, indicesLake).select("ticker").collect().map(_.getString(0))
    if (idx.sorted.toSeq != gen.tickers) out.fail(s"indices lake holds ${idx.length} tickers")
    retainedAtEnd = SnapshotLake.retainedGens(spark, quotesLake).length
  }

  def liveQuoteRows: Long = model.size.toLong
  def lakeBytes: Long = Files.treeBytes(s"$work/lake")
  def lakeDirs: Seq[String] = Seq(indicesLake, quotesLake)
}

/** Files and manifest entries of both lakes at one instant (traced runs). */
final case class LakeState(files: Map[String, Long], entries: Map[String, Long], liveRows: Long)

object LakeState {
  def apply(ing: Ingest): LakeState = {
    val spark = SparkSession.active
    val files = ing.lakeDirs.flatMap(Files.parquetFiles).map(f => f -> new java.io.File(f).length).toMap
    val entries = ing.lakeDirs.flatMap(d => SnapshotLake.currentManifest(spark, d).toSeq
      .flatMap(_.entries.map(e => s"$d/${e.value}" -> e.gen))).toMap
    LakeState(files, entries, ing.liveQuoteRows)
  }
}

/** One operation of a traced tick, with what the listener saw during it and
  * the lake and rate-provider state on either side.
  */
final case class OpTrace(tick: Int, name: String, startNs: Long, endNs: Long, stages: Seq[StageRec],
    jobs: Seq[JobRec], plans: Seq[PlanRec], before: LakeState, after: LakeState,
    pairsRequested: Long, ratesReturned: Long, ratesNs: Long)
