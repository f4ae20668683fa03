package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The benchmark harness: one process, `local[nproc]`, one client thread
  * sending one operation at a time in a closed loop.
  *
  * {{{
  * perfbench.Main --workload <ingest_ticks|queries>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--data <tables dir>]
  * }}}
  *
  * Writes `<work>/result.json`: every metric it measured (name → value,
  * unit), operations attempted and failed, and the run environment; with
  * `--trace 1` also `<work>/spans.jsonl`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("data", ""))
  }

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Tickers in the ingest feed. */
  val Tickers = 16
  /** Untimed ticks between seeding and measurement. */
  val WarmTicks = 1
  /** The measured phase runs at least this many ticks / passes. */
  val MinTicks = 2
  val MinPasses = 1

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.tune(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val calibStart = Calib.run()
    HeapWatch.install()
    val out = new Outcome
    val tr = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = {
      require(Stats.validName(name), s"bad metric name $name")
      metrics(name) = (v, unit)
    }
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    def setupRep(body: SparkSession => Unit): Unit = {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.work)
      body(spark)
      setup += (System.nanoTime() - t0) / 1e9
      Log(f"set-up ${setup.last}%.2f s")
    }

    val report: Report = a.workload match {
      case "ingest_ticks" =>
        val ing = new Ingest(a.seed, Tickers, a.work, out, tr)
        (0 until SetupReps).foreach(_ => setupRep(ing.seedLakes))
        val tw = System.nanoTime()
        (0 until WarmTicks).foreach(_ => ing.runTick(spark))
        val warm = (System.nanoTime() - tw) / 1e9
        Log(f"warm-up $warm%.2f s")
        Log(f"quiesce ${Quiesce()}%.2f s")
        val collector = if (a.trace) Some(new Collector(spark)) else None
        ing.collector = collector
        HeapWatch.reset()
        val cycles = mutable.ArrayBuffer.empty[Double]
        val ops = mutable.ArrayBuffer.empty[(String, Double)]
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < a.seconds || cycles.length < MinTicks) {
          val c0 = System.nanoTime()
          ops ++= tr.span("tick")(ing.runTick(spark))
          cycles += (System.nanoTime() - c0) / 1e9
          Log(f"tick ${cycles.length}: " + ops.takeRight(8).map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
        }
        val measured = (System.nanoTime() - t0) / 1e9
        val heap = HeapWatch.peakMb()
        collector.foreach(_.stop())
        ing.finalChecks(spark)
        Report.ingest(ing, cycles.toSeq, ops.toSeq, Stats.median(setup.toSeq) + warm, heap,
          measured, out)

      case "queries" =>
        val names = QuerySets.market ++ QuerySets.corpus
        val q = new QueryRun(names, a.data, a.seed, a.work, out, tr)
        Files.write(s"${a.work}/oracle_sql.json", Json(SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
        (0 until SetupReps).foreach(_ => setupRep(q.register))
        val tw = System.nanoTime()
        q.pass(spark, 0, None)
        val warm = (System.nanoTime() - tw) / 1e9
        Log(f"warm-up pass $warm%.2f s")
        Log(f"quiesce ${Quiesce()}%.2f s")
        val collector = if (a.trace) Some(new Collector(spark)) else None
        HeapWatch.reset()
        val t0 = System.nanoTime()
        var p = 1
        while ((System.nanoTime() - t0) / 1e9 < a.seconds || p <= MinPasses) {
          q.pass(spark, p, collector)
          Log(f"pass $p ${q.passWall.last}%.2f s")
          p += 1
        }
        val measured = (System.nanoTime() - t0) / 1e9
        val heap = HeapWatch.peakMb()
        collector.foreach(_.stop())
        Report.queries(q, Stats.median(setup.toSeq) + warm, heap, measured, out)

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    report.metrics.foreach { case (n, (v, u)) => put(n, v, u) }
    put("host.calib_start_s", calibStart, "s")
    put("host.calib_end_s", Calib.run(), "s")
    if (a.trace) {
      put("trace.overhead_frac", tr.overheadNs / 1e9 / report.measuredS, "ratio")
      // wall time of a measured cycle not covered by any layer span
      val cycles = tr.spans.filter(s => s.name == "tick" || s.name == "pass").drop(
        if (a.workload == "ingest_ticks") 0 else 1)
      val self = SpanMath.selfTimes(tr.spans)
      if (cycles.nonEmpty) put("trace.uncovered_s", Stats.median(cycles.map(c => self(c.id) / 1e9)), "s")
      Files.write(s"${a.work}/spans.jsonl", tr.spans.map(s => Json(Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "run" -> s.run))).mkString("", "\n", "\n"))
    }
    val env = Map(
      "seed" -> a.seed.toString,
      "workload" -> a.workload,
      "trace" -> a.trace.toString,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "available_processors" -> cpus.toString)
    spark.stop()
    Files.write(s"${a.work}/result.json", Json(Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "errors" -> out.errors.toSeq,
      "env" -> env,
      "plan_shapes" -> report.planShapes,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) })))
  }
}
