package graft
import java.nio.file.{Files, Paths}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session(cpus.toInt)
    // Stamp the EFFECTIVE parallelism into the artifact: the round-14 driver
    // flagged `suspect_cpus_ignored` because the 8-core and 32-core runs read
    // alike at sf0.1 (overhead-bound suite), and nothing in the output proved
    // $SPARK_GRAFT_CPUS took effect. These three fields make the contract
    // verifiable without trusting the source: defaultParallelism is what the
    // scheduler actually got from master local[$cpus].
    val cpusEffective = spark.sparkContext.defaultParallelism
    val masterEffective = spark.sparkContext.master
    val shufflePartitionsEffective = spark.conf.get("spark.sql.shuffle.partitions")
    // Warm the measured-scale scans (file listing, parquet footers, OS page
    // cache) so the first rep is not charged for cold I/O, then warm
    // JIT/codegen on every query plan at the smoke scale factor so the
    // measured run reflects data processing, not JVM startup (whole-stage
    // codegen compiles per plan shape; the first execution pays javac+JIT).
    val warmDir = "/root/testdata/sf0.001"
    Tables.all.foreach(n => Tables(spark, sfDir, n).count())
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      // Warmup failures are ignored here but resurface (and are recorded) in
      // the measured phase below.
      try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // Measured phase: REPS full passes over the query set, each pass in an
    // independently seeded-shuffled order. A positional host stall (the
    // round-5 false alarm: ~10 s swallowed four queries that happened to be
    // consecutive in sorted order) then hits a contiguous window of ONE pass
    // only — the other passes time those queries cleanly, min-of-reps absorbs
    // the stall, and the per-rep times recorded below make any surviving flag
    // self-adjudicating (a real regression is slow in every rep; a stall is
    // visibly bimodal). Seed is env-overridable for reproduction and recorded
    // in the output.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val errors = scala.collection.mutable.Map.empty[String, String]
    val repTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefault(_ => Vector.empty)
    for (pass <- 0 until reps) {
      val order = new scala.util.Random(seed + pass).shuffle(names)
      // A query that errored in an earlier pass is skipped: a time + an error
      // for the same query would make bench_out.json ambiguous.
      for (name <- order if !errors.contains(name)) {
        val fn = SparkEntry.queries(name)
        // noop sink: full evaluation of every operator (count() would let
        // Catalyst drop sorts and prune the projection being measured).
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // clearCache() between queries so one query's persisted data can't
        // distort another's number; each rep measures the query fresh on a
        // warm JVM.
        spark.catalog.clearCache()
        if (ok) repTimes(name) = repTimes(name) :+ dt
      }
    }
    val results = names.map { name =>
      val ts = repTimes(name)
      val err = errors.get(name)
      (name, if (err.isEmpty && ts.nonEmpty) Some(ts.min) else None, err, ts)
    }
    def jq(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _, _) =>
      jq(k) + ":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, _, ts) =>
      jq(k) + ":" + ts.map(t => math.round(t * 1000.0) / 1000.0).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m), _) => jq(k) + ":" + jq(m) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // Regression gate against the committed per-query baseline
    // (BASELINE_BENCH.json, idle-host min-of-N): a query is flagged only
    // when BOTH the ratio exceeds the recorded noise factor AND the absolute
    // delta exceeds the floor — sub-second queries swing up to 2× on this
    // host from scheduler noise alone (SURVEY §6.2), so ratio alone
    // over-flags exactly the queries that matter least.
    val (ratios, flagged, baselineStamp) = {
      // Baseline file selectable per scale point: the sf0.1 gate reads the
      // default; the committed 10×-replica artifact (BENCH_sf1.json) gates
      // against BASELINE_BENCH_sf1.json via this env var. The chosen file
      // AND the flag policy are stamped into the artifact below, so a run
      // gated against the wrong baseline (the round-10 BENCH_sf1.json
      // defect: 10× times vs sf0.1 baselines → 40 bogus self-reported
      // regressions) is visible at review time instead of needing a
      // re-derivation.
      val p = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_BENCH.json"))
      // Both branches emit the SAME artifact schema: baseline_file always a
      // string (the path that was looked for), baseline_missing always a
      // boolean, noise_factor/abs_floor_sec always present (the defaults a
      // present-but-sparse baseline would get).
      if (!Files.exists(p))
        ("{}", Seq.empty[String],
          s""""baseline_file":${jq(p.toString)},"baseline_missing":true,""" +
            s""""noise_factor":2.0,"abs_floor_sec":1.0""")
      else {
        val b = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
        import org.json4s.DefaultFormats
        implicit val fmts: org.json4s.Formats = DefaultFormats
        val noiseFactor = (b \ "noise_factor").extractOpt[Double].getOrElse(2.0)
        val absFloor = (b \ "abs_floor_sec").extractOpt[Double].getOrElse(1.0)
        val base = (b \ "queries").extractOpt[Map[String, Double]].getOrElse(Map.empty)
        val withBase = results.collect {
          case (k, Some(v), _, _) if base.contains(k) => (k, v, base(k))
        }
        val rj = withBase.map { case (k, v, b0) =>
          jq(k) + ":" + (math.round(v / b0 * 100.0) / 100.0)
        }.mkString("{", ",", "}")
        val fl = withBase.collect {
          case (k, v, b0) if v > noiseFactor * b0 && v - b0 > absFloor => k
        }
        (rj, fl,
          s""""baseline_file":${jq(p.toString)},"baseline_missing":false,""" +
            s""""noise_factor":$noiseFactor,"abs_floor_sec":$absFloor""")
      }
    }
    val flaggedJson = flagged.map(jq).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$repsJson,""" +
        s""""order_seed":$seed,"errors":$errs,$baselineStamp,"vs_baseline":$ratios,""" +
        s""""regressions":$flaggedJson,""" +
        s""""cpus_requested":${jq(cpus)},"cpus_effective":$cpusEffective,""" +
        s""""master":${jq(masterEffective)},""" +
        s""""shuffle_partitions":${jq(shufflePartitionsEffective)},""" +
        s""""sf":"$sfDir"}"""
    println(json)
    // Also write to a file so the driver never has to scrape the JSON out of
    // sbt's [info]/stderr noise. The path is EXPLICIT (first arg, else
    // GRAFT_BENCH_OUT, else /tmp) — never the repo root by default: two
    // rounds in a row a smoke/probe run silently clobbered the committed
    // sf0.1 bench_out.json (restored in 2819eff and again in round 13).
    // Publishing the committed artifact is now an explicit act:
    //   GRAFT_BENCH_OUT=/root/repo/bench_out.json sbt "runMain graft.Bench"
    val outPath = args.headOption
      .orElse(sys.env.get("GRAFT_BENCH_OUT"))
      .getOrElse("/tmp/bench_out.json")
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
    // A crashing query must fail the bench loudly, not record a fast fake
    // time and exit 0.
    if (results.exists(_._3.isDefined)) sys.exit(1)
  }
}
