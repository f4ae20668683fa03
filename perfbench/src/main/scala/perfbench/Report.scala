package perfbench

import scala.collection.mutable

/** The metrics of one run: every end-to-end metric, the workload's own
  * timings, and — in a traced run — the per-layer breakdown. Per-layer
  * metrics a workload does not exercise read 0.
  */
final case class Report(metrics: Seq[(String, (Double, String))], measuredS: Double,
    planShapes: Map[String, Map[String, Any]] = Map.empty)

object Report {
  private final class Acc {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = m(n) = (v, u)
  }

  /** Per-layer names every workload reports, zero where not exercised. */
  private def layerDefaults(a: Acc): Unit = {
    Seq("standardizer.self_s", "fx.distinct_pairs_s", "fx.self_s", "upsert.parquet_merge_s", "lake.merge_quotes_s", "lake.merge_indices_s",
      "lake.commit_driver_s", "lake.resolve_s", "spark.executor_run_s", "spark.executor_cpu_s",
      "spark.driver_only_s", "plans.planning_s", "trace.uncovered_s",
      "tick_p50_s", "tick_tail_s", "tick_parquet_p50_s", "cdc_drain_p50_s", "lake_read_p50_s",
      "lake_read_tail_s", "pass_p50_s", "query_geomean_s").foreach(a.put(_, 0, "s"))
    Seq("standardizer.rows_out", "fx.pairs_requested", "lake.files_written",
      "lake.partitions_rewritten", "lake.retained_gens", "lake.files_scanned",
      "cdc.rows_delivered", "cdc.gens_delivered", "scan.files_read", "spark.jobs",
      "spark.stages", "spark.tasks", "exchange.count", "exchange.reused",
      "dedup.selfjoin_rows_out", "dedup.candidate_pairs")
      .foreach(a.put(_, 0, "count"))
    QuerySets.planNodes.foreach(n => a.put(s"plans.$n.hits", 0, "count"))
    Seq("upsert.parquet_bytes_written", "lake.bytes_scanned", "scan.bytes_read",
      "shuffle.bytes_written", "shuffle.bytes_read", "spill.bytes").foreach(a.put(_, 0, "B"))
    a.put("lake_bytes_per_row", 0, "B")
    Seq("fx.rate_hit_ratio", "lake.write_amp", "lake.files_skipped_ratio",
      "dedup.useful_pair_ratio", "error_rate").foreach(a.put(_, 0, "ratio"))
    Seq("tick_tail_pct", "lake_read_tail_pct").foreach(a.put(_, 0, "%"))
    (QuerySets.market ++ QuerySets.corpus).foreach(q => a.put(s"q.${q}_s", 0, "s"))
  }

  private def common(a: Acc, setup: Double, cycles: Seq[Double], opMedians: Seq[Double],
      heapMb: Double, out: Outcome): Unit = {
    a.put("setup_s", setup, "s")
    a.put("cycle_p50_s", Stats.median(cycles), "s")
    a.put("op_geomean_s", Stats.geomean(opMedians), "s")
    a.put("heap_after_gc_peak_mb", heapMb, "MB")
    layerDefaults(a)
    a.put("error_rate", out.failed.toDouble / math.max(1L, out.attempted), "ratio")
  }

  private def secs(ns: Long): Double = ns / 1e9
  private def active(stages: Seq[StageRec], lo: Long, hi: Long): Long =
    Stats.unionLength(Stats.clip(stages.map(s => (s.submitNs, s.doneNs)), lo, hi))
  private def jobTime(jobs: Seq[JobRec]): Long = jobs.map(j => j.endNs - j.startNs).sum
  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0 else Stats.median(xs.toSeq)

  /** Spark-engine totals over one cycle's stages, jobs and plans. */
  private def engine(stages: Seq[StageRec], jobs: Seq[JobRec], plans: Seq[PlanRec]): Map[String, Double] = Map(
    "spark.jobs" -> jobs.length.toDouble,
    "spark.stages" -> stages.length.toDouble,
    "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
    "spark.executor_run_s" -> stages.map(_.runMs).sum / 1e3,
    "spark.executor_cpu_s" -> secs(stages.map(_.cpuNs).sum),
    "shuffle.bytes_written" -> stages.map(_.shuffleWrite).sum.toDouble,
    "shuffle.bytes_read" -> stages.map(_.shuffleRead).sum.toDouble,
    "spill.bytes" -> stages.map(_.spill).sum.toDouble,
    "exchange.count" -> plans.map(_.exchanges).sum.toDouble,
    "exchange.reused" -> plans.map(_.reused).sum.toDouble,
    "plans.planning_s" -> secs(plans.map(_.planningNs).sum),
    "scan.bytes_read" -> plans.map(_.scanBytes).sum.toDouble,
    "scan.files_read" -> plans.map(_.scanFiles).sum.toDouble)

  private def putMedians(a: Acc, perCycle: Seq[Map[String, Double]]): Unit =
    perCycle.flatMap(_.keys).distinct.foreach { k =>
      a.put(k, med(perCycle.map(_.getOrElse(k, 0.0))), a.m(k)._2)
    }

  def ingest(ing: Ingest, cycles: Seq[Double], ops: Seq[(String, Double)], setup: Double,
      heapMb: Double, measuredS: Double, out: Outcome): Report = {
    val a = new Acc
    val byOp = ops.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    common(a, setup, cycles, byOp.values.map(Stats.median).toSeq, heapMb, out)
    val commits = byOp.getOrElse("commit", Seq(0.0))
    val reads = ops.collect { case (n, t) if n.startsWith("read.") => t }
    a.put("tick_p50_s", Stats.median(commits), "s")
    Stats.tail(commits).foreach { case (p, v) => a.put("tick_tail_s", v, "s"); a.put("tick_tail_pct", p, "%") }
    a.put("tick_parquet_p50_s", med(byOp.getOrElse("parquet", Nil)), "s")
    a.put("cdc_drain_p50_s", med(byOp.getOrElse("cdc", Nil)), "s")
    a.put("lake_read_p50_s", med(reads), "s")
    Stats.tail(reads).foreach { case (p, v) => a.put("lake_read_tail_s", v, "s"); a.put("lake_read_tail_pct", p, "%") }
    a.put("lake_bytes_per_row", ing.lakeBytes.toDouble / ing.liveQuoteRows, "B")
    a.put("standardizer.rows_out", med(ing.rowsOut.map(_.toDouble)), "count")
    a.put("cdc.rows_delivered", med(ing.cdcRows.map(_.toDouble)), "count")
    a.put("cdc.gens_delivered", med(ing.cdcGens.map(_.toDouble)), "count")
    if (ing.opTraces.nonEmpty) ingestLayers(a, ing)
    Report(a.m.toSeq, measuredS)
  }

  private val LakeClasses = Set("graft.etl.SnapshotLake", "graft.etl.LakeLease")

  private def ingestLayers(a: Acc, ing: Ingest): Unit = {
    val perTick = ing.opTraces.toSeq.groupBy(_.tick).toSeq.sortBy(_._1).map { case (_, ops) =>
      val m = mutable.Map.empty[String, Double]
      val stages = ops.flatMap(_.stages)
      val jobs = ops.flatMap(_.jobs)
      m ++= engine(stages, jobs, ops.flatMap(_.plans))
      val (lo, hi) = (ops.map(_.startNs).min, ops.map(_.endNs).max)
      m("spark.driver_only_s") = secs(hi - lo - active(stages, lo, hi))
      ops.find(_.name == "commit").foreach { c =>
        val std = c.stages.filter(_.origin.layerClass == "graft.etl.Standardizer")
        m("standardizer.self_s") = secs(active(std, c.startNs, c.endNs) + ing.unpivotNs.getOrElse(c.tick, 0L))
        val fx = c.jobs.filter(_.origin.layerClass == "graft.etl.CurrencyConverter")
        m("fx.distinct_pairs_s") =
          secs(jobTime(fx.filter(_.origin.has("graft.etl.CurrencyConverter.distinctPairs"))))
        m("fx.self_s") = secs(jobTime(fx) + c.ratesNs)
        m("fx.pairs_requested") = c.pairsRequested.toDouble
        m("fx.rate_hit_ratio") =
          if (c.pairsRequested == 0) 0.0 else c.ratesReturned.toDouble / c.pairsRequested
        val lakeJobs = c.jobs.filter(j => LakeClasses(j.origin.layerClass))
        val other = c.jobs.filterNot(j => LakeClasses(j.origin.layerClass))
        val mergeStart = if (other.isEmpty) c.startNs else other.map(_.endNs).max
        val lines = lakeJobs.flatMap(_.origin.lineOf("graft.etl.Pipeline.runLake")).distinct.sorted
        val indicesEnd = lines.headOption.map(l =>
          lakeJobs.filter(_.origin.lineOf("graft.etl.Pipeline.runLake").contains(l)).map(_.endNs).max)
          .getOrElse(mergeStart)
        m("lake.merge_indices_s") = secs(indicesEnd - mergeStart)
        m("lake.merge_quotes_s") = secs(c.endNs - indicesEnd)
        m("lake.commit_driver_s") = secs(c.endNs - mergeStart - active(c.stages, mergeStart, c.endNs))
        val newFiles = c.after.files.keySet -- c.before.files.keySet
        val written = newFiles.toSeq.map(c.after.files).sum
        m("lake.files_written") = newFiles.size
        m("lake.partitions_rewritten") = c.after.entries.count { case (k, g) => !c.before.entries.get(k).contains(g) }
        val bytesPerRow = c.before.files.values.sum.toDouble / math.max(1L, c.before.liveRows)
        m("lake.write_amp") =
          written / math.max(1.0, ing.changedPerTick.getOrElse(c.tick, 0) * bytesPerRow)
      }
      ops.find(_.name == "parquet").foreach { p =>
        m("upsert.parquet_merge_s") = secs(jobTime(p.jobs.filter(_.origin.layerClass == "graft.etl.Upsert")))
        m("upsert.parquet_bytes_written") = p.stages.map(_.bytesWritten).sum.toDouble
      }
      val reads = ops.filter(_.name.startsWith("read."))
      m("lake.resolve_s") = secs(ing.resolveNs.getOrElse(ops.head.tick, 0L))
      m("lake.files_scanned") = reads.flatMap(_.plans).map(_.scanFiles).sum.toDouble
      m("lake.bytes_scanned") = reads.flatMap(_.plans).map(_.scanBytes).sum.toDouble
      val full = reads.find(_.name == "read.latest5").map(_.plans.map(_.scanFiles).sum).getOrElse(0L)
      val sliced = reads.filter(r => r.name == "read.day" || r.name == "read.in")
        .map(_.plans.map(_.scanFiles).sum)
      if (full > 0 && sliced.nonEmpty)
        m("lake.files_skipped_ratio") = 1 - sliced.sum.toDouble / (sliced.length * full)
      m.toMap
    }
    putMedians(a, perTick)
    a.put("lake.retained_gens", ing.retainedAtEnd.toDouble, "count")
  }

  /** The custom plan nodes of one query: a `<Node>Exec` in an executed plan,
    * or a `<Node>Rule` that changed a plan while the query ran.
    */
  private def graftNodes(t: QueryTrace): Seq[String] = QuerySets.planNodes.filter(n =>
    t.plans.exists(_.nodes.exists(_.startsWith(s"${n}Exec"))) || t.rules.contains(s"graft.plans.${n}Rule"))

  def queries(q: QueryRun, setup: Double, heapMb: Double, measuredS: Double,
      out: Outcome): Report = {
    val a = new Acc
    val medians = q.times.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
    common(a, setup, q.passWall.toSeq, medians.values.toSeq, heapMb, out)
    a.put("pass_p50_s", Stats.median(q.passWall.toSeq), "s")
    a.put("query_geomean_s", Stats.geomean(medians.values.toSeq), "s")
    medians.foreach { case (n, v) => a.put(s"q.${n}_s", v, "s") }
    val measured = q.traces.toSeq.filter(_.pass > 0)
    val shapes = if (measured.isEmpty) Map.empty[String, Map[String, Any]] else {
      val perPass = measured.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, ts) =>
        val stages = ts.flatMap(_.stages)
        val m = mutable.Map.empty[String, Double]
        m ++= engine(stages, ts.flatMap(_.jobs), ts.flatMap(_.plans))
        // each query's stages were drained with it, so no clipping is needed
        m("spark.driver_only_s") =
          secs(ts.map(t => t.wallNs - active(t.stages, Long.MinValue, Long.MaxValue)).sum)
        val plans = ts.flatMap(_.plans)
        m("dedup.selfjoin_rows_out") = plans.map(_.selfJoinRows).sum.toDouble
        m("dedup.candidate_pairs") = plans.map(_.candidatePairs).sum.toDouble
        ts.find(_.name == "x4_ngram_jaccard").foreach { x4 =>
          val cand = x4.plans.map(_.candidatePairs).sum
          if (cand > 0) m("dedup.useful_pair_ratio") = x4.rows.toDouble / cand
        }
        m.toMap
      }
      putMedians(a, perPass)
      val first = measured.filter(_.pass == 1)
      QuerySets.planNodes.foreach { n =>
        a.put(s"plans.$n.hits", first.count(graftNodes(_).contains(n)).toDouble, "count")
      }
      first.map(t => t.name -> Map[String, Any](
        "exchanges" -> t.plans.map(_.exchanges).sum,
        "reused_exchanges" -> t.plans.map(_.reused).sum,
        "graft_nodes" -> graftNodes(t),
        "jobs" -> t.jobs.length,
        "stages" -> t.stages.length,
        "shuffle_bytes_written" -> t.stages.map(_.shuffleWrite).sum,
        "wall_s" -> t.wallNs / 1e9)).toMap
    }
    Report(a.m.toSeq, measuredS, shapes)
  }
}
