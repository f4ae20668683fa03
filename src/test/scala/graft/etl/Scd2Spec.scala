package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SCD2 history: interval correctness on a hand-traced key, the fold law
  * (incremental folds ≡ one-shot build, any batch grouping), batch-wins
  * collision policy, and the plan shape (keyed window, no self-join).
  */
class Scd2Spec extends SparkSuite {
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("build: versions chain, intervals abut, only the last is current") {
    val ch = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (2L, 5L, "z"))
      .toDF("k", "ts", "value")
    val h = Scd2.build(ch, "k", "ts", Seq("value")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getString(4), r.getBoolean(5)))
      .toSet
    assert(h == Set(
      (1L, 1, 10L, Some(20L), "a", false),
      (1L, 2, 20L, Some(30L), "b", false),
      (1L, 3, 30L, None, "c", true),
      (2L, 1, 5L, None, "z", true)))
  }

  test("fold law: incremental folds equal the one-shot build for any batch grouping") {
    val rnd = new scala.util.Random(11)
    val all = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(500).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"v${k}_$ts") }
    val want = rows(Scd2.build(all.toDF("k", "ts", "value"), "k", "ts", Seq("value")))
    for (nBatches <- Seq(2, 3, 5)) {
      val batches = all.grouped((all.size + nBatches - 1) / nBatches).toSeq
      val h0 = Scd2.build(batches.head.toDF("k", "ts", "value"), "k", "ts", Seq("value"))
      val folded = batches.tail.foldLeft(h0) { (h, b) =>
        Scd2.fold(h, b.toDF("k", "ts", "value"), "k", "ts", Seq("value"))
      }
      assert(rows(folded) == want, s"fold of $nBatches batches drifted from build")
    }
  }

  test("fold: a (key, ts) collision is won by the batch (new data corrects history)") {
    val h0 = Scd2.build(Seq((1L, 10L, "old"), (1L, 20L, "keep"))
      .toDF("k", "ts", "value"), "k", "ts", Seq("value"))
    val h1 = Scd2.fold(h0, Seq((1L, 10L, "corrected")).toDF("k", "ts", "value"),
      "k", "ts", Seq("value"))
    val got = h1.collect().map(r => (r.getInt(1), r.getString(4))).toSet
    assert(got == Set((1, "corrected"), (2, "keep")))
  }

  test("fold law holds for NULL keys (null-safe touched-key lanes)") {
    val ch1 = Seq((Option(1L), 10L, "a"), (None, 10L, "n1"))
      .toDF("k", "ts", "value")
    val ch2 = Seq((Option.empty[Long], 20L, "n2")).toDF("k", "ts", "value")
    val folded = Scd2.fold(Scd2.build(ch1, "k", "ts", Seq("value")),
      ch2, "k", "ts", Seq("value"))
    val want = Scd2.build(
      Seq((Option(1L), 10L, "a"), (None, 10L, "n1"), (None, 20L, "n2"))
        .toDF("k", "ts", "value"), "k", "ts", Seq("value"))
    assert(rows(folded) == rows(want),
      "null-key versions must fold into ONE chain, not duplicate")
    assert(folded.filter(col("k").isNull).count() == 2)
    assert(folded.filter(col("k").isNull && col("is_current")).count() == 1)
  }

  test("reserved output column names are rejected up front") {
    val ch = Seq((1L, 10L, "a")).toDF("k", "ts", "version")
    val e = intercept[IllegalArgumentException](
      Scd2.build(ch, "k", "ts", Seq("version")))
    assert(e.getMessage.contains("version"))
    // the TS column hits the same clobber (withColumn("version"/"valid_to"/
    // "is_current") would replace it before the window reads it) — fail
    // fast instead of corrupting history
    Seq("version", "valid_to", "is_current").foreach { bad =>
      val chT = Seq((1L, 10L, "a")).toDF("k", bad, "value")
      val eT = intercept[IllegalArgumentException](
        Scd2.build(chT, "k", bad, Seq("value")))
      assert(eT.getMessage.contains(bad))
      val eF = intercept[IllegalArgumentException](
        Scd2.fold(Scd2.build(Seq((1L, 10L, "a")).toDF("k", "ts", "value"),
          "k", "ts", Seq("value")).withColumnRenamed("valid_from", bad),
          chT, "k", bad, Seq("value")))
      assert(eF.getMessage.contains(bad))
    }
    // a ts column already NAMED valid_from is fine — the rename is a no-op
    val okCh = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "valid_from", "value")
    val h = Scd2.build(okCh, "k", "valid_from", Seq("value"))
    assert(h.count() == 2 && h.filter(col("is_current")).count() == 1)
  }

  test("fold: untouched keys stream through without a rebuild") {
    val h0 = Scd2.build(
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "ts", "value"),
      "k", "ts", Seq("value"))
    val h1 = Scd2.fold(h0, Seq((2L, 20L, "b2")).toDF("k", "ts", "value"),
      "k", "ts", Seq("value"))
    assert(rows(h1.filter(col("k") === 1L)) == rows(h0.filter(col("k") === 1L)))
    assert(h1.filter(col("k") === 2L).count() == 2)
    // the pass-through lane is an anti join, the rebuild lane a semi join —
    // nothing joins the full history to itself
    val p = h1.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"), p)
  }

  test("point-in-time lookup over the history: the as-of join equals the interval lookup") {
    // the composition the module exists for: "what did the dimension say
    // at time T?" — as-of on valid_from must agree with the explicit
    // BETWEEN-interval formulation for every probe, including probes
    // before the first version (null) and after the last (current row)
    val rnd = new scala.util.Random(31)
    val changes = Seq.fill(200)((rnd.nextInt(10).toLong, rnd.nextInt(300).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"v${k}_$ts") }
    val history = Scd2.build(changes.toDF("k", "ts", "value"), "k", "ts", Seq("value"))
      .select(col("k").as("h_k"), col("valid_from"), col("valid_to"), col("value"))
    val probes = Seq.fill(150)((rnd.nextInt(10).toLong, rnd.nextInt(340).toLong))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("probe_id", "k", "t")
    val viaAsof = probes.join(history,
        col("k") === col("h_k") && expr("asof_match(t, valid_from)"), "left")
      .select(col("probe_id"), col("value")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val viaInterval = probes.join(history,
        col("k") === col("h_k") && col("t") >= col("valid_from") &&
          (col("valid_to").isNull || col("t") < col("valid_to")), "left")
      .select(col("probe_id"), col("value")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(viaAsof == viaInterval)
  }

  test("e14 plan: one keyed window over the pre-aggregated changes, no self-join") {
    val df = graft.queries.CoreQueries.e14Scd2History(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "SCD2 build must be a window, never a self-join:\n" + p)
    assert(graft.plans.PlanChecks.unboundedGlobalWindows(df).isEmpty)
    assert(df.count() > 0)
  }
}
