package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The native as-of operator: semantics (backward inclusive, null
  * three-valued logic, join types), the rewrite rule's guardrails, the
  * physical plan shape, and a seeded randomized equivalence law against an
  * independent driver-side reference.
  */
class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  // probe(k, ts) — reference(k, ts, v)
  private def probe: DataFrame =
    Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(5L)),   // before any reference row → no match
      (Some(1L), Some(10L)),  // equal ts → INCLUSIVE match (v=a)
      (Some(1L), Some(15L)),  // between → backward match (v=a)
      (Some(1L), Some(25L)),  // after both → latest (v=b)
      (Some(2L), Some(14L)),  // other key, before its row → no match
      (Some(2L), Some(15L)),  // other key, equal → match (v=c)
      (Some(3L), Some(50L)),  // key with no reference rows → no match
      (None, Some(30L)),      // null key never matches
      (Some(1L), None)        // null ts never matches
    ).toDF("k", "ts")

  private def reference: DataFrame =
    Seq[(Option[Long], Option[Long], String)](
      (Some(1L), Some(10L), "a"),
      (Some(1L), Some(20L), "b"),
      (Some(2L), Some(15L), "c"),
      (None, Some(1L), "never"),   // null key never matches
      (Some(1L), None, "never")    // null ts never matches
    ).toDF("rk", "rts", "v")

  private def asofLeft: DataFrame =
    probe.join(reference,
      col("k") === col("rk") && expr("asof_match(ts, rts)"), "left")

  test("backward-inclusive semantics, null keys/ts never match (left outer)") {
    val got = asofLeft
      .select(col("k"), col("ts"), col("v"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))
      .toSet
    val expected = Set[(Option[Any], Option[Any], Option[Any])](
      (Some(1L), Some(5L), None),
      (Some(1L), Some(10L), Some("a")),
      (Some(1L), Some(15L), Some("a")),
      (Some(1L), Some(25L), Some("b")),
      (Some(2L), Some(14L), None),
      (Some(2L), Some(15L), Some("c")),
      (Some(3L), Some(50L), None),
      (None, Some(30L), None),
      (Some(1L), None, None))
    assert(got == expected)
  }

  test("inner as-of drops unmatched probe rows") {
    val got = probe.join(reference,
        col("k") === col("rk") && expr("asof_match(ts, rts)"), "inner")
      .select(col("k"), col("ts"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 10L, "a"), (1L, 15L, "a"), (1L, 25L, "b"), (2L, 15L, "c")))
  }

  test("raw SQL surface: asof_match resolves and rewrites through spark.sql") {
    probe.createOrReplaceTempView("asof_probe")
    reference.createOrReplaceTempView("asof_ref")
    val sql = spark.sql(
      """SELECT p.k, p.ts, r.v FROM asof_probe p LEFT JOIN asof_ref r
         ON p.k = r.rk AND asof_match(p.ts, r.rts)""")
    assert(sql.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val viaApi = asofLeft.select(col("k"), col("ts"), col("v")).collect().toSeq
    assert(sql.collect().toSeq.sortBy(_.toString) == viaApi.sortBy(_.toString))
  }

  test("plan shape: AsOfJoin node, one exchange+sort per side, no window/SMJ") {
    val p = asofLeft.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Window"), "marker join must plan ONLY the native exec:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "exactly one hash exchange per side:\n" + p)
  }

  test("composite keys join on all equi conjuncts") {
    val l = Seq((1L, 1L, 10L), (1L, 2L, 10L)).toDF("k1", "k2", "ts")
    val r = Seq((1L, 1L, 5L, "x"), (1L, 2L, 7L, "y")).toDF("rk1", "rk2", "rts", "v")
    val got = l.join(r,
        col("k1") === col("rk1") && col("k2") === col("rk2") &&
          expr("asof_match(ts, rts)"), "left")
      .select(col("k2"), col("v")).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(got == Set((1L, "x"), (2L, "y")))
  }

  test("guardrails: keyless, reversed sides, type mismatch, non-equi conjunct all fail fast") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, "x")).toDF("rk", "rts", "v")
    def msg(f: => DataFrame): String =
      intercept[Exception](f.collect()).getMessage
    assert(msg(l.join(r, expr("asof_match(ts, rts)"), "left"))
      .contains("equi-key"))
    assert(msg(l.join(r, col("k") === col("rk") && expr("asof_match(rts, ts)"), "left"))
      .contains("left (probe) side"))
    assert(msg(l.join(r.withColumn("rts", col("rts").cast("int")),
        col("k") === col("rk") && expr("asof_match(ts, rts)"), "left"))
      .contains("ts types"))
    assert(msg(l.join(r, col("k") === col("rk") && col("ts") > col("rts") &&
        expr("asof_match(ts, rts)"), "left"))
      .contains("non-equi-key"))
  }

  test("forward direction: min rts >= lts, inclusive, one right row can serve many probes") {
    val l = Seq((1L, 5L), (1L, 10L), (1L, 11L), (1L, 21L), (2L, 1L)).toDF("k", "ts")
    val r = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("rk", "rts", "v")
    val got = l.join(r, col("k") === col("rk") &&
        expr("asof_match(ts, rts, 'forward')"), "left")
      .select(col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), Option(x.getString(1)))).toSet
    assert(got == Set(
      (5L, Some("a")),   // next at-or-after 5 is 10
      (10L, Some("a")),  // equal ts → inclusive
      (11L, Some("b")),
      (21L, None),       // nothing after 21
      (1L, None)))       // key 2 has no reference rows
  }

  test("tolerance bounds the match distance in both directions") {
    val l = Seq((1L, 100L)).toDF("k", "ts")
    val r = Seq((1L, 80L, "back"), (1L, 130L, "fwd")).toDF("rk", "rts", "v")
    def run(cond: String): Option[String] = {
      val rows = l.join(r, col("k") === col("rk") && expr(cond), "left")
        .select(col("v")).collect()
      assert(rows.length == 1)
      Option(rows.head.getString(0))
    }
    assert(run("asof_match(ts, rts, 'backward', 20)") == Some("back"))   // 100-80 = 20 ≤ 20 (inclusive)
    assert(run("asof_match(ts, rts, 'backward', 19)") == None)
    assert(run("asof_match(ts, rts, 'forward', 30)") == Some("fwd"))     // 130-100 = 30 ≤ 30
    assert(run("asof_match(ts, rts, 'forward', 29)") == None)
  }

  test("nearest direction: min |rts - lts|, ties prefer backward") {
    val l = Seq((1L, 100L), (1L, 112L), (1L, 115L), (1L, 118L), (1L, 300L), (2L, 50L))
      .toDF("k", "ts")
    val r = Seq((1L, 110L, "a"), (1L, 120L, "b")).toDF("rk", "rts", "v")
    val got = l.join(r, col("k") === col("rk") &&
        expr("asof_match(ts, rts, 'nearest')"), "left")
      .select(col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), Option(x.getString(1)))).toSet
    assert(got == Set(
      (100L, Some("a")),  // only forward candidates; nearest is 110
      (112L, Some("a")),  // |112-110|=2 < |120-112|=8
      (115L, Some("a")),  // equidistant (5 vs 5) → tie prefers backward
      (118L, Some("b")),  // |118-110|=8 > |120-118|=2
      (300L, Some("b")),  // only backward candidates; nearest is 120
      (50L, None)))       // key 2 has no reference rows
  }

  test("nearest + tolerance bounds both candidates symmetrically") {
    // back at distance 60, fwd at distance 70
    val l = Seq((1L, 100L)).toDF("k", "ts")
    val r = Seq((1L, 40L, "back"), (1L, 170L, "fwd")).toDF("rk", "rts", "v")
    def run(df: DataFrame, cond: String): Option[String] = {
      val rows = df.join(r, col("k") === col("rk") && expr(cond), "left")
        .select(col("v")).collect()
      assert(rows.length == 1)
      Option(rows.head.getString(0))
    }
    assert(run(l, "asof_match(ts, rts, 'nearest', 100)") == Some("back")) // both in → closer
    assert(run(l, "asof_match(ts, rts, 'nearest', 65)") == Some("back"))  // fwd excluded
    assert(run(l, "asof_match(ts, rts, 'nearest', 59)") == None)          // neither in
    // mirrored: back at distance 70, fwd at distance 60
    val l2 = Seq((1L, 110L)).toDF("k", "ts")
    assert(run(l2, "asof_match(ts, rts, 'nearest', 100)") == Some("fwd"))
    assert(run(l2, "asof_match(ts, rts, 'nearest', 65)") == Some("fwd"))  // back excluded
    assert(run(l2, "asof_match(ts, rts, 'nearest', 59)") == None)
    // non-long ts rejects nearest like it rejects tolerance
    val ls = Seq((1L, "2024")).toDF("k", "ts")
    val rs = Seq((1L, "2023", "x")).toDF("rk", "rts", "v")
    assert(intercept[Exception](
      ls.join(rs, col("k") === col("rk") &&
        expr("asof_match(ts, rts, 'nearest')"), "left").collect()
    ).getMessage.contains("'nearest' require"))
  }

  test("law: seeded random corpus, nearest + tolerance, vs driver-side reference") {
    val rnd = new scala.util.Random(13)
    val leftRows = Seq.fill(300)((rnd.nextInt(15).toLong, rnd.nextInt(100).toLong))
    val rightRows = Seq.fill(300)((rnd.nextInt(15).toLong, rnd.nextInt(100).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"v${k}_$ts") }
    val got = leftRows.toDF("k", "ts")
      .join(rightRows.toDF("rk", "rts", "v"),
        col("k") === col("rk") && expr("asof_match(ts, rts, 'nearest', 25)"), "left")
      .select(col("k"), col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2))))
      .sortBy(t => (t._1, t._2, t._3))
    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.map { case (k, ts) =>
      val best = byKey.getOrElse(k, Nil)
        .filter(r => math.abs(r._2 - ts) <= 25)
        .sortBy(r => (math.abs(r._2 - ts), if (r._2 <= ts) 0 else 1))
        .headOption
      (k, ts, best.map(_._3))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == expected)
  }

  test("interval-literal tolerance on timestamp ts") {
    val l = Seq(java.sql.Timestamp.valueOf("2024-01-01 12:00:00")).toDF("ts")
      .withColumn("k", lit(1L))
    val r = Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 10:59:00"), "stale"),
        (java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), "fresh"))
      .toDF("rts", "v").withColumn("rk", lit(1L))
    val got = l.join(r, col("k") === col("rk") &&
        expr("asof_match(ts, rts, 'backward', INTERVAL 1 HOUR)"), "left")
      .select(col("v")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("fresh"))
  }

  test("direction/tolerance guardrails fail fast") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, "x")).toDF("rk", "rts", "v")
    def msg(cond: String): String =
      intercept[Exception](
        l.join(r, col("k") === col("rk") && expr(cond), "left").collect()
      ).getMessage
    assert(msg("asof_match(ts, rts, 'sideways')").contains("direction"))
    assert(msg("asof_match(ts, rts, 'backward', -5)").contains("non-negative"))
    val ls = Seq((1L, "2024")).toDF("k", "ts")
    val rs = Seq((1L, "2023", "x")).toDF("rk", "rts", "v")
    assert(intercept[Exception](
      ls.join(rs, col("k") === col("rk") &&
        expr("asof_match(ts, rts, 'backward', 5)"), "left").collect()
    ).getMessage.contains("require TIMESTAMP or BIGINT"))
  }

  test("law: seeded random corpus, forward + tolerance, vs driver-side reference") {
    val rnd = new scala.util.Random(7)
    val leftRows = Seq.fill(300)((rnd.nextInt(15).toLong, rnd.nextInt(100).toLong))
    val rightRows = Seq.fill(300)((rnd.nextInt(15).toLong, rnd.nextInt(100).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"v${k}_$ts") }
    val got = leftRows.toDF("k", "ts")
      .join(rightRows.toDF("rk", "rts", "v"),
        col("k") === col("rk") && expr("asof_match(ts, rts, 'forward', 25)"), "left")
      .select(col("k"), col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2))))
      .sortBy(t => (t._1, t._2, t._3))
    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.map { case (k, ts) =>
      val best = byKey.getOrElse(k, Nil)
        .filter(r => r._2 >= ts && r._2 - ts <= 25).sortBy(_._2).headOption
      (k, ts, best.map(_._3))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == expected)
  }

  test("law: seeded random corpus matches an independent driver-side reference") {
    val rnd = new scala.util.Random(42)
    val leftRows = Seq.fill(400)((rnd.nextInt(20).toLong, rnd.nextInt(100).toLong))
    // distinct (k, ts) on the reference side — the operator's documented
    // determinism contract (ties within (k, ts) are plan-order dependent)
    val rightRows = Seq.fill(400)((rnd.nextInt(20).toLong, rnd.nextInt(100).toLong))
      .distinct.map { case (k, ts) => (k, ts, s"v${k}_$ts") }
    val l = leftRows.toDF("k", "ts")
    val r = rightRows.toDF("rk", "rts", "v")
    val got = l.join(r, col("k") === col("rk") && expr("asof_match(ts, rts)"), "left")
      .select(col("k"), col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2))))
      .sortBy(t => (t._1, t._2, t._3))
    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.map { case (k, ts) =>
      val best = byKey.getOrElse(k, Nil).filter(_._2 <= ts).sortBy(_._2).lastOption
      (k, ts, best.map(_._3))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == expected)
  }

  test("a13b ≡ a13: the native operator and the union-and-carry plan agree on sf0.001") {
    val a = graft.queries.CoreQueries.a13AsofJoin(spark, sf001).collect().toSeq
    val b = graft.queries.CoreQueries.a13bAsofJoinNative(spark, sf001).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("bucketed layout: the co-located as-of join plans with ZERO exchanges") {
    // the 100 TB composition story: AsOfJoinExec only DECLARES
    // ClusteredDistribution — when both sides are bucketed on the key with
    // matching bucket counts, EnsureRequirements finds the scans'
    // HashPartitioning already satisfies it and inserts no shuffle at all,
    // exactly as for a co-located sort-merge join (LayoutSpec's contract)
    Seq("asof_clicks_b", "asof_purch_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val ev = graft.Tables(spark, sf001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    graft.sources.Layout.writeBucketed(
      clicks, "asof_clicks_b", 4, Seq("user_id"), Seq("user_id", "ts"))
    graft.sources.Layout.writeBucketed(
      purchases, "asof_purch_b", 4, Seq("p_user"), Seq("p_user", "p_ts"))
    val joined = spark.table("asof_clicks_b")
      .join(spark.table("asof_purch_b"),
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Exchange"),
      "bucket-co-located as-of join must not shuffle:\n" + p)
    val want = clicks.join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
      .collect().map(_.toString).toSet
    assert(joined.collect().map(_.toString).toSet == want)
  }

  test("AQE re-plans the exec's exchanges (coalesced shuffle reads feed the merge)") {
    // the exec only DECLARES distribution/ordering — EnsureRequirements
    // inserts the exchanges, so AQE's runtime coalescing applies to them
    // like to any join's (the 1000-executor knob the scaladoc promises)
    val df = graft.queries.CoreQueries.a13bAsofJoinNative(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("AsOfJoin"), p)
    assert(p.contains("AQEShuffleRead"),
      "AQE must own the exec's exchanges at runtime:\n" + p)
  }

  test("feature-store composition: chained as-of joins, one exec per reference table") {
    // the point-in-time feature-store shape: one probe stream enriched
    // with the latest state from N reference tables, each its own as-of —
    // execs chain because the probe side's (key, ts) ordering and hash
    // distribution survive each join (outputPartitioning/outputOrdering)
    val ev = graft.Tables(spark, sf001, "events")
    def side(tpe: String, prefix: String) =
      ev.filter(col("event_type") === tpe)
        .groupBy(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
        .agg(max(col("value")).as(s"${prefix}_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val enriched = clicks
      .join(side("purchase", "p"),
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
      .join(side("view", "w"),
        col("user_id") === col("w_user") && expr("asof_match(ts, w_ts)"), "left")
      .select(col("event_id"), col("p_value"), col("w_value"))
    val p = enriched.queryExecution.executedPlan.toString
    assert("AsOfJoin".r.findAllIn(p).size == 2,
      "each reference table must plan its own as-of exec:\n" + p)
    // correctness vs a driver-side point-in-time reference
    def refMap(prefix: String): Map[Long, Seq[(java.sql.Timestamp, Double)]] =
      side(if (prefix == "p") "purchase" else "view", prefix).collect()
        .map(r => (r.getLong(0), (r.getTimestamp(1), r.getDouble(2))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1.getTime).toSeq).toMap
    val pRef = refMap("p"); val wRef = refMap("w")
    def latestAtOrBefore(m: Map[Long, Seq[(java.sql.Timestamp, Double)]],
        u: Long, ts: java.sql.Timestamp): Option[Double] =
      m.getOrElse(u, Nil).takeWhile(!_._1.after(ts)).lastOption.map(_._2)
    val want = clicks.collect().map { r =>
      val (eid, u, ts) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
      (eid, latestAtOrBefore(pRef, u, ts), latestAtOrBefore(wRef, u, ts))
    }.toSet
    val got = enriched.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Double]),
      Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(got == want)
  }

  test("inner as-of with a cross-side post-join filter works (pushdown round-trip)") {
    // PushPredicateThroughJoin merges a post-join filter into an inner
    // join's condition BEFORE the rewrite rule runs; the rule must restore
    // it as a Filter above the as-of node, not error on the conjunct
    val l = Seq((1L, 10L, 5.0), (1L, 20L, 1.0)).toDF("k", "ts", "value")
    val r = Seq((1L, 5L, 2.0), (1L, 15L, 9.0)).toDF("rk", "rts", "rvalue")
    val df = l.join(r, col("k") === col("rk") && expr("asof_match(ts, rts)"), "inner")
      .filter(col("value") > col("rvalue"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    // matches: (10 → rts=5, 5.0 > 2.0 keep), (20 → rts=15, 1.0 > 9.0 drop)
    val got = df.select(col("ts"), col("rts")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == Seq((10L, 5L)))
    // the same filter on a LEFT as-of stays a rejected ambiguity only when
    // written INSIDE the condition; outside it is a plain post-filter
    val leftPost = l.join(r,
        col("k") === col("rk") && expr("asof_match(ts, rts)"), "left")
      .filter(col("value") > col("rvalue"))
    assert(leftPost.collect().map(_.getLong(1)).toSeq == Seq(10L))
    val msg = intercept[Exception](l.join(r,
      col("k") === col("rk") && col("value") > col("rvalue") &&
        expr("asof_match(ts, rts)"), "left").collect()).getMessage
    assert(msg.contains("LEFT as-of"))
  }

  test("doctrine: null-intolerant reference-side post-filter PRE-filters the chain") {
    // Catalyst's EliminateOuterJoin + pushdown fold a null-intolerant
    // right-side filter over a LEFT as-of into an inner as-of over a
    // pre-filtered reference BEFORE the rewrite rule fires — the documented
    // pre-filter doctrine. Pin it: probe (1, 25)'s overall-latest row is
    // (20, "b"), but with the chain pre-filtered to v='a' the latest
    // MATCHING row is (10, "a") — so (1, 25) appears with "a".
    val got = asofLeft.where(col("v") === "a")
      .select(col("ts"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "a"), (15L, "a"), (25L, "a")),
      s"pre-filter doctrine changed: $got")
    // sanity: the same filter applied to a pre-filtered reference by HAND
    // gives the identical result (the doctrine is "as if the user filtered
    // the reference before joining")
    val byHand = probe.join(reference.where(col("v") === "a"),
        col("k") === col("rk") && expr("asof_match(ts, rts)"), "inner")
      .select(col("ts"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(byHand == got)
  }

  test("postFilter: the pushdown barrier keeps match-then-filter semantics") {
    // same filter, opposite doctrine: match the overall-latest row FIRST,
    // then keep only pairs whose matched v is 'a' — probe (1, 25) matched
    // "b" and must now DROP instead of re-matching to "a"
    val got = AsOfJoin.postFilter(asofLeft, col("v") === "a")
      .select(col("ts"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "a"), (15L, "a")), s"post-filter broke: $got")
    // the barrier must have kept the join LEFT OUTER (EliminateOuterJoin
    // not applied) and the filter ABOVE the exec (no reference pre-filter)
    val plan = AsOfJoin.postFilter(asofLeft, col("v") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftOuter"), plan)
    val filterAt = plan.indexOf("Filter pushdown_barrier")
    val joinAt = plan.indexOf("AsOfJoin ")
    assert(filterAt >= 0 && joinAt > filterAt, plan)
  }

  test("a literal asof_match argument is rejected, not silently nondeterministic") {
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, "x")).toDF("rk", "rts", "v")
    val msg = intercept[Exception](l.join(r,
      col("k") === col("rk") && expr("asof_match(ts, 5)"), "left").collect()
    ).getMessage
    assert(msg.contains("reference a column"))
  }

  test("rule is conjunct-order and equality-direction invariant") {
    val l = Seq((1L, 10L, 5L), (1L, 20L, 8L), (2L, 10L, 3L))
      .toDF("k1", "k2", "ts")
    val r = Seq((1L, 10L, 4L, "a"), (1L, 10L, 7L, "b"), (2L, 10L, 1L, "c"))
      .toDF("rk1", "rk2", "rts", "v")
    // the marker in any position, keys written in either direction — every
    // permutation must rewrite to the same operator and the same rows
    val conjuncts = Seq(
      col("k1") === col("rk1"),
      col("rk2") === col("k2"), // reversed sides on purpose
      expr("asof_match(ts, rts)"))
    val results = conjuncts.permutations.map { perm =>
      val df = l.join(r, perm.reduce(_ && _), "left")
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      df.select(col("k1"), col("k2"), col("ts"), col("v")).collect()
        .map(_.toString).sorted.toSeq
    }.toSeq
    assert(results.distinct.size == 1,
      "conjunct order changed the as-of result")
    assert(results.head.nonEmpty)
  }

  test("salted as-of ≡ unsalted across directions and join types; salt reaches the exchange") {
    // the skew escape hatch: per-(key, salt) as-of equals per-key as-of
    // because each probe row has ONE salt and reference rows are in EVERY
    // salt bucket — and as-of emits ≤ 1 row per probe row, so replication
    // cannot inflate output
    val ev = graft.Tables(spark, sf001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    for {
      marker <- Seq("asof_match(ts, p_ts)",
        "asof_match(ts, p_ts, 'nearest', INTERVAL 90 MINUTE)")
      jt <- Seq("left", "inner")
    } {
      val plain = clicks.join(purchases,
        col("user_id") === col("p_user") && expr(marker), jt)
      val salted = AsOfJoin.salted(clicks, purchases,
        Seq("user_id" -> "p_user"), marker, col("event_id"), salts = 7, jt)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(salted.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq,
        s"salted/$jt/$marker diverged from unsalted")
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin"), p)
      assert(p.contains("__asof_salt"),
        "the salt must reach the hash exchange (that IS the escape):\n" + p)
    }
  }

  test("salted as-of: null salt source coalesces to bucket 0, row is kept") {
    val l = Seq((Some(1L), Some(10L), Option.empty[Long]),
      (Some(1L), Some(15L), Some(99L))).toDF("k", "ts", "salt_src")
    val r = Seq((1L, 5L, "x")).toDF("rk", "rts", "v")
    val got = AsOfJoin.salted(l, r, Seq("k" -> "rk"), "asof_match(ts, rts)",
        col("salt_src"), salts = 4, "inner")
      .select(col("ts"), col("v")).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(got == Set((10L, "x"), (15L, "x")))
  }

  test("ensureRegistered is idempotent") {
    // the session bootstrap is GraftExtensions.install; a fresh session
    // starts without it, and a second install adds nothing
    val s = spark.newSession()
    graft.functions.GraftExtensions.install(s)
    graft.functions.GraftExtensions.install(s)
    assert(s.experimental.extraOptimizations.count(_ == AsOfJoinRule) == 1)
    assert(s.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    val fns = s.sessionState.functionRegistry.listFunction().map(_.funcName)
    assert(fns.count(_ == AsOfJoin.FunctionName) == 1)
  }
}
