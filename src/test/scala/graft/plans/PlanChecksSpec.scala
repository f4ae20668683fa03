package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

class PlanChecksSpec extends SparkSuite {

  test("lint flags a global window over raw rows, passes the rank-the-aggregate shape") {
    val docs = Tables(spark, sf001, "documents")
    // the cliff: corpus-wide row_number with no partition spec
    val bad = docs.withColumn("rn",
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))))
    // lint logic is tested on the ANALYZED plan: in a session with
    // GlobalRankRule installed (every tuned session, the shared test
    // session included) the optimizer rewrites this exact cliff away
    // before the optimized plan exists — which is the division of labor:
    // the rule FIXES the positional-rank cliff, the lint still CATCHES
    // whatever the rule cannot rewrite
    assert(PlanChecks.unboundedGlobalWindows(bad.queryExecution.analyzed).nonEmpty,
      "lint missed the one-task global window")
    assert(PlanChecks.unboundedGlobalWindows(bad).isEmpty &&
      bad.queryExecution.optimizedPlan.toString.contains("GlobalRank"),
      "with the rule installed the cliff must be rewritten, not just flagged")
    // sanctioned: the window input is bounded by the lang-key aggregate
    val good = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("lang"))))
    assert(PlanChecks.unboundedGlobalWindows(good).isEmpty,
      "lint flagged the bounded rank-the-aggregate shape")
    // partitioned windows over raw rows are not the lint's business
    val partitioned = docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(PlanChecks.unboundedGlobalWindows(partitioned).isEmpty)
    // a limit bounds the input just like an aggregate
    val limited = docs.limit(100).withColumn("rn",
      row_number().over(Window.orderBy(col("doc_id"))))
    assert(PlanChecks.unboundedGlobalWindows(limited).isEmpty)
  }

  test("cost lint: multi-family centered ROWS flags e23/e24b's shapes, names the cascade") {
    val o = Tables(spark, sf001, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(25,4)").as("px"),
        col("o_totalprice").cast("decimal(18,2)").as("px2"),
        expr("CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT)").as("dnum"))
    o.createOrReplaceTempView("pc_orders")
    // e23's exact shape: five aggregates, two consumer families → flagged
    val e23ish = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s, COUNT(*) OVER w AS c,
                AVG(px) OVER w AS a, MIN(px2) OVER w AS mn, MAX(px2) OVER w AS mx
         FROM pc_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
    assert(PlanChecks.centeredRowsMultiFamily(e23ish).nonEmpty,
      "lint missed the multi-family centered-ROWS shape")
    // ... and the optimizer composition still rewrites it (slow-but-correct:
    // the lint is a COST signal, not a cliff signal)
    assert(PlanChecks.unboundedGlobalWindows(e23ish).isEmpty)
    // e24b's latest-first twin → flagged the same
    val e24bish = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s, MIN(px2) OVER w AS mn
         FROM pc_orders
         WINDOW w AS (ORDER BY dnum DESC, o_orderkey DESC
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
    assert(PlanChecks.centeredRowsMultiFamily(e24bish).nonEmpty)
    // ONE family does not pay the per-family re-run → not flagged
    val oneFamily = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s, COUNT(*) OVER w AS c
         FROM pc_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
    assert(PlanChecks.centeredRowsMultiFamily(oneFamily).isEmpty)
    // trailing-only frames ride the in-exec ring — not this lint's business
    val trailing = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s, MIN(px2) OVER w AS mn
         FROM pc_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")
    assert(PlanChecks.centeredRowsMultiFamily(trailing).isEmpty)
    // partitioned windows never hit the global rank cascade
    val partitioned = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s, MIN(px2) OVER w AS mn
         FROM pc_orders
         WINDOW w AS (PARTITION BY dnum ORDER BY o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
    assert(PlanChecks.centeredRowsMultiFamily(partitioned).isEmpty)
    // an aggregate the cascade cannot carry → the composition is the only
    // route; not flagged (remediation would be wrong)
    val foreign = spark.sql(
      """SELECT o_orderkey, SUM(px) OVER w AS s,
                MIN(px2) OVER w AS mn, STDDEV(px) OVER w AS sd
         FROM pc_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
    assert(PlanChecks.centeredRowsMultiFamily(foreign).isEmpty)
    // the REMEDIATION face is itself lint-clean end to end
    val cascade = graft.operators.RangeWindows.rowsSlidingAll(
      o.select("o_orderkey", "o_orderdate", "px", "px2"),
      Seq("o_orderkey"), Seq(col("o_orderdate"), col("o_orderkey")), 6L, 3L,
      "px", "px2")
    assert(PlanChecks.centeredRowsMultiFamily(cascade).isEmpty &&
      PlanChecks.unboundedGlobalWindows(cascade).isEmpty)
  }

  test("the lint fires LIVE at analysis under GraftExtensions (opt-in), naming the remediation") {
    spark // ensure the shared suite session (and its SparkContext) exists
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val fired = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener: String => Unit = m => { fired.add(m); () }
    graft.plans.CenteredRowsLint.addListener(listener)
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      Tables(s2, sf001, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("decimal(25,4)").as("px"),
          col("o_totalprice").cast("decimal(18,2)").as("px2"))
        .createOrReplaceTempView("lint_orders")
      val e23Sql =
        """SELECT o_orderkey, SUM(px) OVER w AS s, MIN(px2) OVER w AS mn
           FROM lint_orders
           WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)"""
      // OFF by default: raw SQL analyzes silently
      s2.sql(e23Sql).queryExecution.analyzed
      assert(fired.isEmpty, "the lint must be opt-in")
      // ON: the flagged shape warns at ANALYSIS time, naming the cascade
      s2.conf.set(graft.plans.CenteredRowsLint.EnabledKey, "true")
      s2.sql(e23Sql).queryExecution.analyzed
      assert(!fired.isEmpty, "the lint must fire on e23's raw-SQL shape")
      assert(fired.get(0).contains("rowsSlidingAll"),
        s"the warning must name the remediation, got: ${fired.get(0)}")
      // clean shapes stay silent with the lint ON
      fired.clear()
      s2.sql(
        """SELECT o_orderkey, SUM(px) OVER w AS s, COUNT(*) OVER w AS c
           FROM lint_orders
           WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
        .queryExecution.analyzed
      s2.sql(
        """SELECT o_orderkey, SUM(px) OVER w AS s, MIN(px2) OVER w AS mn
           FROM lint_orders
           WINDOW w AS (PARTITION BY o_orderdate ORDER BY o_orderkey
                        ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""")
        .queryExecution.analyzed
      assert(fired.isEmpty, "clean shapes must not fire the lint")
    } finally {
      graft.plans.CenteredRowsLint.removeListener(listener)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
