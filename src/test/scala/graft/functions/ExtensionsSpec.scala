package graft.functions

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.SparkSuite
import graft.plans.RangeJoinBinningRule

/** The engine's one session bootstrap: [[GraftExtensions.install]] (what
  * `Tables.tune` runs) and the library deployment shape — a session built
  * with `spark.sql.extensions=graft.functions.GraftExtensions` calls the
  * engine's SQL functions with no imperative call.
  */
class ExtensionsSpec extends SparkSuite {

  /** How many times each default piece is present on `s`. */
  private def presence(s: SparkSession): Seq[Int] = {
    val fns = s.sessionState.functionRegistry.listFunction()
    GraftExtensions.rules.map(r => s.experimental.extraOptimizations.count(_ eq r)) ++
      GraftExtensions.strategies.map(st => s.experimental.extraStrategies.count(_ eq st)) ++
      GraftExtensions.functions.map { case (id, _, _) => fns.count(_ == id) }
  }

  test("install twice leaves every rule, strategy and function once") {
    val s = spark.newSession()
    assert(presence(s).forall(_ == 0), "a new session starts without the engine")
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(presence(s).forall(_ == 1), presence(s))
  }

  test("two threads installing at once lose no entry") {
    (1 to 5).foreach { _ =>
      val s = spark.newSession()
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val done = (1 to 2).map(_ => pool.submit(new Runnable {
          def run(): Unit = { go.await(); GraftExtensions.install(s) }
        }))
        go.countDown()
        done.foreach(_.get(60, TimeUnit.SECONDS))
      } finally pool.shutdown()
      assert(presence(s).forall(_ == 1), presence(s))
    }
  }

  test("a session that never ran tune still gets GlobalRank from RangeWindows") {
    val s = spark.newSession()
    val df = s.range(0, 300).selectExpr("id", "id % 40 AS k",
      "CAST(id * 1.25 AS DECIMAL(12,2)) AS v")
    val out = graft.operators.RangeWindows.rangeSlidingSum(df, Seq("id"), "k", "v", 5L)
    assert(out.queryExecution.executedPlan.toString.contains("GlobalRank"))
  }

  test("the default list leaves out the extension-only RangeJoinBinningRule") {
    assert(!GraftExtensions.rules.contains(RangeJoinBinningRule))
    assert(!spark.experimental.extraOptimizations.contains(RangeJoinBinningRule))
  }

  test("a session built with GraftExtensions resolves cosine_sim in SQL") {
    spark // ensure the shared suite session (and its SparkContext) exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions ≙ spark.sql.extensions=graft.functions.GraftExtensions
      // on a fresh cluster; the conf route only applies at SparkContext
      // creation, which the shared test JVM already did.
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne spark, "expected a fresh session over the shared context")
      val r = s2.sql(
        "SELECT cosine_sim(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS c")
        .head.getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      // the as-of marker, its rule and its strategy come from the same list
      assert(!s2.experimental.extraOptimizations.contains(graft.plans.AsOfJoinRule))
      val asof = s2.sql(
        """SELECT p.k, p.ts, r.v
           FROM VALUES (1L, 10L), (1L, 25L), (2L, 5L) AS p(k, ts)
           LEFT JOIN VALUES (1L, 8L, 'a'), (1L, 20L, 'b'), (2L, 9L, 'c') AS r(rk, rts, v)
           ON p.k = r.rk AND asof_match(p.ts, r.rts)""")
      assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(asof.collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet ==
        Set((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, null)))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
