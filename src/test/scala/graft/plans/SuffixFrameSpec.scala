package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Suffix frames (CURRENT ROW .. UNBOUNDED FOLLOWING) via order reversal:
  * bit-equality vs the kill-switched stock Window across frame types,
  * null placements, ties, the first/last mapping, and scope rejections.
  */
class SuffixFrameSpec extends SparkSuite {
  import spark.implicits._

  private val allKeys = Seq(GlobalRankRule.EnabledKey,
    RangeSlidingRule.EnabledKey, RangeMinMaxRule.EnabledKey,
    RowsFollowingRule.EnabledKey, DescOrderRule.EnabledKey,
    SuffixFrameRule.EnabledKey)

  private def stock[A](body: => A): A = {
    allKeys.foreach(spark.conf.set(_, "false"))
    try body finally allKeys.foreach(spark.conf.unset)
  }

  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val k: Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(60).toLong)
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, k, s"s${rnd.nextInt(30)}", v)
    }.toDF("id", "k", "s", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
  }

  private def cliffFree(d: DataFrame): Boolean =
    PlanChecks.unboundedGlobalWindows(d).isEmpty

  private def compare(sql: String, label: String): Unit = {
    val viaRule = spark.sql(sql)
    assert(cliffFree(viaRule),
      s"$label did not leave the cliff:\n${viaRule.queryExecution.executedPlan}")
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val got = m(viaRule)
    val want = stock {
      val d = spark.sql(sql)
      assert(!cliffFree(d), s"$label twin must stay the stock global Window")
      m(d.localCheckpoint())
    }
    val bad = got.keys.filter(k => got(k) != want(k)).take(3)
      .map(k => s"id=$k got=${got(k)} want=${want(k)}")
    assert(bad.isEmpty, s"$label diverged: ${bad.mkString("; ")}")
    assert(got.size == want.size)
  }

  test("ROWS suffix over a total order: sum/count/min/max/avg + first/last mapping") {
    corpus(3L, 900).createOrReplaceTempView("sf_rows")
    compare(
      """SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd,
              COUNT(*) OVER w AS cs, MIN(d) OVER w AS mn, MAX(d) OVER w AS mx,
              AVG(d) OVER w AS av,
              FIRST_VALUE(d) OVER w AS fv, LAST_VALUE(d) OVER w AS lv
         FROM sf_rows
         WINDOW w AS (ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "rows-suffix")
    // ignoreNulls variants of the mapped pair
    compare(
      """SELECT id, FIRST_VALUE(d) IGNORE NULLS OVER w AS fvn,
              LAST_VALUE(d) IGNORE NULLS OVER w AS lvn
         FROM sf_rows
         WINDOW w AS (ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "rows-suffix-ignorenulls")
  }

  test("RANGE suffix (peer-inclusive) over tied nullable keys, both null orders") {
    corpus(17L, 800).createOrReplaceTempView("sf_rng")
    // deterministic on ties: set-based aggregates only
    compare(
      """SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd,
              MIN(d) OVER w AS mn, MAX(d) OVER w AS mx
         FROM sf_rng
         WINDOW w AS (ORDER BY k RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "range-suffix")
    compare(
      """SELECT id, SUM(d) OVER w AS sd, COUNT(*) OVER w AS cs
         FROM sf_rng
         WINDOW w AS (ORDER BY k DESC NULLS FIRST
                      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "range-suffix-desc-nf")
  }

  test("string and DESC orders reverse and distribute (any orderable type)") {
    corpus(29L, 700).createOrReplaceTempView("sf_any")
    compare(
      """SELECT id, COUNT(*) OVER w AS cs, MIN(d) OVER w AS mn
         FROM sf_any
         WINDOW w AS (ORDER BY s, id RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "string-suffix")
    // a DESC original reverses to a plain ASC prefix
    compare(
      """SELECT id, SUM(d) OVER w AS sd, LAST_VALUE(d) OVER w AS lv
         FROM sf_any
         WINDOW w AS (ORDER BY id DESC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",
      "desc-suffix")
  }

  test("scope: fp sums stay stock; the kill-switch restores the stock plan") {
    corpus(41L, 200).createOrReplaceTempView("sf_scope")
    def rewrote(sql: String): Boolean = cliffFree(spark.sql(sql))
    // fp SUM's value depends on add order, which reversal flips
    assert(!rewrote("""SELECT SUM(x) OVER (ORDER BY id ROWS BETWEEN CURRENT ROW
      AND UNBOUNDED FOLLOWING) FROM sf_scope"""))
    // one fp sibling vetoes the node
    assert(!rewrote("""SELECT SUM(d) OVER w, AVG(x) OVER w FROM sf_scope
      WINDOW w AS (ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"""))
    val q = """SELECT SUM(d) OVER (ORDER BY id ROWS BETWEEN CURRENT ROW
      AND UNBOUNDED FOLLOWING) FROM sf_scope"""
    assert(rewrote(q))
    spark.conf.set(SuffixFrameRule.EnabledKey, "false")
    try assert(!rewrote(q))
    finally spark.conf.unset(SuffixFrameRule.EnabledKey)
  }
}
