package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** ROWS frames with FOLLOWING ends: the rewrite to RANGE-over-row_number,
  * interlocking all three window rules (rank, sliding, minmax incl. the
  * mixed-node split) — bit-equality vs the kill-switched stock Window on
  * total orders, and the scope rejections.
  */
class RowsFollowingSpec extends SparkSuite {
  import spark.implicits._

  private def stock[A](body: => A): A = {
    val keys = Seq(GlobalRankRule.EnabledKey, RangeSlidingRule.EnabledKey,
      RangeMinMaxRule.EnabledKey, RowsFollowingRule.EnabledKey)
    keys.foreach(spark.conf.set(_, "false"))
    try body finally keys.foreach(spark.conf.unset)
  }

  /** Total order (id unique), null-able decimal values. */
  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, rnd.nextInt(40).toLong, v)
    }.toDF("id", "grp", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
  }

  private def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private def cliffFree(d: DataFrame): Boolean =
    PlanChecks.unboundedGlobalWindows(d).isEmpty

  private def compare(sql: String, label: String): Unit = {
    val viaRule = spark.sql(sql)
    assert(cliffFree(viaRule), s"$label did not leave the cliff:\n${planOf(viaRule)}")
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

  test("ROWS n PRECEDING m FOLLOWING sum/count/avg match the stock Window") {
    for ((seed, n, m) <- Seq((3L, 4L, 2L), (17L, 0L, 5L), (31L, 9L, 9L))) {
      corpus(seed, 900).createOrReplaceTempView("rf_t")
      compare(
        s"""SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd,
                  COUNT(*) OVER w AS cs, AVG(d) OVER w AS av
           FROM rf_t
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"seed=$seed n=$n m=$m")
    }
  }

  test("ROWS centered min/max (and the MIXED node with sums) match the stock Window") {
    for ((seed, n, m) <- Seq((7L, 3L, 3L), (23L, 6L, 1L))) {
      corpus(seed, 800).createOrReplaceTempView("rf_mm")
      compare(
        s"""SELECT id, MIN(d) OVER w AS mn, MAX(d) OVER w AS mx
           FROM rf_mm
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"minmax seed=$seed n=$n m=$m")
      // the MIXED node: one Window carries extrema AND sums — the minmax
      // split peels its slots, RangeSlidingRule takes the residue
      compare(
        s"""SELECT id, MIN(d) OVER w AS mn, SUM(d) OVER w AS sd,
                  MAX(d) OVER w AS mx, COUNT(*) OVER w AS cs
           FROM rf_mm
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"mixed seed=$seed n=$n m=$m")
    }
  }

  test("multi-column total orders ride (rn carries the composite order)") {
    corpus(41L, 700).createOrReplaceTempView("rf_mc")
    compare(
      """SELECT id, SUM(d) OVER w AS sd, MIN(d) OVER w AS mn
         FROM rf_mc
         WINDOW w AS (ORDER BY grp, id ROWS BETWEEN 5 PRECEDING AND 2 FOLLOWING)""",
      "multi-col")
  }

  test("mixed RANGE-frame nodes also split (min + sum over one value frame)") {
    corpus(53L, 800).createOrReplaceTempView("rf_rng")
    compare(
      """SELECT id, MIN(d) OVER w AS mn, SUM(d) OVER w AS sd,
                AVG(d) OVER w AS av, MAX(d) OVER w AS mx
         FROM rf_rng
         WINDOW w AS (ORDER BY grp RANGE BETWEEN 4 PRECEDING AND 2 FOLLOWING)""",
      "mixed-range")
  }

  test("scope: fp sums and unbounded FOLLOWING stay stock; DESC canonicalizes") {
    corpus(11L, 200).createOrReplaceTempView("rf_scope")
    def rewrote(sql: String): Boolean = cliffFree(spark.sql(sql))
    // one fp sibling vetoes the node (RangeSlidingRule would reject it)
    assert(!rewrote("""SELECT SUM(x) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
      AND 2 FOLLOWING) FROM rf_scope"""))
    // DESC ordering canonicalizes through DescOrderRule and then rides
    // this rule (bit-equality pinned in DescOrderSpec)
    assert(rewrote("""SELECT SUM(d) OVER (ORDER BY id DESC ROWS BETWEEN 3
      PRECEDING AND 2 FOLLOWING) FROM rf_scope"""))
    // UNBOUNDED FOLLOWING is not a literal end
    assert(!rewrote("""SELECT SUM(d) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
      AND UNBOUNDED FOLLOWING) FROM rf_scope"""))
  }
}
