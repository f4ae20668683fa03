package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan and time named declared queries, one at a time.
  *
  * Usage: runMain graft.tools.Profile <outDir> <suffix> <query>...
  * (`SPARK_GRAFT_SF_DIR`, default sf0.01; `SPARK_GRAFT_CPUS`, default 32).
  * Per query it:
  *  - writes the pre-execution `.explain("formatted")` plan to
  *    `<outDir>/<query>_<suffix>.txt` (AdaptiveSparkPlan isFinalPlan=false:
  *    deterministic, the plan-evidence artifact under `plans/r<N>/`);
  *  - collects the result and prints the AQE-final plan's shape counts
  *    (exchanges, reused exchanges, scans, join kinds, unbounded global
  *    windows);
  *  - times 4 reps into the noop sink and prints each.
  */
object Profile {
  val Reps = 4

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val spark = graft.Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      val query = graft.SparkEntry.queries(q)
      val df = query(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), txt)
      println(s"wrote $outDir/${q}_$suffix.txt (${txt.length} chars)")
      df.collect() // materialize THIS queryExecution so AQE finalizes the plan
      val fin = df.queryExecution.executedPlan.toString
      def count(node: String): Int = node.r.findAllIn(fin).length
      val globalWindows = graft.plans.PlanChecks.unboundedGlobalWindows(df)
      println(s"  $q exchanges=${count("Exchange hashpartitioning")}" +
        s" reused=${count("ReusedExchange")} scans=${count("FileScan parquet")}" +
        s" bhj=${count("BroadcastHashJoin")} smj=${count("SortMergeJoin")}" +
        s" unboundedGlobalWindows=${globalWindows.length}")
      if (globalWindows.nonEmpty)
        println(s"  !! one-task Window over unbounded input — see graft.operators.Ranking")
      (1 to Reps).foreach { i =>
        val t0 = System.nanoTime()
        query(spark, dir).write.mode("overwrite").format("noop").save()
        println(s"  $q rep$i: ${(System.nanoTime() - t0) / 1e9}")
      }
    }
    spark.stop()
  }
}
