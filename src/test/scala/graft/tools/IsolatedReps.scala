package graft.tools
/** §6.5 isolated-reps adjudication harness: time one query N times on a
  * warm JVM, print per-rep seconds. Dev-only (test scope). */
object IsolatedReps {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 7
    val spark = graft.Tables.session(32)
    graft.Tables.all.foreach(n => graft.Tables(spark, sfDir, n).count())
    val fn = graft.SparkEntry.queries(name)
    try fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"REPS $name ${times.map(t => f"$t%.3f").mkString(" ")} min=${f"${times.min}%.3f"}")
    spark.stop()
  }
}
