package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset — dev use only;
    // the driver always runs the full set]
    val sfDir = args(0)
    val outDir = args(1)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = subset.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // A failing query must not vanish from the gate: a name with no output
    // directory would silently shrink the compared set, so every failure is
    // recorded in failures.json and fails the process (exit 1 below).
    var failures = Map.empty[String, String]
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      // Defensive: library queries no longer cache anything themselves, but
      // clear the CacheManager between queries anyway so one query's
      // persisted state (if ever reintroduced) can't distort the rest.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The full expected query set (oracle-checked AND rows-only) so the gate
    // can fail on any name that produced no output, instead of iterating
    // only the directories that happen to exist.
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.filter(selected).toSeq.sorted.map(q)
        .mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // Engine-version stamp: the sketch-free float queries' parity contract
    // is "bit-identical BEFORE rounding", which an oracle-engine upgrade
    // can silently break (arithmetic drift ~1e-7 flips 4dp rounding on
    // borderline values) — record what produced this dump so a
    // local-green/driver-red split is attributable. oracle_check.py adds
    // the DuckDB side + an arithmetic canary.
    Files.writeString(Paths.get(s"$outDir/versions.json"),
      s"""{"spark": ${q(spark.version)}, "scala": ${q(scala.util.Properties.versionNumberString)}, "java": ${q(System.getProperty("java.version"))}}""")
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
