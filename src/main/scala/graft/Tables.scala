package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the synthetic testdata star schema (TESTDATA.md) plus
  * session-level tuning every entry point applies.
  *
  * Scale notes (100 TB design point): all tables are read through
  * `spark.read.parquet`, so Catalyst predicate pushdown / column pruning /
  * partition pruning apply unchanged on a real cluster; nothing here
  * materializes on the driver.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Idempotent session defaults. AQE handles runtime re-planning (skew
    * joins, partition coalescing) — the knobs that matter at 1000-executor
    * scale and are harmless on local[32]. Also the engine's one session
    * bootstrap: [[graft.functions.GraftExtensions.install]] adds its default
    * optimizer rules, planner strategies and SQL functions.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; read the raw int64 and convert in `apply`.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftExtensions.install(spark)
    spark
  }

  /** The entry points' local session: `cores` task slots and as many
    * shuffle partitions (a caller that wants another count sets it on the
    * returned session), no UI, WARN logging, [[tune]]d.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Load one table, normalizing `events.ts` to a session-zone TIMESTAMP
    * regardless of how the generator wrote it:
    *  - int64 TIMESTAMP(NANOS) (see `tune`) → truncated to microseconds,
    *    the same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP;
    *  - plain timestamp[us] with no zone (Spark TIMESTAMP_NTZ) → cast to
    *    TIMESTAMP, which under the engine-wide UTC session zone keeps the
    *    wall-clock values identical while restoring the instant semantics
    *    every downstream window/`unix_micros` operator expects.
    * Either way the engine sees one canonical `ts` type, and the DuckDB
    * oracle (which reads the file as a naive TIMESTAMP) stays comparable.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
    else df
  }

  /** Register every table as a temp view, making the whole engine drivable
    * through raw `spark.sql` text (SURVEY §3.3's third entry point — the
    * reference's psql/DBeaver surface). Views are lazy: registration costs
    * one schema read per table, and every SQL query still gets the full
    * Catalyst pushdown/pruning treatment of the DataFrame path.
    *
    * STALENESS CONTRACT: each view captures its table's file listing at
    * registration. After a rename-based rewrite of a table's directory
    * ([[graft.etl.Upsert]] merge/compaction swaps), a registered view can
    * throw FileNotFoundException or serve the pre-swap listing — call
    * [[refreshViews]] (or re-register) after any mutation of `dir`. This is
    * the same contract Spark's own catalog tables carry (REFRESH TABLE
    * after out-of-band file changes); a plain parquet directory gives the
    * engine no manifest to detect the swap with. Tables that need
    * stale-proof concurrent reads live in [[graft.etl.SnapshotLake]]
    * instead: its reads resolve through the newest manifest, every resolved
    * frame pins immutable generation dirs, and a commit can never tear or
    * invalidate an in-flight scan.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Re-resolve every registered view's file listing — run after an Upsert
    * merge/compaction swap of a table under `dir` (see [[registerViews]]'s
    * staleness contract). Re-registration is the refresh: each view's plan
    * is rebuilt over the directory's current files; `refreshByPath` also
    * drops any cached file-index entries for the old listing.
    */
  def refreshViews(spark: SparkSession, dir: String): Unit = {
    spark.catalog.refreshByPath(dir)
    registerViews(spark, dir)
  }
}
