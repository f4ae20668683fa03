package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipeline driver re-expressed as ONE lazy Spark plan
  * (reference `src/main.py:9-141`: fetch → standardize → convert → upsert).
  *
  * Where the reference materializes a whole DataFrame between stages in a
  * single process, here the stages compose into one logical plan: Catalyst
  * sees standardize+convert+dedup together (column pruning and predicate
  * placement cross stage boundaries), and execution happens once, at the
  * sink. The observation hooks replace the reference's per-stage log lines
  * (`standardizer.py:253-258` null audit, `currency_converter.py:170-174`
  * missing-rate count) without extra jobs — metrics ride on the write pass.
  */
object Pipeline {

  /** Audit metrics collected during the single execution pass. */
  final case class RunMetrics(rows: Long, nullClose: Long, missingRate: Long)

  /** E1→E2→E3 over long-format bars: returns the metrics observed while the
    * converted, deduped batch was merged into `targetPath`.
    *
    * Idempotent: re-running with the same bars converges (the merge sink's
    * keyed DO-UPDATE, ≙ reference `postgres_writer.py:234-240` +
    * `README.md:37`).
    */
  def run(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      targetPath: String,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None): RunMetrics =
    audited(spark, bars, dim, rates, targetCurrency, sourceTz,
        Observation("pipeline_audit")) { observed =>
      // timestamp_utc is also a key, so as versionCol alone it orders nothing
      // within a key group — the value columns tie-break so a batch carrying
      // an original AND a corrected bar for one key picks a DETERMINISTIC
      // winner (the reference relies on arrival order, postgres_writer.py:251-259).
      val tieBreakers = observed.columns.toSeq
        .filterNot(Seq("ticker", "timestamp_utc").contains)
      val deduped = Upsert.lastWriteWins(
        observed, keys = Seq("ticker", "timestamp_utc"), versionCol = "timestamp_utc",
        tieBreakers = tieBreakers)
      // Date-partitioned sink: an incremental batch only rewrites the trade
      // dates it carries; the rest of the (100 TB) table is untouched.
      // p_date is functionally determined by the timestamp_utc key, as
      // mergePartitionedParquet's contract requires.
      migrateToPartitioned(spark, targetPath)
      Upsert.mergePartitionedParquet(spark, targetPath,
        deduped.withColumn("p_date", to_date(col("timestamp_utc"))),
        keys = Seq("ticker", "timestamp_utc"), versionCol = "timestamp_utc",
        partitionCol = "p_date", tieBreakers = tieBreakers)
    }

  /** E1 standardize → E2 convert → the audit `observe`, handed to `write`
    * (the one action that executes the plan); returns the metrics that
    * action observed.
    */
  private def audited(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      targetCurrency: String,
      sourceTz: Option[String],
      obs: Observation = Observation())(write: DataFrame => Unit): RunMetrics = {
    val standardized = Standardizer.standardize(bars, dim, sourceTz)
    val converted =
      CurrencyConverter.convertWithProvider(spark, standardized, rates, targetCurrency)
    write(converted.observe(
      obs,
      count(lit(1)).as("rows"),
      sum(col("close").isNull.cast("long")).as("null_close"),
      sum((col("close").isNotNull &&
        col(s"close_${targetCurrency.toLowerCase}").isNull).cast("long"))
        .as("missing_rate")))
    val m = obs.get
    RunMetrics(
      rows = m("rows").asInstanceOf[Long],
      nullClose = m("null_close").asInstanceOf[Long],
      missingRate = m("missing_rate").asInstanceOf[Long])
  }

  /** One-time layout migration: a target written by the pre-round-4
    * unpartitioned sink has no `p_date` directory structure; the scoped
    * merge would otherwise fail on it (it throws a clear error rather than
    * silently ignoring legacy rows). Rewrites the whole table ONCE into the
    * date-partitioned layout via staging + atomic swap, after which every
    * incremental batch is partition-scoped. No-op on partitioned or absent
    * targets.
    */
  private def migrateToPartitioned(spark: SparkSession, path: String): Unit = {
    val cur = new Path(path)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new Path(path + "__premigrate")
    val staged = new Path(path + "__migrate")
    // Crash recovery FIRST: a migration that died between its two renames
    // left the table path missing. Roll the legacy copy back and redo the
    // migration below — without this, the run would treat the table as
    // absent and write ONLY the batch, stranding all history.
    Upsert.recoverSwap(fs, cur, backup, staged)
    if (!fs.exists(cur)) return
    val entries = fs.listStatus(cur).map(_.getPath.getName)
    val legacy = !entries.exists(_.startsWith("p_date=")) &&
      entries.exists(_.endsWith(".parquet"))
    if (legacy) {
      spark.read.parquet(path)
        .withColumn("p_date", to_date(col("timestamp_utc")))
        .write.partitionBy("p_date").parquet(staged.toString)
      Upsert.installSwap(fs, cur, staged, backup)
    }
  }

  /** The reference's COMPLETE db load, composed: DDL bootstrap → dim upsert →
    * fact upsert, in FK-safe order (≙ `/root/reference/src/main.py:105-138`:
    * `create_tables` → `upsert_indices` → `upsert_quotes`).
    *
    * Index metadata is extracted from the standardized frame and deduped per
    * ticker (≙ `main.py:114-117`'s `drop_duplicates(subset=['ticker'])`);
    * tickers with no dimension metadata are excluded from `indices` (NOT
    * NULL name), so their quotes hit the FK and surface as an error — the
    * reference's rollback-and-raise path (`main.py:128-132`,
    * `postgres_writer.py:265-270` ON DELETE RESTRICT).
    *
    * Idempotent: re-running converges (keyed MERGE both tables); `indices`
    * audit columns advance `updated_at` on re-merge while `created_at`
    * stays (≙ the trigger at `postgres_writer.py:53-73`).
    */
  def runJdbc(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None,
      props: java.util.Properties = new java.util.Properties()): RunMetrics = {
    Ddl.createTables(url, dialect, props)
    audited(spark, bars, dim, rates, targetCurrency, sourceTz) { observed =>
      // 1) dim first (FK target), 2) facts second, FK now satisfiable.
      upsertIndicesJdbc(observed, url, now, dialect, props)
      upsertQuotesJdbc(observed, url, now, dialect, targetCurrency, props)
    }
  }

  /** The reference's complete two-table load onto TWO SNAPSHOT LAKES —
    * [[runJdbc]]'s twin for the lake face (≙ `/root/reference/src/main.py:97-138`,
    * which loads `indices` then `quotes` inside one Postgres transaction).
    *
    * A filesystem lake has no cross-directory atomic rename, so instead of
    * pretending at a two-table transaction this face commits under the
    * FK-SAFE ORDERING CONTRACT, with both tables' leases held for the whole
    * span:
    *
    *  1. Both lake leases are acquired up front in CANONICAL (sorted-path)
    *     order — two concurrent `runLake`s serialize instead of
    *     deadlocking, and no foreign writer can interleave between the two
    *     commits.
    *  2. The FK is checked BEFORE either commit (a bar whose ticker has no
    *     dimension metadata fails the whole load — nothing lands, the
    *     reference's rollback-and-raise, `main.py:128-132` /
    *     `postgres_writer.py:265-270` ON DELETE RESTRICT), so a batch can
    *     never publish facts that dangle.
    *  3. The DIM commits first, facts second. A reader between the two
    *     cuts sees the new dim + the old facts — every fact it can read
    *     still joins (a dim is keyed LWW and never loses tickers); the
    *     reverse order would expose dangling facts, which is why the order
    *     is a CONTRACT, not a preference (PipelineLakeSpec pins it).
    *  4. A crash between the commits leaves both snapshots readable and
    *     consistent-under-the-contract; the re-run converges (idempotent
    *     keyed LWW on both tables — the same recovery story as the JDBC
    *     face's transaction replay).
    *
    * Quotes land date-partitioned (`p_date`): an incremental batch rewrites
    * only the trade dates it carries — at 100 TB a 6-hour tick's commit
    * cost is proportional to the tick, not the table.
    */
  def runLake(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      indicesLake: String,
      quotesLake: String,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None): RunMetrics =
    audited(spark, bars, dim, rates, targetCurrency, sourceTz) { observed =>
      val tieBreakers = observed.columns.toSeq
        .filterNot(Seq("ticker", "timestamp_utc").contains)
      val quotes = Upsert.lastWriteWins(
        observed, keys = Seq("ticker", "timestamp_utc"),
        versionCol = "timestamp_utc", tieBreakers = tieBreakers)
        .withColumn("p_date", to_date(col("timestamp_utc")))
        .localCheckpoint() // one evaluation serves FK check + both commits
      val conf = spark.sparkContext.hadoopConfiguration
      // both leases for the whole span, canonical order (see contract above);
      // the inner merges' withLease calls share these reentrant holds
      val Seq(first, second) = Seq(indicesLake, quotesLake).sorted
      LakeLease.withLease(conf, first) {
        LakeLease.withLease(conf, second) {
          // FK gate BEFORE any commit: standardize's enrich join is a LEFT
          // join, so a ticker with no dimension row surfaces as a null name
          // (NOT NULL in the reference dim). Bounded collect: distinct rogue
          // tickers only.
          val rogue = quotes.filter(col("name").isNull)
            .select(col("ticker")).distinct().limit(21)
            .collect().map(_.getString(0))
          if (rogue.nonEmpty)
            throw new IllegalStateException(
              s"ticker(s) ${rogue.take(20).mkString(", ")} carry no dimension " +
                "metadata — loading their quotes would dangle the FK " +
                "(reference ON DELETE RESTRICT semantics); nothing was " +
                "committed to either lake")
          // 1) dim first (FK target), keyed LWW by ticker
          SnapshotLake.merge(spark, indicesLake,
            quotes.select(col("ticker"), col("name"), col("country"),
              col("exchange"), col("original_currency")).dropDuplicates("ticker"),
            keys = Seq("ticker"), versionCol = "name", partitionCol = "ticker")
          // 2) facts second — the FK-safe cut order
          SnapshotLake.merge(spark, quotesLake, quotes,
            keys = Seq("ticker", "timestamp_utc"), versionCol = "timestamp_utc",
            partitionCol = "p_date", tieBreakers = tieBreakers,
            statsCols = Seq("timestamp_utc"))
        }
      }
    }

  /** Dim-upsert step of the composed load (≙ `upsert_indices`,
    * `postgres_writer.py:116-178`): metadata extracted from the standardized
    * frame, deduped per ticker. Metadata is constant per ticker (it came
    * from the broadcast enrich join), so any deterministic pick works.
    */
  def upsertIndicesJdbc(
      standardized: DataFrame,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val indices = Upsert.lastWriteWins(
      standardized
        .select(col("ticker"), col("name"), col("country"), col("exchange"),
          col("original_currency"))
        .filter(col("name").isNotNull),
      keys = Seq("ticker"), versionCol = "name")
    Upsert.upsertJdbcAudited(indices, url, "indices", Seq("ticker"), now, dialect,
      props = props)
  }

  /** Fact-upsert step of the composed load (≙ `upsert_quotes`,
    * `postgres_writer.py:181-278`): the reference schema's raw OHLCV +
    * converted `*_usd` columns. inserted_at is writer-stamped (insert-only):
    * Derby can't evaluate a CURRENT_TIMESTAMP DEFAULT inside MERGE (see
    * [[Ddl]]), and the reference never updates it after first insert.
    */
  def upsertQuotesJdbc(
      converted: DataFrame,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      targetCurrency: String = "USD",
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val suffix = targetCurrency.toLowerCase
    // Value-column tiebreakers: timestamp_utc is a key, so without them the
    // within-batch winner among conflicting duplicates would be arbitrary
    // (nondeterministic across reruns/retries — see run()'s note).
    val deduped = Upsert.lastWriteWins(
      converted, keys = Seq("ticker", "timestamp_utc"), versionCol = "timestamp_utc",
      tieBreakers = converted.columns.toSeq
        .filterNot(Seq("ticker", "timestamp_utc").contains))
    val quoteCols = (Seq("ticker", "timestamp_utc", "open", "high", "low", "close",
      "adjusted_close", "volume") ++ Schema.priceCols.map(c => s"${c}_$suffix"))
      .filter(deduped.columns.contains)
    Upsert.upsertJdbc(
      deduped.select(quoteCols.map(col): _*).withColumn("inserted_at", lit(now)),
      url, "quotes", Seq("ticker", "timestamp_utc"), dialect, props = props,
      noUpdate = Seq("inserted_at"))
  }
}
