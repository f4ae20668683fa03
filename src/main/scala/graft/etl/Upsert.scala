package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E3 — idempotent keyed upsert (MERGE / last-write-wins) semantics.
  *
  * The reference gets idempotency from Postgres `ON CONFLICT (ticker,
  * timestamp_utc) DO UPDATE` (`/root/reference/src/storage/postgres_writer.py:234-240`).
  * Distributed, that splits into two concerns:
  *
  *  1. deterministic last-write-wins *within* a batch that may contain
  *     duplicate keys (the reference relies on arrival order,
  *     `postgres_writer.py:251-259`; Spark must pre-dedup by an explicit
  *     version column — SURVEY.md §7 "What's hard" #2);
  *  2. an idempotent keyed sink (JDBC ON CONFLICT writer, or a
  *     storage-level merge for lake targets).
  */
object Upsert {

  /** Deterministic last-write-wins dedup: keep, per key, the row with the
    * greatest (versionCol, tieBreakers...). One shuffle on the key columns;
    * at scale this is a single hash partitioning that the subsequent MERGE
    * can reuse.
    */
  def lastWriteWins(
      df: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val order = (versionCol +: tieBreakers).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Parquet-backed MERGE: read current state (if any), union the deduped
    * updates, keep the newest version per key, atomically swap directories.
    * Running it twice with the same batch is a no-op (idempotency ≙ the
    * reference's re-fetch-overlap tolerance, `README.md:37,166`).
    *
    * At lake scale this role is played by a table format's MERGE (Delta /
    * Iceberg); the two-phase directory swap is the local-FS stand-in that
    * keeps the same contract: readers never observe a partial write.
    */
  def mergeIntoParquet(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tieBreakers: Seq[String] = Nil): Unit = {
    val deduped = lastWriteWins(updates, keys, versionCol, tieBreakers)
      .withColumn("__gen", lit(1L))
    // Writer serialization: the recover/read/stage/swap sequence below is a
    // single-writer protocol — the lease makes a second concurrent writer
    // fail loudly instead of interleaving renames (see [[LakeLease]]).
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      mergeIntoParquetLocked(spark, path, deduped, keys, versionCol, tieBreakers)
    }
  }

  private def mergeIntoParquetLocked(
      spark: SparkSession,
      path: String,
      deduped: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tieBreakers: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    val parked = new Path(path + "__old")
    val staging = new Path(path + "__staging")
    // Crash recovery FIRST (see [[recoverSwap]]): without it a replay after
    // a crash between the swap renames would read empty state, merge just
    // the batch, and then drop the parked copy — every merged row lost.
    recoverSwap(fs, cur, parked, staging)
    val merged =
      if (fs.exists(cur)) {
        val existing = spark.read.parquet(path).withColumn("__gen", lit(0L))
        // On key collision the update (__gen=1) wins regardless of version —
        // DO UPDATE semantics (postgres_writer.py:234-240), then LWW inside
        // each generation via versionCol.
        lastWriteWins(existing.unionByName(deduped), keys, "__gen", versionCol +: tieBreakers)
      } else deduped
    merged.drop("__gen").write.mode("overwrite").parquet(staging.toString)
    installSwap(fs, cur, staging, parked)
  }

  /** Partition-scoped parquet MERGE — the 100 TB shape of [[mergeIntoParquet]].
    *
    * The whole-table variant re-reads and re-writes the ENTIRE table per
    * batch; at lake scale with a 6-hourly incremental tick that is a
    * full-corpus I/O pass for a few thousand changed rows. This variant
    * scopes the merge to the partitions the update batch actually touches
    * (≙ the reference's row-scoped `ON CONFLICT`,
    * `postgres_writer.py:234-240`, generalized to files):
    *
    *  1. collect the batch's distinct `partitionCol` values (bounded by
    *     construction — a date or shard column, one value per partition);
    *  2. read current state ONLY for those partitions — directory-scoped
    *     reads when the values round-trip as path names (per-batch metadata
    *     cost = one non-recursive root listing + the affected dirs, not a
    *     recursive walk of the table), falling back to a full read with a
    *     partition-pruning filter for values needing Hive path-escaping;
    *  3. LWW-merge and write the result to a staging dir, then swap each
    *     affected partition directory into place with renames. Untouched
    *     partitions' files are not read, not rewritten, and stay
    *     byte-identical (asserted in EtlSpec).
    *
    * CONTRACT: `partitionCol` must be functionally determined by `keys`
    * (e.g. key = (ticker, ts), partition = date(ts)) so every row of a key
    * lives in exactly one partition — otherwise a conflicting old row in a
    * different partition would survive the scoped merge.
    *
    * Atomicity is per partition (each directory swap is a rename), not per
    * batch — a reader listing the table BETWEEN two installs of one batch
    * can see partition A new / partition B old. Re-running the batch
    * converges regardless (idempotent LWW); writers are fully crash-safe.
    * When concurrent readers need a consistent cut, use [[SnapshotLake]]
    * (same merge semantics, snapshot-isolated manifest commit); this
    * Hive-layout merge remains for tables that must stay readable by plain
    * `spark.read.parquet(path)` with no manifest resolution.
    */
  def mergePartitionedParquet(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String] = Nil): Unit = {
    require(updates.columns.contains(partitionCol),
      s"updates must carry partition column '$partitionCol'")
    val deduped = lastWriteWins(updates, keys, versionCol, tieBreakers)
    // Single-writer protocol; see [[LakeLease]] and mergeIntoParquet.
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      mergePartitionedLocked(spark, path, deduped, keys, versionCol,
        partitionCol, tieBreakers)
    }
  }

  private def mergePartitionedLocked(
      spark: SparkSession,
      path: String,
      deduped: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    val staging = new Path(path + "__staging")
    val oldRoot = new Path(path + "__old")
    recoverParkedPartitions(fs, cur, staging, oldRoot)
    // Bounded driver collect: one value per affected partition. Checked
    // before the first write too — a null value would otherwise create the
    // `__HIVE_DEFAULT_PARTITION__` dir that every later merge refuses.
    val affected = deduped.select(col(partitionCol)).distinct().collect().map(_.get(0))
    require(!affected.contains(null),
      s"null $partitionCol in update batch: the scoped merge cannot address " +
        "the null partition (isin() never matches null) — filter or default it upstream")
    if (!fs.exists(cur)) {
      deduped.write.partitionBy(partitionCol).parquet(path)
      return
    }
    if (affected.isEmpty) return
    // ONE non-recursive listing of the table root: detects a legacy
    // unpartitioned layout (data files, no partition dirs) and gives the
    // existing partition-dir names so the read below opens ONLY affected
    // directories — the per-batch metadata cost is O(#partitions at root),
    // never a recursive walk of every file.
    val rootEntries = fs.listStatus(cur).map(_.getPath.getName)
    val partDirs = rootEntries.filter(_.startsWith(partitionCol + "=")).toSet
    if (partDirs.isEmpty && rootEntries.exists(_.endsWith(".parquet")))
      throw new IllegalStateException(
        s"$path exists but is not partitioned by $partitionCol — written by the " +
          "unpartitioned sink? Migrate it once (read, derive the partition " +
          "column, write partitionBy) before using the scoped merge.")
    // Values that round-trip verbatim as directory names can be read
    // dir-scoped; anything needing Hive path-escaping falls back to a
    // full-table read with a pruning filter (correct, just more listing).
    val dataSchema = org.apache.spark.sql.types.StructType(deduped.schema.filter(_.name != "__gen"))
    val safeName = "[A-Za-z0-9_.-]+".r // chars Hive path-escaping leaves verbatim
    val allSafe = affected.forall(v => safeName.matches(v.toString))
    val hitDirs =
      if (allSafe) affected.map(v => s"$partitionCol=$v").filter(partDirs.contains)
      else Array.empty[String]
    // Schema pinned to the updates' schema: partition values parse from dir
    // names WITHOUT type inference (a string shard "0025" must stay "0025",
    // not become int 25 and re-emerge as a second "25" partition).
    val existing =
      if (allSafe && hitDirs.isEmpty) None // every affected partition is new
      else if (allSafe)
        Some(spark.read.schema(dataSchema).option("basePath", path)
          .parquet(hitDirs.map(d => s"$path/$d").toIndexedSeq: _*))
      else
        Some(spark.read.schema(dataSchema).parquet(path)
          .filter(col(partitionCol).isin(affected.toSeq: _*)))
    // On key collision the update (__gen=1) wins regardless of version —
    // DO UPDATE semantics — then LWW inside each generation via versionCol.
    val merged = existing match {
      case Some(ex) =>
        lastWriteWins(
          ex.withColumn("__gen", lit(0L))
            .unionByName(deduped.withColumn("__gen", lit(1L))),
          keys, "__gen", versionCol +: tieBreakers).drop("__gen")
      case None => deduped
    }
    merged.write.partitionBy(partitionCol).parquet(staging.toString)
    // Swap each affected partition dir into place; parked old dirs live
    // OUTSIDE the table root so a concurrent/crashed read never discovers a
    // bogus partition value, and the recovery pass above heals any crash
    // between the park and install renames.
    installStagedPartitions(fs, cur, staging, oldRoot,
      _.startsWith(partitionCol + "="))
  }

  /** [[recoverSwap]] for every partition dir parked under `oldRoot` (shared
    * by [[mergePartitionedParquet]] and [[compactPartitionedParquet]]), then
    * clears both roots.
    */
  private def recoverParkedPartitions(
      fs: FileSystem, cur: Path, staging: Path, oldRoot: Path): Unit = {
    if (fs.exists(oldRoot))
      fs.listStatus(oldRoot).foreach { s =>
        val name = s.getPath.getName
        recoverSwap(fs, new Path(cur, name), s.getPath, new Path(staging, name))
      }
    fs.delete(oldRoot, true)
    fs.delete(staging, true)
  }

  /** [[installSwap]] for every staged partition dir matching `pick`, then
    * clears both roots. Atomicity is per partition-dir rename.
    */
  private def installStagedPartitions(
      fs: FileSystem,
      cur: Path,
      staging: Path,
      oldRoot: Path,
      pick: String => Boolean): Unit = {
    fs.mkdirs(oldRoot)
    fs.listStatus(staging).iterator
      .filter(s => s.isDirectory && pick(s.getPath.getName))
      .foreach { s =>
        val name = s.getPath.getName
        installSwap(fs, new Path(cur, name), s.getPath, new Path(oldRoot, name))
      }
    fs.delete(oldRoot, true)
    fs.delete(staging, true)
  }

  /** Small-file compaction for a partitioned parquet sink — the operational
    * complement of [[mergePartitionedParquet]]: every incremental batch
    * writes at least one file per affected partition, so a 6-hourly tick
    * leaves hot partitions with hundreds of tiny files and every reader
    * paying their open cost. At 100 TB the fix must be partition-scoped and
    * metadata-cheap, exactly like the merge:
    *
    *  1. ONE non-recursive root listing finds the partition dirs;
    *  2. a partition is compacted only when it holds more files than its
    *     bytes need (`ceil(bytes / targetBytes)`, floored at
    *     `minFilesToCompact` so near-right-sized partitions aren't churned);
    *  3. each picked partition's FILES are read directly (the dir name is
    *     never parsed into a value, so Hive-escaped or type-ambiguous
    *     partition values round-trip verbatim), coalesced to the target
    *     file count, written to staging, and swapped in with the same
    *     park/install renames + crash recovery the merge uses.
    *
    * Row content is byte-for-byte preserved (no dedup, no reorder
    * semantics — compaction is pure file-layout maintenance); untouched
    * partitions are never read and stay byte-identical. Single-writer
    * assumption as for the merge (shared staging/park roots).
    *
    * READER CAVEAT: the park/install swap makes each compacted partition
    * transiently ABSENT (one rename window) — a concurrent reader listing
    * the root in that window silently misses the partition's rows. The
    * merge has the same window, but there the partition's content is
    * changing anyway; compaction introduces it for data that is logically
    * unchanged. Run compaction in a maintenance window, or use
    * [[SnapshotLake]] — the engine's manifest-pointer lake, where commits
    * publish with ONE atomic manifest create and the gap structurally
    * cannot exist (a plain Hive parquet directory cannot swap atomically;
    * a manifest can).
    *
    * Returns (partitionDir, filesBefore, filesAfter) per compacted
    * partition, newest state; empty when nothing crossed the threshold.
    */
  def compactPartitionedParquet(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 4): Seq[(String, Int, Int)] =
    // Single-writer protocol; see [[LakeLease]] and mergeIntoParquet.
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      compactPartitionedLocked(spark, path, partitionCol, targetBytes,
        minFilesToCompact)
    }

  private def compactPartitionedLocked(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      targetBytes: Long,
      minFilesToCompact: Int): Seq[(String, Int, Int)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    if (!fs.exists(cur)) return Nil
    val staging = new Path(path + "__staging")
    val oldRoot = new Path(path + "__old")
    recoverParkedPartitions(fs, cur, staging, oldRoot)
    val partDirs = fs.listStatus(cur)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
    val picked = partDirs.flatMap { d =>
      val files = fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > math.max(want, minFilesToCompact))
        Some((d.getPath.getName, files.length, want))
      else None
    }
    // The per-partition rewrites are independent — submit them as
    // CONCURRENT Spark jobs (a serial loop over hundreds of fragmented
    // partitions would cost one scheduler round-trip each while the
    // cluster idles). Bounded pool; failures propagate before any swap.
    if (picked.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, picked.length))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val jobs = picked.toSeq.map { case (dirName, _, want) =>
          scala.concurrent.Future {
            spark.read.parquet(s"$path/$dirName")
              .coalesce(want)
              .write.parquet(s"$staging/$dirName")
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(jobs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
      val pickedNames = picked.map(_._1).toSet
      installStagedPartitions(fs, cur, staging, oldRoot, pickedNames.contains)
    }
    picked.toSeq.map { case (dir, before, _) =>
      val after = fs.listStatus(new Path(cur, dir))
        .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
      (dir, before, after)
    }
  }

  /** Small-file compaction for a FLAT (non-partitioned) parquet dir — the
    * operational complement of the admission indexes' blind appends
    * ([[graft.dedup.IncrementalDedup]]): a standing ingest loop appends ≥ 1
    * file per batch to the hash index and up to one file per admitted doc
    * group to the bucket index, so a long-lived gate accumulates thousands
    * of small files and every novelty probe pays their open cost. Same
    * picking rule as [[compactPartitionedParquet]]
    * (`ceil(bytes/targetBytes)` floored at `minFilesToCompact`), same
    * single-writer lease, same park/install swap — here the unit is the
    * whole dir, parked at `<path>__old` for the one rename window. Crash
    * recovery runs at entry: a parked dir with no live dir means the
    * install never happened — roll it back; with a live dir, the install
    * completed — drop it. Row content is preserved as a multiset
    * (`coalesce` merges whole partitions, so rows co-located in one input
    * file stay co-located); compaction is pure file-layout maintenance.
    *
    * READER CAVEAT: as with the partitioned compactor, the swap makes the
    * dir transiently absent for one rename window. The admission gates
    * never race this (they take the same lease), but run external readers
    * in a maintenance window.
    *
    * Returns Some((filesBefore, filesAfter)) when compacted, None when the
    * dir is absent or already right-sized.
    */
  def compactParquetDir(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 4): Option[(Int, Int)] =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = new Path(path)
      val parked = new Path(path + "__old")
      val staging = new Path(path + "__staging")
      recoverSwap(fs, cur, parked, staging)
      if (!fs.exists(cur)) None
      else {
        val files = fs.listStatus(cur)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        if (files.length <= math.max(want, minFilesToCompact)) None
        else {
          // mergeSchema: an index dir can mix schema generations (bucket
          // rows written before lane storage lack l0..l2); inference from
          // one sample file would silently DROP the newer columns from the
          // whole compacted dir. The union keeps every column — old rows
          // read as null there, exactly as they did pre-compaction.
          spark.read.option("mergeSchema", "true").parquet(path)
            .coalesce(want).write.parquet(staging.toString)
          installSwap(fs, cur, staging, parked)
          val after = fs.listStatus(cur)
            .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
          Some((files.length, after))
        }
      }
    }

  /** Hadoop FileSystem.rename reports failure by returning false — silent
    * acceptance would let a failed swap drop a batch's data.
    */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** The one crash rule of every rename-swap directory install (whole
    * tables, partition dirs, fold state, the layout migration), run by the
    * writer under its lease BEFORE it reads `live` or stages anything:
    *
    *  - `parked` present, `live` missing → a crash fell between the two
    *    renames of [[installSwap]] and the parked copy is the only one:
    *    restore it (reading empty state instead would lose every row);
    *  - `parked` and `live` both present → the install completed: drop
    *    the park;
    *  - any `staging` left by a crash before the install is cleared.
    */
  private[graft] def recoverSwap(
      fs: FileSystem, live: Path, parked: Path, staging: Path): Unit = {
    if (fs.exists(parked)) {
      if (!fs.exists(live)) renameOrThrow(fs, parked, live)
      else fs.delete(parked, true)
    }
    if (fs.exists(staging)) fs.delete(staging, true)
  }

  /** Park `live` (when present) at `parked`, rename `staging` into its
    * place, drop the park. A crash between the renames is healed by
    * [[recoverSwap]] on the next writer.
    */
  private[graft] def installSwap(
      fs: FileSystem, live: Path, staging: Path, parked: Path): Unit = {
    if (fs.exists(live)) renameOrThrow(fs, live, parked)
    renameOrThrow(fs, staging, live)
    fs.delete(parked, true)
  }

  /** SQL dialects for the keyed-upsert statement.
    *
    * All column identifiers are emitted double-quoted lowercase so the
    * reference schema's `close` column (an SQL reserved word in Derby)
    * round-trips; matching DDL (see [[Ddl]]) quotes identifiers the same
    * way. `noUpdate` names columns inserted but never touched on the update
    * path — the audit-column contract (`created_at` is stable after insert,
    * ≙ the reference trigger at `postgres_writer.py:53-73`).
    */
  sealed trait Dialect {
    /** The `dialect` option value of [[graft.sources.JdbcUpsertDataSource]]. */
    def name: String

    def upsertSql(
        table: String,
        cols: Seq[String],
        keys: Seq[String],
        noUpdate: Seq[String] = Nil): String

    /** Column names in the order the statement's `?` placeholders bind;
      * default: one placeholder per column, in column order.
      */
    def bindOrder(
        cols: Seq[String],
        keys: Seq[String],
        noUpdate: Seq[String] = Nil): Seq[String] = cols

    /** Quoted identifier. */
    protected def q(id: String): String = "\"" + id + "\""

    protected def updatable(cols: Seq[String], keys: Seq[String], noUpdate: Seq[String]) =
      cols.filterNot(keys.contains).filterNot(noUpdate.contains)
  }

  /** Postgres `INSERT … ON CONFLICT DO UPDATE` — the reference's statement
    * shape (`postgres_writer.py:148-154,234-240`).
    */
  case object Postgres extends Dialect {
    val name = "postgres"
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val sets = updatable(cols, keys, noUpdate)
        .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"""INSERT INTO $table (${cols.map(q).mkString(", ")})
         |VALUES (${cols.map(_ => "?").mkString(", ")})
         |ON CONFLICT (${keys.map(q).mkString(", ")}) DO UPDATE SET $sets""".stripMargin
    }
  }

  /** ANSI MERGE for engines without ON CONFLICT (Derby, etc.). */
  case object AnsiMerge extends Dialect {
    val name = "ansi"
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val sets = updatable(cols, keys, noUpdate)
        .map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      s"""MERGE INTO $table t
         |USING (VALUES (${cols.map(_ => "?").mkString(", ")}))
         |  AS s (${cols.map(q).mkString(", ")}) ON $on
         |WHEN MATCHED THEN UPDATE SET $sets
         |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |  VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
    }
    // Note: MERGE binds the VALUES row once; parameter count == cols.size.
  }

  /** Derby MERGE over SYSIBM.SYSDUMMY1 (Derby's MERGE source must be a
    * table/view, not a VALUES row). Placeholders bind keys (ON), then
    * updatable non-keys (UPDATE SET), then every column (INSERT VALUES).
    */
  case object Derby extends Dialect {
    val name = "derby"
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val on = keys.map(k => s"$table.${q(k)} = ?").mkString(" AND ")
      val sets = updatable(cols, keys, noUpdate)
      val matched =
        if (sets.isEmpty) ""
        else s"WHEN MATCHED THEN UPDATE SET ${sets.map(c => s"${q(c)} = ?").mkString(", ")} "
      s"""MERGE INTO $table USING SYSIBM.SYSDUMMY1 ON $on
         |${matched}WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |  VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
    }

    override def bindOrder(cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): Seq[String] =
      keys ++ updatable(cols, keys, noUpdate) ++ cols
  }

  /** L2/L3 — distributed JDBC upsert: a Dataset write through
    * [[graft.sources.JdbcUpsertDataSource]], whose per-partition writer
    * opens one connection, writes batches of `batchSize` (the reference
    * pages at 1000, `postgres_writer.py:259`), and commits per partition.
    * Global atomicity is *not* promised (SURVEY.md §7 #1) — instead the
    * statement itself is idempotent, so Spark task retries and whole-job
    * re-runs converge, which is the reference's own recovery model
    * (`README.md:37`). Being a write action, it fires the observed metrics
    * of any `Observation` on `df`.
    *
    * `props` map to the source's options: `user`/`password` as themselves,
    * every other driver property as `jdbcprop.<name>`.
    *
    * Callers must `lastWriteWins` first so a batch never carries two rows
    * for one key (cross-partition write order is nondeterministic).
    */
  def upsertJdbc(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      dialect: Dialect = Postgres,
      batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties(),
      noUpdate: Seq[String] = Nil): Unit = {
    val propOptions = props.stringPropertyNames.asScala.map { k =>
      (if (k == "user" || k == "password") k else s"jdbcprop.$k") -> props.getProperty(k)
    }.toMap
    df.write.format(classOf[graft.sources.JdbcUpsertDataSource].getName)
      .option("url", url)
      .option("dbtable", table)
      .option("keys", keys.mkString(","))
      .option("dialect", dialect.name)
      .option("batchsize", batchSize.toString)
      .option("noupdate", noUpdate.mkString(","))
      .options(propOptions)
      .mode("append")
      .save()
  }

  private[graft] val dialects: Seq[Dialect] = Seq(Postgres, Derby, AnsiMerge)

  /** L1 parity — keyed upsert with the reference's audit columns
    * (`postgres_writer.py:48-49` defaults + the `update_updated_at_column`
    * trigger at `:53-73`): `created_at` and `updated_at` are both stamped on
    * insert; on a merge update `updated_at` advances while `created_at` is
    * never touched (it rides the `noUpdate` list).
    *
    * Ownership of `updated_at` is dialect-split: on Postgres the DATABASE
    * owns it — [[Ddl]] installs the reference's trigger, so the update path
    * must NOT set the column (the trigger would see NEW≠OLD on every merge
    * and clobber the stamp with NOW() even for no-op re-deliveries; leaving
    * it out lets the trigger fire only on real changes, exactly the
    * reference's semantics). On trigger-less targets (Derby/ANSI) the WRITER
    * owns it: the caller-supplied `now` advances on every merge update —
    * deterministic and batch-constant, the distributed analogue of one
    * transaction's NOW().
    *
    * ACCEPTED cross-dialect difference: on writer-owned targets a no-op
    * re-delivery of identical rows still advances `updated_at` (the MERGE
    * cannot cheaply tell "matched and unchanged" apart — Derby lacks
    * IS DISTINCT FROM, and a null-safe per-column row-differs predicate
    * would double every statement's bind width for an audit nicety). On
    * Postgres the trigger stamps only on real change. Callers needing
    * replay-invariant audit rows across BOTH backends should treat
    * `updated_at` as "last touched", not "last changed".
    */
  def upsertJdbcAudited(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      now: java.sql.Timestamp,
      dialect: Dialect = Postgres,
      batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val audited = df
      .withColumn("created_at", lit(now))
      .withColumn("updated_at", lit(now))
    val noUpdate = dialect match {
      case Postgres => Seq("created_at", "updated_at") // trigger-owned
      case _        => Seq("created_at")               // writer-owned
    }
    upsertJdbc(audited, url, table, keys, dialect, batchSize, props, noUpdate)
  }
}
