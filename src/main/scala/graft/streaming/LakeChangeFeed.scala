package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{LakeLease, SnapshotLake}

/** The standing INCREMENTAL CONSUMER of a snapshot lake's commit history —
  * the loop [[graft.etl.SnapshotLake.changes]] exists for, packaged so a
  * downstream job never hand-assembles it: follow the manifest chain, emit
  * each commit's delta exactly once, survive restarts.
  *
  * `changes(from, to)` is a point read ("diff these two snapshots"); the
  * production loop is "process every commit I have not seen yet, in order,
  * once" — feeding the MV folds ([[StreamingIngest.foldStateBatchOnce]]),
  * the temporal join's history, or a downstream sync. [[followAvailableNow]]
  * is that loop with the AvailableNow contract the engine's other ingest
  * faces use (≙ one cron tick: drain everything available, then stop):
  *
  *  - consumer position is DURABLE state beside the checkpoint — one marker
  *    file per consumed generation under `consumerDir` (the marker-ledger
  *    pattern of [[graft.etl.SnapshotLake.mergeStreamBatch]]), so a
  *    restarted consumer resumes after the last marker and a replayed tick
  *    re-emits nothing;
  *  - a fresh consumer BOOTSTRAPS from the oldest retained snapshot,
  *    delivered as one all-`insert` batch (the standard CDC
  *    initial-snapshot semantics — Delta CDF / Debezium do the same), then
  *    follows per-commit deltas;
  *  - each delta batch is [[graft.etl.SnapshotLake.changes]]' frame — the
  *    table schema plus `_change_type` ∈ {insert, update, delete} — for
  *    exactly the commit `(gen-1, gen]`, partition-scoped by manifest diff
  *    (untouched partitions are never read, so a tick's cost is
  *    proportional to what its commits touched, not to the table);
  *  - the VACUUM GUARDRAIL: if the consumer's last-consumed snapshot is no
  *    longer retained the incremental chain is broken, and the follower
  *    throws a loud error NAMING the missing generation instead of
  *    silently skipping commits — size retention to the slowest consumer's
  *    lag, exactly the [[graft.etl.SnapshotLake.vacuum]] contract.
  *
  * Exactly-once analysis (the marker-after-commit contract): the
  * marker is created AFTER `f` returns, so a crash inside `f` replays that
  * one batch on the next tick — at-least-once delivery with replay
  * suppression once markered. `f` over an idempotent sink (keyed LWW
  * merge) therefore converges; a NON-idempotent fold must commit its
  * effect atomically with its own ledger, which is exactly what
  * [[StreamingIngest.foldStateBatchOnce]] provides — compose them with the
  * generation as the batch id:
  * {{{
  *   LakeChangeFeed.followAvailableNow(spark, lake, stateDir, (delta, gen) =>
  *     StreamingIngest.foldStateBatchOnce(delta, gen, mvPath, "cdc-mv", ...))
  * }}}
  * and the end-to-end loop is exactly-once observable.
  *
  * Single-consumer per `consumerDir` (two followers sharing a position
  * would each skip the other's markers): the tick runs under the
  * [[graft.etl.LakeLease]] for the consumer dir — a second concurrent tick
  * fails loudly, the same single-writer bar every lake mutation holds.
  * Scale shape: the follower itself is O(#retained manifests) driver-side
  * metadata per tick; all data movement is inside the partition-scoped
  * `changes` reads.
  */
object LakeChangeFeed {

  private val MarkerName = """gen-(\d{20})""".r

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generations this consumer has fully processed (marker files). */
  def consumedGens(spark: SparkSession, consumerDir: String): Seq[Long] = {
    val fs = fsOf(spark, consumerDir)
    val dir = new Path(consumerDir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath.getName)
      .collect { case MarkerName(g) => g.toLong }.toSeq.sorted
  }

  /** The consumer's position: the newest consumed generation, or None for
    * a consumer that has never run (next tick bootstraps).
    */
  def lastConsumedGen(spark: SparkSession, consumerDir: String): Option[Long] =
    consumedGens(spark, consumerDir).lastOption

  private def mark(fs: FileSystem, consumerDir: String, gen: Long): Unit = {
    val p = new Path(consumerDir, f"gen-$gen%020d")
    fs.mkdirs(p.getParent)
    // a duplicate marker means a concurrent duplicate tick of the SAME gen
    // already delivered the identical batch — benign, like
    // BatchLedger.record's duplicate-key guard
    try fs.create(p, false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
  }

  /** One consumer tick: deliver every not-yet-consumed commit of the lake
    * at `lakePath` to `f(deltaFrame, generation)`, in generation order,
    * marking each under `consumerDir` — then stop (AvailableNow). Returns
    * the generations delivered this tick (empty = caught up).
    *
    * See the object scaladoc for the bootstrap, exactly-once, and vacuum
    * contracts. Deltas are built lazily ONE AT A TIME so `f` controls
    * materialization; `f` must not re-enter the follower.
    */
  def followAvailableNow(
      spark: SparkSession,
      lakePath: String,
      consumerDir: String,
      f: (DataFrame, Long) => Unit): Seq[Long] =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, consumerDir) {
      val gens = SnapshotLake.retainedGens(spark, lakePath)
      require(gens.nonEmpty,
        s"$lakePath has no published snapshot — nothing to follow")
      val fs = fsOf(spark, consumerDir)
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cursor: Long = lastConsumedGen(spark, consumerDir) match {
        case Some(g) => g
        case None =>
          // BOOTSTRAP: the oldest retained snapshot as one all-insert batch
          // (for a SQL-created table that is the empty gen 0 — zero rows,
          // table schema, then every commit arrives as its own delta)
          val g0 = gens.head
          val snap = SnapshotLake.readAt(spark, lakePath, g0)
            .withColumn("_change_type", lit("insert"))
          f(snap, g0)
          mark(fs, consumerDir, g0)
          delivered += g0
          g0
      }
      // the cursor must name a RETAINED snapshot, in either direction:
      // behind the retained window = a vacuum outran the consumer; AHEAD of
      // it = the lake was deleted and re-created at the same path (its gen
      // counter reset), and silently reporting "caught up" would skip the
      // new table's entire history
      if (!gens.contains(cursor))
        throw new IllegalStateException(
          if (cursor > gens.last)
            s"CDC consumer at $consumerDir last consumed snapshot $cursor " +
              s"of $lakePath, but the lake's newest retained snapshot is " +
              s"${gens.last} — the lake was reset (deleted and re-created) " +
              "under this consumer's position. Reset the consumer (delete " +
              "its state dir) to re-bootstrap from the new table's history."
          else
            s"CDC consumer at $consumerDir last consumed snapshot $cursor of " +
              s"$lakePath, but that snapshot is no longer retained (oldest " +
              s"retained: ${gens.head}) — a vacuum outran this consumer and " +
              "the incremental chain is broken. Raise vacuum retention above " +
              "the consumer's lag, or reset the consumer (delete its state " +
              "dir) to re-bootstrap from the current snapshot.")
      gens.filter(_ > cursor).foreach { g =>
        f(SnapshotLake.changes(spark, lakePath, cursor, g), g)
        mark(fs, consumerDir, g)
        delivered += g
        cursor = g
      }
      delivered.toSeq
    }
}
