package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans and
  * Spark's epoch-millisecond stage times share one axis.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + base
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into each layer. Kept in memory and
  * written when the run ends; a disabled tracer only runs the body.
  */
final class Tracer(val enabled: Boolean, val run: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  /** Client-thread time the tracing itself costs (drains, plan walks). */
  var overheadNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowNs()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, name, t0, Clock.nowNs(), run)
      }
    }

  /** Time `body` as tracing overhead. */
  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  def spans: Seq[Span] = buf.toSeq
}

object SpanMath {
  /** Each span's duration minus the part of it its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = Stats.unionLength(Stats.clip(
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs))
      s.id -> (s.durNs - cover)
    }.toMap
  }
}

/** Where a Spark job came from: the innermost `graft.*` frame of its call
  * site (`StageInfo.details`), and every `graft.*` frame with its line.
  */
final case class Origin(frames: Vector[String]) {
  def layerClass: String = frames.headOption.map(Origin.cls).getOrElse("bench")
  def has(method: String): Boolean = frames.exists(f => Origin.method(f) == method)
  def lineOf(method: String): Option[Int] =
    frames.find(f => Origin.method(f) == method).flatMap(f =>
      "\\:(\\d+)\\)$".r.findFirstMatchIn(f).map(_.group(1).toInt))
}

object Origin {
  def of(details: String): Origin =
    Origin(details.split("\n").iterator.map(_.trim)
      .filter(_.startsWith("graft.")).toVector)
  /** `graft.etl.Pipeline$.$anonfun$runLake$1(Pipeline.scala:250)` → `graft.etl.Pipeline`. */
  def cls(frame: String): String = {
    val m = frame.takeWhile(_ != '(')
    m.substring(0, math.max(0, m.lastIndexOf('.'))).split('$').head
  }
  /** … → `graft.etl.Pipeline.runLake`. */
  def method(frame: String): String = {
    val m = frame.takeWhile(_ != '(')
    val name = m.substring(m.lastIndexOf('.') + 1).split('$').filter(s =>
      s.nonEmpty && s != "anonfun" && !s.forall(_.isDigit)).headOption.getOrElse("?")
    s"${cls(frame)}.$name"
  }
}

final case class StageRec(origin: Origin, submitNs: Long, doneNs: Long, tasks: Int, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, bytesWritten: Long)

final case class JobRec(origin: Origin, startNs: Long, endNs: Long)

/** Listener-side record of one executed query plan. */
final case class PlanRec(nodes: Set[String], exchanges: Int, reused: Int,
    scanFiles: Long, scanBytes: Long, selfJoinRows: Long, candidatePairs: Long, planningNs: Long)

/** Collects stages, jobs and executed plans while tracing is on. */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val stageQ = new ConcurrentLinkedQueue[StageRec]()
  private val jobQ = new ConcurrentLinkedQueue[JobRec]()
  private val planQ = new ConcurrentLinkedQueue[PlanRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Origin)]()
  // Adaptive execution submits query stages from its own threads, whose call
  // sites hold no program frames; the SQL execution's start event carries
  // the call site of the action on the client thread instead.
  private val execOrigin = new java.util.concurrent.ConcurrentHashMap[Long, Origin]()
  private val stageOrigin = new java.util.concurrent.ConcurrentHashMap[Int, Origin]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execOrigin.put(s.executionId, Origin.of(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val origin = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execOrigin.get(id.toLong)))
      .getOrElse(last.map(s => Origin.of(s.details)).getOrElse(Origin(Vector.empty)))
    e.stageInfos.foreach(s => stageOrigin.put(s.stageId, origin))
    jobStart.put(e.jobId, (e.time * 1000000L, origin))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, origin) =>
      jobQ.add(JobRec(origin, t0, e.time * 1000000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val origin = Option(stageOrigin.remove(s.stageId)).getOrElse(Origin.of(s.details))
    if (m != null) stageQ.add(StageRec(origin,
      s.submissionTime.getOrElse(0L) * 1000000L, s.completionTime.getOrElse(0L) * 1000000L,
      s.numTasks, m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planQ.add(PlanShape.of(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything collected since the last call, after the bus has drained. */
  def take(): (Seq[StageRec], Seq[JobRec], Seq[PlanRec]) = {
    PerfbenchBus.drain(spark.sparkContext)
    def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    (drainQ(stageQ), drainQ(jobQ), drainQ(planQ))
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Plan shape as data: node classes, exchanges, scans and the dedup
  * self-join's row counts, read from the executed (post-AQE) plan.
  */
object PlanShape {
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _: ReusedExchangeExec => ()
      case _ =>
        p.children.foreach(walk(_)(f))
        p.subqueries.foreach(walk(_)(f))
    }
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def named(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression], n: String) =
    es.nonEmpty && es.forall {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name == n
      case _ => false
    }

  def of(qe: QueryExecution): PlanRec = {
    val nodes = mutable.Set.empty[String]
    var exchanges, reused = 0
    var files, bytes, selfJoin, cand = 0L
    walk(qe.executedPlan) { p =>
      nodes += p.getClass.getSimpleName
      p match {
        case _: ReusedExchangeExec => reused += 1
        case _: Exchange => exchanges += 1
        case j: BaseJoinExec if named(j.leftKeys, "shingle") && named(j.rightKeys, "shingle") &&
            j.condition.nonEmpty =>
          selfJoin += metric(p, "numOutputRows")
        case h: HashAggregateExec if h.output.map(_.name) == Seq("doc_a", "doc_b", "ni") &&
            h.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final) =>
          cand += metric(p, "numOutputRows")
        case _ =>
      }
      p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.fileFormat.isInstanceOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          files += metric(p, "numFiles")
          bytes += metric(p, "filesSize")
        case _ =>
      }
    }
    val planning = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    PlanRec(nodes.toSet, exchanges, reused, files, bytes, selfJoin, cand, planning)
  }
}

/** Which graft optimizer rules changed a plan, from Catalyst's own rule
  * metering (reset before each operation of the traced run).
  */
object RuleHits {
  private val Line = "^\\s*(graft\\.\\S+)\\s+\\d+\\s*/\\s*\\d+\\s+(\\d+)\\s*/\\s*\\d+.*".r
  def reset(): Unit = RuleExecutor.resetMetrics()
  def effective(): Set[String] =
    RuleExecutor.dumpTimeSpent().split("\n").iterator.collect {
      case Line(rule, eff) if eff.toInt > 0 => rule
    }.toSet
}
