package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Operations attempted and failed, with the first few failure messages. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = {
    failed += 1
    if (errors.length < 20) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** Progress lines on stderr, stamped with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}

object Files {
  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  def treeBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new File(path))
  }

  def parquetFiles(path: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    walk(new File(path)).toSet
  }

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(new File(path).toPath, text)
  }
}

/** Fixed CPU-only work with no Spark, timed at the start and end of every
  * run so host drift between two runs is a number. Best of three rounds.
  */
object Calib {
  @volatile private var sink = 0L
  def run(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    val arr = Array.tabulate(400000)(j => (j * 0x9E3779B9L) ^ acc)
    java.util.Arrays.sort(arr)
    sink += arr(arr.length / 2)
    (System.nanoTime() - t0) / 1e9
  }.min
}

/** Let the JVM settle before a measured phase: collect, then wait (at most
  * 3 s) until the JIT compiler has been idle for a moment, so compilation
  * queued during warm-up does not compete with the measured work.
  */
object Quiesce {
  def apply(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idle = false
    while (!idle && System.nanoTime() - t0 < 3000000000L) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      idle = now - last < 20
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Highest driver heap occupancy seen right after a GC. */
object HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  /** Collect once more so a run without a GC still reports a value. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    peak / 1048576.0
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
