package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

import graft.{SparkEntry, Tables}

/** The `queries` workload: declared `SparkEntry.queries` run one at a time
  * over the generated tables, in a seeded order per pass.
  */
object QuerySets {
  /** Market analytics: the README-shaped reads (q_*), the E1–E3 query
    * faces, and one query per custom plan node (e24 carries GlobalRank,
    * RangeSliding, RangeMinMax and DescOrder; e25 SuffixFrame; a13d the
    * as-of join; a17b the binned range join). Sized to the run budget.
    */
  val market: Seq[String] = Seq(
    "q_recent", "q_day", "q_any", "e1_standardize", "e2_convert", "e3_upsert",
    "e24_desc_sliding_sql", "e25_suffix_frames_sql", "a13d_asof_nearest",
    "a17b_interval_join_binned")

  /** Corpus curation: x4's pairs off the shingle self-join
    * (`DedupQueries.intersections`, which x9–x11 and c3–c4 share), the LSH
    * gate x2 as its control, and one query each from similarity/, text/
    * and multimodal/. Sized to the run budget.
    */
  val corpus: Seq[String] = Seq(
    "x4_ngram_jaccard", "x2_minhash_lsh", "x6_ann_bruteforce", "t15_heavy_hitters",
    "m7_cdc_chunk_dedup")

  /** Custom plan nodes whose presence the traced run counts per query. */
  val planNodes: Seq[String] = Seq("GlobalRank", "RangeSliding", "RangeMinMax", "RowsFollowing",
    "DescOrder", "SuffixFrame", "AsOfJoin", "RangeJoinBinning")
}

/** Per-query trace facts of one execution. */
final case class QueryTrace(name: String, pass: Int, wallNs: Long, stages: Seq[StageRec],
    jobs: Seq[JobRec], plans: Seq[PlanRec], rules: Set[String], rows: Long)

final class QueryRun(names: Seq[String], dataDir: String, seed: Long, work: String, out: Outcome,
    tr: Tracer) {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val passWall = mutable.ArrayBuffer.empty[Double]
  val traces = mutable.ArrayBuffer.empty[QueryTrace]
  private val signature = mutable.Map.empty[String, String]

  /** Resolve every table once: file listing and footers. */
  def register(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables(spark, dataDir, t).schema)

  /** One pass in a seeded order. Pass 0 is the warm-up: its results are
    * dumped for the oracle comparison and fix each query's signature; later
    * passes must reproduce that signature.
    */
  def pass(spark: SparkSession, p: Int, collector: Option[Collector]): Unit = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
    val t0 = System.nanoTime()
    tr.span(s"pass") {
      order.foreach { name => runOne(spark, name, p, collector) }
    }
    if (p > 0) passWall += (System.nanoTime() - t0) / 1e9
  }

  private def runOne(spark: SparkSession, name: String, p: Int, collector: Option[Collector]): Unit = {
    out.attempted += 1
    collector.foreach(_ => tr.bookkeeping { RuleHits.reset(); collector.get.take() })
    val t0 = System.nanoTime()
    val rows: Option[(Array[Row], Seq[String])] =
      try tr.span(s"query.$name") {
        val df = SparkEntry.queries(name)(spark, dataDir)
        Some((df.collect(), df.schema.fieldNames.toSeq))
      }
      catch {
        case e: Throwable =>
          out.fail(s"$name pass $p: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    val dt = System.nanoTime() - t0
    spark.catalog.clearCache()
    collector.foreach { c =>
      tr.bookkeeping {
        val (st, jb, pl) = c.take()
        traces += QueryTrace(name, p, dt, st, jb, pl, RuleHits.effective(),
          rows.map(_._1.length.toLong).getOrElse(0L))
      }
    }
    rows.foreach { case (rs, header) =>
      val sig = QueryRun.signature(rs)
      if (p == 0) {
        signature(name) = sig
        QueryRun.dump(s"$work/results/$name.jsonl", header, rs)
      } else {
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt / 1e9
        if (!signature.get(name).contains(sig))
          out.fail(s"$name pass $p: result differs from the verified pass")
      }
    }
  }
}

object QueryRun {
  /** Order-insensitive signature, doubles to 9 significant digits so
    * summation order cannot flip it.
    */
  def signature(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "∅"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => v(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => v(kv._1) + ":" + v(kv._2)).sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => v(r)).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Rows as JSON lines: a header of column names, then one array per row.
    * Timestamps, dates, binaries, structs and maps carry a `$`-tag so the
    * oracle side can rebuild typed values.
    */
  def dump(path: String, header: Seq[String], rows: Array[Row]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(path))
    try {
      w.write(Json(header)); w.write("\n")
      rows.foreach { r => w.write(r.toSeq.map(value).mkString("[", ",", "]")); w.write("\n") }
    } finally w.close()
  }

  private def value(x: Any): String = x match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity") else d.toString
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => s"""{"$$dec":"${b.toPlainString}"}"""
    case b: BigDecimal => value(b.bigDecimal)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s: String => Json.str(s)
    case t: java.sql.Timestamp => s"""{"$$ts":${DateTimeUtils.fromJavaTimestamp(t)}}"""
    case t: java.time.Instant => s"""{"$$ts":${DateTimeUtils.instantToMicros(t)}}"""
    case t: java.time.LocalDateTime => s"""{"$$ts":${DateTimeUtils.localDateTimeToMicros(t)}}"""
    case d: java.sql.Date => s"""{"$$date":"${d.toLocalDate}"}"""
    case d: java.time.LocalDate => s"""{"$$date":"$d"}"""
    case b: Array[Byte] => s"""{"$$bin":"${b.map("%02x".format(_)).mkString}"}"""
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.map(i => Json.str(names(i)) + ":" + value(r.get(i)))
        .mkString("""{"$struct":{""", ",", "}}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map(kv => "[" + value(kv._1) + "," + value(kv._2) + "]").mkString("""{"$map":[""", ",", "]}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }
}
