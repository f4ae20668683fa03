package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N× replica builder for the sf0.1 tables — shared by the ad-hoc
  * [[ScaleProbe]] and the committed sf1 bench artifact ([[ReplicaGen]] +
  * `BENCH_sf1.json`), so both measure the SAME scaled dataset definition.
  * Fact-table keys are offset per replica (join/group cardinalities scale
  * too); document text is token-perturbed per replica (verbatim copies
  * would make the near-dup probes measure the by-design-quadratic duplicate
  * workload instead of scan/shuffle scaling); dims and `embeddings` are
  * copied as-is (scaling embeddings verbatim would multiply within-cell
  * duplicates — same rationale, SURVEY §6.1 footnote).
  */
object Replicas {
  def build(spark: SparkSession, base: String, work: String, n: Int): Unit = {
    // Replicate fact tables with per-replica key offsets; dims stay as-is.
    def replicate(name: String, keyCols: Map[String, Long]): Unit = {
      val src = graft.Tables(spark, base, name)
      val out = (0 until n).map { r =>
        keyCols.foldLeft(src) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(r * stride))
        }
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$work/$name.parquet")
    }
    replicate("lineitem", Map("l_orderkey" -> 100000000L))
    replicate("orders", Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L))
    replicate("customer", Map("c_custkey" -> 10000000L))
    replicate("events", Map("event_id" -> 1000000000L, "user_id" -> 100000L))
    locally {
      val src = graft.Tables(spark, base, "documents")
      (0 until n).map { r =>
        src.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
          .withColumn("text",
            expr(s"array_join(transform(split(text, ' '), t -> concat('r${r}_', t)), ' ')"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$work/documents.parquet")
    }
    Seq("region", "nation", "supplier", "part", "embeddings").foreach { t =>
      graft.Tables(spark, base, t).write.mode("overwrite").parquet(s"$work/$t.parquet")
    }
  }
}

/** Standalone replica build: `runMain graft.tools.ReplicaGen <base> <work> <n>`.
  * Used to materialize the 10× dataset the committed `BENCH_sf1.json` runs
  * against (the full 83-query gate at replica scale, SURVEY §6.6).
  */
object ReplicaGen {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Tables.session(32)
    Replicas.build(spark, base, work, n)
    spark.stop()
  }
}

/** Dev utility: scaling-linearity probe. Materializes an N× replica of the
  * sf0.1 tables via [[Replicas]], runs headline queries at 1× and N×, and
  * prints the scale factor of the runtime. A plan that scales superlinearly
  * here has a shuffle or state problem that 100 TB would amplify.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val n = if (args.nonEmpty) args(0).toInt else 10
    val work = "/tmp/graft_scale10"
    val spark = graft.Tables.session(32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    Replicas.build(spark, base, work, n)

    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      fn(spark, dir).write.mode("overwrite").format("noop").save() // warm
      (1 to 3).map { _ => // min-of-3: the box has noisy background load
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    import graft.queries.CoreQueries._
    import graft.dedup.DedupQueries._
    val probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "a2_agg" -> (a2Agg _),
      "a4_sortmerge_join" -> (a4SortMergeJoin _),
      "a5_star_join" -> (a5StarJoin _),
      "a6_topk_window" -> (a6TopkWindow _),
      "e4_ohlcv_resample" -> (e4OhlcvResample _),
      "e8_drawdown" -> (e8Drawdown _),
      "x1_exact_dedup" -> (x1ExactDedup _),
      "x2_minhash_lsh" -> (x2MinhashLsh _),
      "x3_simhash" -> (x3Simhash _),
      "x4_ngram_jaccard" -> (x4NgramJaccard _),
      "x12_contamination" -> (x12Contamination _),
      "x15_dupspan" -> ((s: SparkSession, d: String) => x15DupSpanCoverage(s, d, 8)),
      "a18_json_extract" -> (a18JsonExtract _),
      "a19_funnel" -> (a19Funnel _),
      "t7_repetition" -> (graft.text.TextQueries.repetition _),
      "t8_tfidf" -> (graft.text.TextQueries.tfidf _),
      "t9_term_drift" -> ((s: SparkSession, d: String) =>
        graft.text.TextQueries.termDrift(s, d, 20)),
      "x14_semdedup" -> ((s: SparkSession, d: String) =>
        graft.similarity.SimilarityQueries.x14SemDedup(s, d, 0.42)),
      "e10_market_beta" -> (e10MarketBeta _),
      "a21_retention" -> (a21RetentionCohorts _),
      "a22_sessionization" -> (a22Sessionization _),
      "t11_hashed_clf" -> (graft.text.TextQueries.hashedClassifier _),
      "x16_source_overlap" -> ((s: SparkSession, d: String) => x16SourceOverlap(s, d, 8)),
      "x17_incr_novelty" -> ((s: SparkSession, d: String) => x17IncrementalNovelty(s, d, 8)),
      "m6_chunk_dedup" -> (graft.multimodal.MultimodalQueries.m6ChunkDedup _),
      "m7_cdc_chunk_dedup" -> (graft.multimodal.MultimodalQueries.m7CdcChunkDedup _))
    println(f"[scale] ${"query"}%-20s ${"1x"}%8s ${s"${n}x"}%8s  ratio (ideal <= $n)")
    probes.foreach { case (name, fn) =>
      val t1 = time(fn, base)
      val tn = time(fn, work)
      println(f"[scale] $name%-20s $t1%8.2f $tn%8.2f  ${tn / t1}%.1f")
    }
    spark.stop()
  }
}
