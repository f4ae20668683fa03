package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TopKAggregator

/** Similarity search over the `embeddings` table (vec_id, array<float> 64-d,
  * label).
  *
  * Three shapes, ordered by scale path:
  *  - X5 near-dup pairs inside a blocking key (label) — equi-join blocked,
  *    never corpus²;
  *  - X6 brute-force top-k for a bounded query set — broadcast the queries,
  *    one pass over the corpus, per-query top-k via window (at cluster
  *    scale: TakeOrdered per query key);
  *  - X7 LSH-bucketed ANN — 8 deterministic pseudo-random hyperplanes give
  *    a 256-bucket sign signature; queries probe only their bucket, so the
  *    scan cost drops ~256× at the price of recall (measured in tests).
  *
  * All cosine math runs in the codegen'd `CosineSimilarity` Catalyst
  * expression over `array<double>`; the DuckDB oracles run the identical
  * left-to-right accumulation via list_reduce, giving bit-equal doubles.
  */
object SimilarityQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private def vecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  private def withCosine(df: DataFrame, a: String, b: String): DataFrame = {
    df.withColumn("cosine", expr(s"cosine_sim($a, $b)"))
  }

  /** X5 — embedding-cosine near-dup pairs within a label block.
    *
    * PRODUCTION ROUTING AT SCALE: this is the declared EXACT baseline, and
    * its within-label pairwise join is quadratic in the hottest label — a
    * skewed label at 100 TB is corpus²-inside-a-block. A corpus-scale run
    * routes near-dup detection through [[x14SemDedup]]'s centroid cells
    * (bounded cells, learned via [[learnCodebook]]) or [[x7AnnLshBucketed]]'s
    * sign-LSH buckets, both of which keep every pairwise comparison inside a
    * bounded block whose size is controlled by k / the bucket count rather
    * than by label skew; keep X5 for bounded label universes and for
    * measuring the approximate paths' recall.
    */
  def x5EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val pairs = e.as("a").join(e.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
    withCosine(pairs, "a.v", "b.v")
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** X6 — brute-force cosine top-k: the exact baseline every ANN variant is
    * measured against. Queries (vec_id < 10) broadcast; corpus scanned once.
    */
  def x6AnnBruteForce(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = withCosine(
      e.join(broadcast(q), col("vec_id") =!= col("q_id")), "qv", "v")
    topKPerQuery(scored, k, col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("cosine"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Per-query top-k via the bounded [[TopKAggregator]]: map-side partial
    * top-k means only `partitions × k` rows per query reach the shuffle —
    * a `row_number()` window here would shuffle and sort EVERY scored
    * corpus row per query, which is exactly what dies at 100 TB.
    */
  private def topKPerQuery(scored: DataFrame, k: Int, groupCols: Column*): DataFrame =
    scored
      .groupBy(groupCols: _*)
      .agg(TopKAggregator.topK(k)(col("vec_id"), col("cosine")).as("nn"))
      .select(groupCols :+ posexplode(col("nn")): _*)
      .select(groupCols ++ Seq(
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cosine")): _*)

  /** Sign-LSH bucket id: 8 deterministic hyperplanes; component (j,i) is
    * ((j*64+i) * 2654435761 mod 1000003) / 1000003 - 0.5. Expressible
    * identically in DuckDB, so the oracle reproduces the bucketing exactly.
    */
  private val bucketExpr: String = {
    val bits = (0 until 8).map { j =>
      s"""(CASE WHEN aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE),
            (acc, i) -> acc + element_at(v, i + 1) *
              (CAST((($j * 64 + i) * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5))
          > 0 THEN ${1 << j} ELSE 0 END)"""
    }
    bits.mkString(" + ")
  }

  /** X7 — LSH-bucketed ANN: assign every vector (and query) a 256-way
    * sign-signature bucket, search only same-bucket candidates. This is the
    * 100 TB path: the candidate join is an equi-join on bucket, with the
    * same bounded-aggregate per-query top-k as X6.
    */
  def x7AnnLshBucketed(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = vecs(s, dir).withColumn("bucket", expr(bucketExpr))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qbucket"))
    val scored = withCosine(
      e.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("q_id")),
      "qv", "v")
    // bucket == qbucket is constant within a query group, so it rides along
    // as a grouping column without changing the key cardinality.
    topKPerQuery(scored, k, col("q_id"), col("bucket").cast("long").as("bucket"))
      .select(col("q_id"), col("bucket"), col("neighbor_id"), col("cosine"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Nearest-centroid cell assignment — the shared broadcast+top-1 pass under
    * X8's IVF, X14's SemDeDup, and the k-means loop (one corpus scan per
    * call; the codebook is bounded, so the cross join is
    * broadcast-vs-k-rows, never corpus²).
    */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    withCosine(e.crossJoin(broadcast(cent)), "v", "cv")
      .groupBy(col("vec_id"))
      .agg(TopKAggregator.topK(1)(col("c_id"), col("cosine")).as("nc"),
        first(col("v")).as("v"))
      .select(col("vec_id"), element_at(col("nc"), 1).getField("id").as("cell"), col("v"))

  /** The fixed deterministic stand-in codebook (vec_ids 10..25) the
    * oracle-checked X8/X14 queries pin — kept verbatim so the DuckDB oracles
    * keep reproducing the assignment in SQL; production quality comes from
    * [[learnCodebook]] (measured in SimilaritySpec: recall@5 at nprobe=4
    * roughly doubles over this stand-in).
    */
  private def fixedCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))

  /** Lloyd's k-means codebook learned as DataFrame ops — the x9 iterative
    * loop pattern applied to vector quantization: seed with the fixed
    * stand-in centroids, then per iteration (a) assign every vector to its
    * nearest centroid by cosine (one broadcast corpus pass — the SAME
    * assignment shape x8/x14 run at query time, so train- and query-time
    * "nearest cell" agree), (b) recompute each cell's centroid as the
    * decimal-exact per-dimension mean (64× explode into a (cell, pos)-keyed
    * aggregate whose map-side partials collapse to #cells×64 rows), and
    * stop when an iteration reassigns nothing (tiny limit(1) probe) or at
    * `maxIter`. Returns (c_id, cv) — interchangeable with the fixed
    * codebook in [[x8AnnIvfFrom]]/[[x14SemDedupFrom]].
    *
    * Scale notes: each iteration is one corpus scan plus a bounded
    * aggregate; `localCheckpoint` truncates the per-round lineage exactly
    * as x9's label loop does. At 100 TB one trains the codebook on a
    * bounded SAMPLE (`e.sample(...)` — centroid quality converges long
    * before corpus-scale assignment cost is justified) and runs the
    * full-corpus assignment once at query time; the loop body is unchanged
    * either way. Cells that lose every member drop out (standard Lloyd
    * degeneracy; k can only shrink, never split).
    *
    * `k` sizes the codebook (seeds are the deterministic vec_ids 10..10+k,
    * the fixed codebook's generalization): more cells = smaller scan
    * fraction per probe but lower recall per probe. The classic sizing rule
    * is k ≈ √corpus with nprobe set by the recall target — on a
    * weakly-clustered (near-isotropic) embedding set, IVF recall is bounded
    * by the scanned fraction (≈ nprobe/k) plus whatever alignment the
    * learned cells buy; SimilaritySpec measures both effects separately.
    */
  def learnCodebook(e: DataFrame, k: Int = 16, maxIter: Int = 8): DataFrame = {
    var cent = e.filter(col("vec_id") >= 10 && col("vec_id") < 10 + k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
      .localCheckpoint()
    var prev: DataFrame = null
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val assigned = assignCells(e, cent).localCheckpoint()
      if (prev != null) {
        val changed = assigned.as("n")
          .join(prev.as("o"), col("n.vec_id") === col("o.vec_id"))
          .filter(col("n.cell") =!= col("o.cell"))
          .limit(1).count()
        converged = changed == 0
      }
      if (!converged) {
        cent = assigned
          .select(col("cell"), posexplode(col("v")))
          .withColumnRenamed("col", "x")
          .groupBy(col("cell"), col("pos"))
          .agg((sum(col("x").cast("decimal(30,8)")).cast("double") / count(lit(1))).as("c"))
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
          .select(col("cell").as("c_id"), expr("transform(pc, s -> s.c)").as("cv"))
          .localCheckpoint()
      }
      prev = assigned
      it += 1
    }
    cent
  }

  /** X8 — IVF-style ANN: partition the corpus into centroid cells, then
    * answer queries by probing only the `nprobe` nearest cells. The 100 TB
    * shape: assignment is one broadcast pass (bounded codebook), the probe
    * join is an equi-join on cell id, and both argmax/top-k run through the
    * bounded [[TopKAggregator]] — scan cost per query drops to the probed
    * cells' share of the corpus. The declared query pins the fixed
    * deterministic codebook for oracle parity; [[x8AnnIvfLearned]] is the
    * production variant over [[learnCodebook]]'s Lloyd centroids.
    */
  def x8AnnIvf(s: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val e = vecs(s, dir)
    x8AnnIvfFrom(e, fixedCodebook(e), k, nprobe)
  }

  /** X8 with the Lloyd-learned codebook — the production default. `cells`
    * sizes the codebook (see [[learnCodebook]] on the k/nprobe/recall
    * trade); the fixed-codebook declared query stays at 16 for oracle
    * parity.
    */
  def x8AnnIvfLearned(s: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2,
      cells: Int = 16): DataFrame = {
    val e = vecs(s, dir)
    x8AnnIvfFrom(e, learnCodebook(e, cells), k, nprobe)
  }

  /** X8 core over an arbitrary (c_id, cv) codebook — the composition seam
    * (x9ClustersFrom pattern) that makes the cell source pluggable without
    * touching the probe plan.
    */
  def x8AnnIvfFrom(e: DataFrame, cent: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(e, cent)
    // queries probe their nprobe nearest cells
    val probes = withCosine(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
          .crossJoin(broadcast(cent)), "qv", "cv")
      .groupBy(col("q_id"))
      .agg(TopKAggregator.topK(nprobe)(col("c_id"), col("cosine")).as("pc"),
        first(col("qv")).as("qv"))
      .select(col("q_id"), col("qv"), explode(col("pc")).as("p"))
      .select(col("q_id"), col("qv"), col("p.id").as("cell"))
    val scored = withCosine(
      assigned.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("q_id")),
      "qv", "v")
    topKPerQuery(scored, k, col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("cosine"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** X8b — scalar-quantized (int8) ANN: per-dimension max-abs scale learned
    * in ONE corpus aggregate (64 map-side-combined expressions, a single
    * broadcastable stats row), every vector quantized to 64 signed bytes
    * (`floor(v/maxabs·127)` ∈ [−127, 127] — SYMMETRIC, no offset, so
    * direction is preserved; an affine min/max shift adds a common
    * all-positive component that wrecks angular ranking), and candidates
    * ranked by the quantized cosine: integer dot product over integer
    * norms. The integer sums are exact on both engines; the final
    * sqrt/divide is a fixed IEEE op sequence, so the DuckDB oracle
    * reproduces the ranking bit-for-bit.
    *
    * Why this exists at 100 TB: int8 codes are 8× smaller than the f64
    * arrays (4× vs f32) — the difference between an embedding corpus that
    * fits executor memory/page cache and one that doesn't — and integer
    * dot products are the SIMD-friendliest scoring kernel there is.
    * Quantization is ORTHOGONAL to the candidate cut: the declared query
    * scores the full corpus to make the ranking oracle-checkable end to
    * end, while a production pipeline composes the same `qv` codes with
    * x7's sign-LSH buckets or x8's IVF cells and exact-rescores the top
    * candidates (SimilaritySpec pins recall@10 vs the exact x6 baseline).
    *
    * Determinism: max-abs of doubles is exact; quantize/score are fixed
    * IEEE op sequences on identical operands; ties broken by neighbor_id
    * on both sides.
    *
    * Zero-code guard: a vector whose components ALL quantize to 0 (every
    * |v_i| < scale_i/127) has integer norm 0, and a bare division would
    * yield NaN/±Inf cosines whose sort placement differs between engines.
    * Both the Spark plan and the DuckDB oracle compute the cosine over
    * `nullif(na*nv, 0)` and drop null cosines BEFORE ranking, so a
    * zero-code vector simply never appears as a neighbor (and a zero-code
    * query returns no rows) — identically on both sides.
    */
  def x8bAnnSq8(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    x8bAnnSq8From(vecs(s, dir), k)

  /** X8b core over an arbitrary (vec_id, v) frame — the seam that lets the
    * spec inject pathological corpora (zero-code vectors) the synthetic
    * table never contains.
    */
  def x8bAnnSq8From(e: DataFrame, k: Int = 10): DataFrame = {
    val dim = 64
    val stats = e.agg(
      array((1 to dim).map(i => max(abs(expr(s"element_at(v, $i)")))): _*).as("scales"))
    val qe = e.crossJoin(broadcast(stats))
      .withColumn("qv", expr(
        s"""transform(sequence(1, $dim), i ->
              coalesce(CAST(floor(element_at(v, i) /
                nullif(element_at(scales, i), CAST(0.0 AS DOUBLE)) * 127.0)
                AS BIGINT),
              CAST(0 AS BIGINT)))"""))
      .select(col("vec_id"), col("qv"))
    val qnorm = "sqrt(CAST(aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS DOUBLE))"
    val normed = qe.withColumn("nv", expr(qnorm))
    val q = normed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"), col("nv").as("na"))
    val scored = normed.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr(
        """CAST(aggregate(zip_with(qa, qv, (x, y) -> x * y),
           CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)""") /
        expr("nullif(na * nv, CAST(0.0 AS DOUBLE))"))
      .filter(col("cosine").isNotNull)
    topKPerQuery(scored, k, col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("cosine").as("qcos"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** X8c — IVF-PQ: the 100 TB ANN memory path. x8's IVF cells cut the SCAN
    * (probe nprobe cells); x8b's int8 codes cut per-vector STORAGE 8×; PQ
    * composes both and goes further — each vector's residual (v − its cell
    * centroid) is product-quantized into M=16 subspace codes (4 dims each,
    * 16 centroids per sub-codebook → 4 bits/code, 8 packed bytes/vector =
    * 64× vs f64, 8× smaller than int8), and queries score candidates by
    * ADC (asymmetric distance computation): reconstruct nothing, just sum
    * per-subspace LOOKUPS of `q_s · codebook[code_s]` — the Jégou et al.
    * product-quantization design, the standard shape for embedding corpora
    * that cannot hold raw vectors in memory.
    *
    * Determinism/oracle discipline: the residual sub-codebooks are the
    * RESIDUALS OF FIXED CORPUS VECTORS (vec_ids 30..45) — the
    * [[fixedCodebook]] trick one level down, so DuckDB re-derives byte-equal
    * codebooks from the parquet alone. Every per-subspace term is a fixed
    * 4-term IEEE fold; cross-subspace sums go through DECIMAL(30,8) casts
    * (order-independent, the e7/x13 discipline); code assignment breaks
    * distance ties toward the lowest codebook index on both engines. The
    * approximate squared norm ‖cv‖²+2·cv·r̂+‖r̂‖² can round microscopically
    * negative near zero — both sides clamp with greatest(·, 0) and drop
    * null cosines (the x8b zero-code guard, one level up).
    *
    * Scale shape: encoding is ONE map-only projection per vector (the
    * 16×64-double codebook rides the plan as a literal — at production
    * scale, a broadcast), the probe join is x8's cell equi-join, and
    * scoring reads ONLY codes — the raw vector column is never touched
    * after encoding. SimilaritySpec pins recall@10 vs exact x6 for the
    * ADC ranking and for the production shortlist+exact-rescore
    * composition.
    */
  def x8cAnnIvfPq(s: SparkSession, dir: String, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val e = vecs(s, dir)
    x8cAnnIvfPqFrom(e, fixedCodebook(e), (30L until 46L).toSeq, k, nprobe)
  }

  /** Per-subspace Lloyd k-means over the RESIDUAL slices — the production
    * PQ codebook ([[learnCodebook]] one level down: 16 independent 4-dim
    * clusterings, each seeded with the fixed stand-in's slices). Returns
    * the assembled 16×64 codebook rows (row j, dims [4s+1, 4s+4] = subspace
    * s's centroid j) — the exact shape [[x8cAnnIvfPqCoded]] consumes, so
    * the fixed and learned codebooks are interchangeable. Each iteration is
    * one training-slice scan (assignment by 4-term L2 against a broadcast
    * 256-row codebook, ties → lowest j) plus a decimal-exact per-dimension
    * mean; `trainFrac` bounds the training set by a deterministic hash-mod
    * sample — the 100 TB path trains on a fraction and encodes the full
    * corpus (SimilaritySpec pins the recall tolerance). A cluster that
    * loses every member keeps its previous centroid (k never shrinks — the
    * assembled rows must stay complete).
    */
  def learnPqCodebook(e: DataFrame, cent: DataFrame, maxIter: Int = 6,
      trainFrac: Double = 1.0): Seq[Seq[Double]] = {
    require(trainFrac > 0.0 && trainFrac <= 1.0,
      s"trainFrac must be in (0, 1], got $trainFrac")
    // BOUNDED TRAINING SAMPLE (the e7 watchlistCap discipline): at 100 TB
    // the codebook trains on a sample, not the corpus — the Lloyd scans
    // below then touch #corpus×trainFrac rows per iteration. The sample is
    // a DETERMINISTIC pure-row hash-mod on vec_id (never a sampled
    // partitioner: rdd.id-seeded sampling drifts across jobs — the round-7
    // rank-bound lesson), and the 16 seed vectors always stay in (the
    // codebook assembly requires them).
    val train =
      if (trainFrac >= 1.0) e
      else e.filter(col("vec_id").isin((30L until 46L): _*) ||
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit(math.round(trainFrac * 1000000L)))
    val centAs = broadcast(cent.select(col("c_id").as("cell"), col("cv")))
    val slices = assignCells(train, cent).join(centAs, "cell")
      .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
      .select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 15), s -> slice(r, s*4+1, 4))")))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "x")
      .localCheckpoint()
    var cb = slices.filter(col("vec_id") >= 30 && col("vec_id") < 46)
      .select(col("s"), (col("vec_id") - 30).cast("int").as("j"), col("x").as("cx"))
      .localCheckpoint()
    val d4 = expr(
      """aggregate(sequence(1, 4), CAST(0.0 AS DOUBLE), (a, i) ->
           a + (element_at(x, i) - element_at(cx, i))
             * (element_at(x, i) - element_at(cx, i)))""")
    var it = 0
    while (it < maxIter) {
      val assignedS = slices.join(broadcast(cb), Seq("s"))
        .withColumn("d", d4)
        .groupBy(col("vec_id"), col("s"))
        .agg(min_by(struct(col("j"), col("x")), struct(col("d"), col("j"))).as("m"))
        .select(col("s"), col("m.j").as("j"), col("m.x").as("x"))
      val updated = assignedS.select(col("s"), col("j"), posexplode(col("x")))
        .groupBy(col("s"), col("j"), col("pos"))
        .agg((sum(col("col").cast("decimal(30,8)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("s"), col("j"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("s"), col("j"), expr("transform(pc, p -> p.c)").as("cx"))
      // empty clusters keep their previous centroid
      cb = updated.unionByName(
          cb.join(updated.select(col("s"), col("j")), Seq("s", "j"), "left_anti"))
        .localCheckpoint()
      it += 1
    }
    val m = cb.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    (0 until 16).map(j => (0 until 16).flatMap(s =>
      m((s, j))).toSeq)
  }

  /** X8c over the learned PQ codebook — the production variant (the
    * [[x8AnnIvfLearned]] sibling; the declared gate query stays on the
    * fixed stand-in for oracle parity).
    */
  def x8cAnnIvfPqLearned(s: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val e = vecs(s, dir)
    val cent = fixedCodebook(e)
    x8cAnnIvfPqCoded(e, cent, learnPqCodebook(e, cent), k, nprobe)
  }

  /** X8c with the FIXED stand-in sub-codebook (the residuals of corpus
    * vectors `cbIds`) — the oracle-parity face; see [[x8cAnnIvfPqCoded]]
    * for the engine.
    */
  def x8cAnnIvfPqFrom(e: DataFrame, cent: DataFrame, cbIds: Seq[Long],
      k: Int, nprobe: Int): DataFrame = {
    require(cbIds.length == 16, s"PQ sub-codebook needs 16 sample rows, got ${cbIds.length}")
    // bounded collect: 16 residual vectors (16 × 64 doubles) become the
    // literal codebook. Cell assignment is per-vector independent, so
    // deriving the 16 sample residuals assigns ONLY the 16 sample vectors
    // (16 × 16 cosines) — never a corpus pass
    val centAs = broadcast(cent.select(col("c_id").as("cell"), col("cv")))
    val cbRows: Seq[Seq[Double]] =
      assignCells(e.filter(col("vec_id").isin(cbIds: _*)), cent)
        .join(centAs, "cell")
        .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
        .select(col("vec_id"), col("r")).collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toSeq).toSeq
    require(cbRows.length == 16,
      s"corpus lacks PQ codebook sample vec_ids ${cbIds.mkString(",")}")
    x8cAnnIvfPqCoded(e, cent, cbRows, k, nprobe)
  }

  /** The cross-subspace decimal-exact fold for the ADC sums: 16 per-subspace
    * double terms, each rounded to 8 decimals, summed without loss.
    *
    * Exactness trap (the round-8 gate failure): with acc DECIMAL(38,8) and
    * terms DECIMAL(30,8), Spark types each `acc + term` as DECIMAL(38,7)
    * (precision 8+30+1 = 39 > 38, so the precision-loss rule drops the
    * scale to 7), silently rounding every PARTIAL sum to 7dp while the
    * oracle's DECIMAL SUM is exact at 8dp — drift up to ~3e-7 in the ADC
    * output. Keeping acc at DECIMAL(30,8) and terms at DECIMAL(20,8) types
    * each step DECIMAL(31,8) — inside precision 38, no scale loss — and the
    * closing cast back to (30,8) is exact for these O(1) magnitudes. The
    * term cast to (20,8) rounds the double identically to the oracle's
    * (30,8) cast (same 8dp half-even; 12 integer digits are ample).
    * SimilaritySpec pins the fold arithmetic against the lossy shape.
    */
  private[graft] def decSumSql(inner: String): String =
    s"""aggregate(sequence(0, 15), CAST(0 AS DECIMAL(30,8)),
          (acc, s) -> CAST(acc + CAST(($inner) AS DECIMAL(20,8)) AS DECIMAL(30,8)))"""

  /** (vec_id, cell, codes): every corpus vector's cell + 16 PQ codes —
    * one map-only projection against the codebook literal. The per-subspace
    * code is argmin_j of the 4-term residual L2, ties -> lowest j
    * (array_min's struct ordering = (d asc, j asc), exactly the oracle's
    * ORDER BY dist, j).
    */
  private def pqCodedFrame(e: DataFrame, cent: DataFrame,
      cbRows: Seq[Seq[Double]]): DataFrame = {
    val centAs = broadcast(cent.select(col("c_id").as("cell"), col("cv")))
    val withRes = assignCells(e, cent).join(centAs, "cell")
      .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
    val dist4 =
      """aggregate(sequence(1, 4), CAST(0.0 AS DOUBLE), (a, i) ->
           a + (element_at(r, s*4+i) - element_at(element_at(__cb, j+1), s*4+i))
             * (element_at(r, s*4+i) - element_at(element_at(__cb, j+1), s*4+i)))"""
    val codesSql =
      s"""transform(sequence(0, 15), s ->
            array_min(transform(sequence(0, 15), j ->
              named_struct('d', $dist4, 'j', j))).j)"""
    withRes.withColumn("__cb", typedLit(cbRows))
      .withColumn("codes", expr(codesSql))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** (q_id, qv, cell, qn): each query fanned to its `nprobe` nearest cells
    * (x8's probe shape), carrying its exact norm for the ADC denominator.
    */
  private def pqProbesFrame(e: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
    withCosine(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
          .crossJoin(broadcast(cent)), "qv", "cv")
      .groupBy(col("q_id"))
      .agg(TopKAggregator.topK(nprobe)(col("c_id"), col("cosine")).as("pc"),
        first(col("qv")).as("qv"))
      .select(col("q_id"), col("qv"), explode(col("pc")).as("p"))
      .select(col("q_id"), col("qv"), col("p.id").as("cell"))
      .withColumn("qn", expr(
        """sqrt(aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
             (acc, i) -> acc + element_at(qv, i) * element_at(qv, i)))"""))

  // shared ADC term SQL: one fixed 4-term fold per subspace through the
  // codebook literal (`rT` = the coded residual component)
  private val pqRT = "element_at(element_at(__cb, element_at(codes, s+1) + 1), s*4+i)"
  private def fold4(term: String): String =
    s"aggregate(sequence(1, 4), CAST(0.0 AS DOUBLE), (a, i) -> a + ($term))"
  private def dot64(a: String, b: String): String =
    s"""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
          (acc, i) -> acc + element_at($a, i) * element_at($b, i))"""
  private val pqDS = fold4(s"element_at(qv, s*4+i) * $pqRT")
  private val pqNS =
    s"(CAST(2.0 AS DOUBLE) * (${fold4(s"element_at(cv, s*4+i) * $pqRT")}) + (${fold4(s"$pqRT * $pqRT")}))"

  /** X8c engine over an arbitrary assembled 16×64 codebook. */
  def x8cAnnIvfPqCoded(e: DataFrame, cent: DataFrame, cbRows: Seq[Seq[Double]],
      k: Int, nprobe: Int): DataFrame = {
    require(cbRows.length == 16 && cbRows.forall(_.length == 64),
      "assembled PQ codebook must be 16 rows x 64 dims")
    val centAs = broadcast(cent.select(col("c_id").as("cell"), col("cv")))
    val coded = pqCodedFrame(e, cent, cbRows)
    val probes = pqProbesFrame(e, cent, nprobe)
    // ADC scoring from the codes alone: dot(q,x) ~ q·cv + Σ_s q_s·r̂_s and
    // ‖x‖² ~ ‖cv‖² + Σ_s (2·cv_s·r̂_s + ‖r̂_s‖²), each subspace term one
    // fixed 4-term fold through the shared codebook literal, cross-subspace
    // sums decimal-exact ([[decSumSql]]; [[x8cAnnIvfPqTwin]] re-derives
    // them through Spark's decimal SUM aggregate for the 10× gate)
    val adc =
      s"""CAST(CAST((${dot64("qv", "cv")}) AS DECIMAL(30,8)) + ${decSumSql(pqDS)} AS DOUBLE)"""
    val norm2 =
      s"""CAST(CAST((${dot64("cv", "cv")}) AS DECIMAL(30,8)) + ${decSumSql(pqNS)} AS DOUBLE)"""
    val scored = coded
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(centAs, Seq("cell"))
      .withColumn("__cb", typedLit(cbRows))
      .withColumn("cosine", expr(
        s"""($adc) / nullif(qn * sqrt(greatest(($norm2), CAST(0.0 AS DOUBLE))),
              CAST(0.0 AS DOUBLE))"""))
      .filter(col("cosine").isNotNull)
    topKPerQuery(scored, k, col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("cosine").as("qcos"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** X8c exact in-engine twin for the 10× gate: the same contract as the
    * declared [[x8cAnnIvfPq]], arithmetically independent exactly where the
    * round-8 parity bug lived — the cross-subspace ADC sums run through
    * Spark's decimal SUM AGGREGATE over exploded per-subspace terms (the
    * engine's standard exact shape, DECIMAL(38,8) without per-step loss)
    * instead of the [[decSumSql]] HOF fold, and the per-query top-k through
    * a row_number window instead of [[TopKAggregator]]. VerifySf1 compares
    * full-signature at 10×, so the fold's exactness is hash-pinned in-engine
    * rather than depending on the sf0.01 oracle's 4dp rounding luck.
    */
  private[graft] def x8cAnnIvfPqTwin(s: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val e = vecs(s, dir)
    val cent = fixedCodebook(e)
    val centAs = broadcast(cent.select(col("c_id").as("cell"), col("cv")))
    val cbRows: Seq[Seq[Double]] =
      assignCells(e.filter(col("vec_id").isin((30L until 46L): _*)), cent)
        .join(centAs, "cell")
        .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
        .select(col("vec_id"), col("r")).collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val terms = pqCodedFrame(e, cent, cbRows)
      .join(broadcast(pqProbesFrame(e, cent, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(centAs, Seq("cell"))
      .withColumn("__cb", typedLit(cbRows))
      .withColumn("qc_dot", expr(dot64("qv", "cv")))
      .withColumn("cv_n2", expr(dot64("cv", "cv")))
      .select(col("q_id"), col("vec_id"), col("qn"), col("qc_dot"), col("cv_n2"),
        col("qv"), col("cv"), col("codes"), col("__cb"),
        explode(expr("sequence(0, 15)")).as("s"))
      .withColumn("d_s", expr(pqDS).cast("decimal(20,8)"))
      .withColumn("n_s", expr(pqNS).cast("decimal(20,8)"))
    val sums = terms.groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d_s")).as("dsum"), sum(col("n_s")).as("nsum"),
        first(col("qn")).as("qn"), first(col("qc_dot")).as("qc_dot"),
        first(col("cv_n2")).as("cv_n2"))
    // recombine inside precision 38: DECIMAL(20,8) + DECIMAL(30,8) types
    // DECIMAL(31,8) — the sum casts down losslessly (16 O(1) terms), the
    // dot casts round at 8dp exactly like the fold face's casts
    val scored = sums
      .withColumn("cosine",
        (col("qc_dot").cast("decimal(20,8)") + col("dsum").cast("decimal(30,8)"))
          .cast("double") /
        nullif(col("qn") * sqrt(greatest(
          (col("cv_n2").cast("decimal(20,8)") + col("nsum").cast("decimal(30,8)"))
            .cast("double"), lit(0.0))), lit(0.0)))
      .filter(col("cosine").isNotNull)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("cosine").as("qcos"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** X13 — embedding outlier detection: top-5 vectors per label by squared
    * euclidean distance to their label's centroid — the corpus-QC pass that
    * flags mislabeled/garbage embeddings before training. Exactness
    * discipline: centroids are decimal-exact per-dimension means; each
    * squared-difference term is decimal-cast before the order-independent
    * sum, so the oracle matches bit-for-bit. Scale shape: one 64× explode
    * into a (label, dim)-keyed aggregate whose map-side partials collapse to
    * #labels×64 rows, a broadcastable centroid join back, and a vec-keyed
    * sum — nothing corpus².
    */
  def x13EmbeddingOutliers(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val dims = vecs(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("v")))
      .withColumnRenamed("col", "x")
    val cent = dims.groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(30,8)")).cast("double") / count(lit(1))).as("c"))
    val dist2 = dims.join(broadcast(cent), Seq("label", "pos"))
      .withColumn("term", ((col("x") - col("c")) * (col("x") - col("c"))).cast("decimal(30,8)"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("term")).cast("double").as("dist2"))
    val w = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id"))
    dist2.withColumn("outlier_rank", row_number().over(w).cast("long"))
      .filter(col("outlier_rank") <= k)
      .select(col("label"), col("outlier_rank"), col("vec_id"), col("dist2"))
      .orderBy("label", "outlier_rank")
  }

  /** X14 — SemDeDup-style embedding-cluster dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus in embedding space, then prune,
    * WITHIN each cluster, every vector that is cosine-similar above `tau`
    * to ANY lower-id vector — the paper's keep-first policy (the lower-id
    * side survives unless something even lower dominates it). The cluster
    * blocking is the entire scale story: pairwise cosine runs per cell
    * (bounded), never corpus²; assignment is one broadcast codebook pass
    * (same 16-centroid fixed codebook as X8's IVF, standing in for the
    * k-means step). Output: each pruned vector with its cell, the smallest
    * dominating keeper id, and its duplicate fan-in — the decision log a
    * curation run persists before dropping rows.
    */
  def x14SemDedup(s: SparkSession, dir: String, tau: Double = 0.42): DataFrame = {
    val e = vecs(s, dir)
    x14SemDedupFrom(e, fixedCodebook(e), tau)
  }

  /** X14 with the Lloyd-learned codebook — the production variant: tighter
    * cells both bound the within-cell quadratic harder and catch near-dup
    * pairs the arbitrary fixed cells split across a boundary.
    */
  def x14SemDedupLearned(s: SparkSession, dir: String, tau: Double = 0.42): DataFrame = {
    val e = vecs(s, dir)
    x14SemDedupFrom(e, learnCodebook(e), tau)
  }

  /** X14 core over an arbitrary (c_id, cv) codebook — the cell source seam,
    * mirroring [[x8AnnIvfFrom]].
    */
  def x14SemDedupFrom(e: DataFrame, cent: DataFrame, tau: Double): DataFrame = {
    // materialize the assignment ONCE: a plain self-join would re-derive
    // it on both sides (no CSE across a self-join in Catalyst) — one full
    // re-scan + 16-cell cosine pass + two exchanges of duplicated work
    // (profiled: ~1.4× the whole query). At corpus scale the (vec_id,
    // cell, v) frame is exactly what a SemDeDup deployment persists
    // between the assignment and pairing stages anyway.
    val assigned = assignCells(e, cent).localCheckpoint()
    val pairs = withCosine(
      assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id")),
      "a.v", "b.v")
      .filter(col("cosine") >= tau)
    pairs
      .groupBy(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"))
      .agg(
        min(col("a.vec_id")).as("dup_of"),
        count(lit(1)).as("n_dominating"),
        max(col("cosine")).as("max_cosine"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x14_semdedup" -> (x14SemDedup(_, _, 0.42)),
    "x5_embedding_neardup" -> (x5EmbeddingNearDup(_, _)),
    "x6_ann_bruteforce" -> (x6AnnBruteForce(_, _, 10)),
    "x7_ann_lsh" -> (x7AnnLshBucketed(_, _, 5)),
    "x8_ann_ivf" -> (x8AnnIvf(_, _, 5, 2)),
    "x8b_ann_sq8" -> (x8bAnnSq8(_, _, 10)),
    "x8c_ann_ivfpq" -> (x8cAnnIvfPq(_, _, 10, 2)),
    "x13_embedding_outliers" -> (x13EmbeddingOutliers(_, _, 5)))

  /** DuckDB cosine with the same left-to-right double accumulation. */
  private def duckCosine(a: String, b: String): String =
    s"""(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, 65), i -> $a[i] * $b[i])), (x, y) -> x + y)
        / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> $a[i] * $a[i])), (x, y) -> x + y))
         * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> $b[i] * $b[i])), (x, y) -> x + y))))"""

  private val duckBucket: String =
    (0 until 8).map { j =>
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(0, 64), i -> v[i + 1] *
              (CAST((($j * 64 + i) * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5))),
            (acc, x) -> acc + x) > 0 THEN ${1 << j} ELSE 0 END)"""
    }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    "x14_semdedup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 10 AND vec_id < 26),
         asg AS (
           SELECT vec_id, c_id AS cell, v FROM (
             SELECT e.vec_id, c.c_id, e.v,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${duckCosine("e.v", "c.cv")} DESC, c.c_id) AS rn
             FROM e CROSS JOIN cent c)
           WHERE rn = 1),
         pairs AS (
           SELECT a.vec_id AS a_id, b.vec_id AS vec_id, b.cell AS cell,
                  ${duckCosine("a.v", "b.v")} AS cosine
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${duckCosine("a.v", "b.v")} >= 0.42)
         SELECT vec_id, cell, MIN(a_id) AS dup_of, COUNT(*) AS n_dominating,
                MAX(cosine) AS max_cosine
         FROM pairs GROUP BY vec_id, cell ORDER BY vec_id""",
    "x5_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                ${duckCosine("a.v", "b.v")} AS cosine
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE ${duckCosine("a.v", "b.v")} >= 0.4
         ORDER BY vec_a, vec_b""",
    "x6_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, e.vec_id AS neighbor_id,
                  ${duckCosine("q.qv", "e.v")} AS cosine
           FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, neighbor_id, cosine, rnk FROM ranked
         WHERE rnk <= 10 ORDER BY q_id, rnk""",
    "x8b_ann_sq8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         stats AS (
           SELECT i, MAX(abs(v[i])) AS sc
           FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i),
         qe AS (
           SELECT vec_id,
                  list(COALESCE(CAST(floor(v[i] /
                         nullif(sc, CAST(0.0 AS DOUBLE)) * 127.0) AS BIGINT),
                       CAST(0 AS BIGINT)) ORDER BY i) AS qv
           FROM e CROSS JOIN stats GROUP BY vec_id),
         normed AS (
           SELECT vec_id, qv,
                  sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, x -> x * x)), (a, b) -> a + b)
                    AS DOUBLE)) AS nv
           FROM qe),
         q AS (SELECT vec_id AS q_id, qv AS qa, nv AS na
               FROM normed WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, e2.vec_id AS neighbor_id,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, 65), i -> qa[i] * qv[i])),
                    (x, y) -> x + y) AS DOUBLE)
                    / nullif(na * nv, CAST(0.0 AS DOUBLE)) AS qcos
           FROM normed e2 CROSS JOIN q WHERE e2.vec_id <> q.q_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY qcos DESC, neighbor_id) AS rnk
           FROM scored WHERE qcos IS NOT NULL)
         SELECT q_id, neighbor_id, qcos, rnk FROM ranked
         WHERE rnk <= 10 ORDER BY q_id, rnk""",
    "x7_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id, v, $duckBucket AS bucket FROM e),
         q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, b.bucket, b.vec_id AS neighbor_id,
                  ${duckCosine("q.qv", "b.v")} AS cosine
           FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.q_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, bucket, neighbor_id, cosine, rnk FROM ranked
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "x8_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 10 AND vec_id < 26),
         asg AS (
           SELECT vec_id, c_id AS cell, v FROM (
             SELECT e.vec_id, c.c_id, e.v,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${duckCosine("e.v", "c.cv")} DESC, c.c_id) AS rn
             FROM e CROSS JOIN cent c)
           WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         probes AS (
           SELECT q_id, qv, c_id AS cell FROM (
             SELECT q.q_id, q.qv, c.c_id,
                    row_number() OVER (PARTITION BY q.q_id
                      ORDER BY ${duckCosine("q.qv", "c.cv")} DESC, c.c_id) AS rn
             FROM q CROSS JOIN cent c)
           WHERE rn <= 2),
         scored AS (
           SELECT p.q_id, a.vec_id AS neighbor_id,
                  ${duckCosine("p.qv", "a.v")} AS cosine
           FROM asg a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, neighbor_id, cosine, rnk FROM ranked
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "x8c_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 10 AND vec_id < 26),
         asg AS (
           SELECT vec_id, c_id AS cell, v FROM (
             SELECT e.vec_id, c.c_id, e.v,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${duckCosine("e.v", "c.cv")} DESC, c.c_id) AS rn
             FROM e CROSS JOIN cent c)
           WHERE rn = 1),
         res AS (
           SELECT a.vec_id, a.cell,
                  list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS r
           FROM asg a JOIN cent c ON a.cell = c.c_id),
         cb AS (SELECT vec_id - 30 AS j, r AS cr FROM res
                WHERE vec_id >= 30 AND vec_id < 46),
         codes AS (
           SELECT vec_id, cell, s, j AS code FROM (
             SELECT r.vec_id, r.cell, t.s, c.j,
                    row_number() OVER (PARTITION BY r.vec_id, t.s ORDER BY
                      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(1, 5), i ->
                          (r.r[t.s*4+i] - c.cr[t.s*4+i]) * (r.r[t.s*4+i] - c.cr[t.s*4+i]))),
                        (a, b) -> a + b), c.j) AS rn
             FROM res r CROSS JOIN (SELECT unnest(range(0, 16)) AS s) t CROSS JOIN cb c)
           WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, v AS qv,
                      sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(1, 65), i -> v[i] * v[i])),
                        (a, b) -> a + b)) AS qn
               FROM e WHERE vec_id < 10),
         probes AS (
           SELECT q_id, qv, qn, c_id AS cell FROM (
             SELECT q.q_id, q.qv, q.qn, c.c_id,
                    row_number() OVER (PARTITION BY q.q_id
                      ORDER BY ${duckCosine("q.qv", "c.cv")} DESC, c.c_id) AS rn
             FROM q CROSS JOIN cent c)
           WHERE rn <= 2),
         terms AS (
           SELECT p.q_id, k.vec_id, k.s,
                  CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, 5), i -> p.qv[k.s*4+i] * cb.cr[k.s*4+i])),
                    (a, b) -> a + b) AS DECIMAL(30,8)) AS d_s,
                  CAST(CAST(2.0 AS DOUBLE) *
                    (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 5), i -> ct.cv[k.s*4+i] * cb.cr[k.s*4+i])),
                       (a, b) -> a + b))
                    + (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 5), i -> cb.cr[k.s*4+i] * cb.cr[k.s*4+i])),
                       (a, b) -> a + b)) AS DECIMAL(30,8)) AS n_s
           FROM codes k
           JOIN probes p ON k.cell = p.cell AND k.vec_id <> p.q_id
           JOIN cb ON cb.j = k.code
           JOIN cent ct ON ct.c_id = k.cell),
         sums AS (
           SELECT q_id, vec_id, SUM(d_s) AS dsum, SUM(n_s) AS nsum
           FROM terms GROUP BY q_id, vec_id),
         scored AS (
           SELECT s.q_id, s.vec_id AS neighbor_id,
                  CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, 65), i -> p.qv[i] * ct.cv[i])),
                      (a, b) -> a + b) AS DECIMAL(30,8)) + s.dsum AS DOUBLE)
                  / nullif(p.qn * sqrt(greatest(
                      CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(1, 65), i -> ct.cv[i] * ct.cv[i])),
                        (a, b) -> a + b) AS DECIMAL(30,8)) + s.nsum AS DOUBLE),
                      CAST(0.0 AS DOUBLE))), CAST(0.0 AS DOUBLE)) AS qcos
           FROM sums s
           JOIN asg a ON a.vec_id = s.vec_id
           JOIN cent ct ON ct.c_id = a.cell
           JOIN probes p ON p.q_id = s.q_id AND p.cell = a.cell),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY qcos DESC, neighbor_id) AS rnk
           FROM scored WHERE qcos IS NOT NULL)
         SELECT q_id, neighbor_id, qcos, rnk FROM ranked
         WHERE rnk <= 10 ORDER BY q_id, rnk""",
    "x13_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         dims AS (SELECT vec_id, label, i AS pos, v[i] AS x
                  FROM e, (SELECT unnest(range(1, 65)) AS i)),
         cent AS (SELECT label, pos,
                    CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
                  FROM dims GROUP BY label, pos),
         d2 AS (SELECT d.vec_id, d.label,
                  CAST(SUM(CAST((d.x - c.c) * (d.x - c.c) AS DECIMAL(30,8))) AS DOUBLE)
                    AS dist2
                FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
                GROUP BY d.vec_id, d.label),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY label
                      ORDER BY dist2 DESC, vec_id) AS outlier_rank
                    FROM d2)
         SELECT label, CAST(outlier_rank AS BIGINT) AS outlier_rank, vec_id, dist2
         FROM ranked WHERE outlier_rank <= 5 ORDER BY label, outlier_rank""")
}
