package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed GLOBAL `RANGE BETWEEN w PRECEDING AND CURRENT ROW`
  * aggregates — the one sliding-frame family [[graft.plans.GlobalRankRule]]
  * cannot rewrite in place (a VALUE-bounded frame can reach back an
  * unbounded ROW count across partition boundaries, so the exec's
  * O(#partitions × k) driver-stitched boundary lane cannot carry the
  * warm-up; the stock Spark plan is the single-partition Window cliff).
  *
  * The composition that stays distributed — the GHOST-PROBE subtraction.
  * The frame value at key k is `prefix(k, peer-inclusive) −
  * prefix(k − w − 1)`, and the subtrahend is a function of the KEY alone,
  * so ONE ghost row per DISTINCT key suffices:
  *
  *  1. every distinct non-null key k spawns a NULL-valued ghost at sort
  *     position `k − w − 1` (the frame's exclusive lower threshold,
  *     integral keys), remembering `k` as the key it serves;
  *  2. ONE running aggregate over rows ∪ ghosts, ordered by
  *     `(sortKey, isGhost)` with the SQL-default peer-inclusive RANGE
  *     frame — [[graft.plans.GlobalRankRule]] rewrites it to the
  *     distributed [[graft.plans.GlobalRankExec]] — gives REAL rows the
  *     prefix through their full peer run (the frame's inclusive top) and
  *     GHOSTS the prefix through every real row at key ≤ k − w − 1
  *     (ghosts sort AFTER the reals of their sort position and contribute
  *     nothing: sum/count ignore their null values);
  *  3. a LEFT equi-join ON THE KEY brings each threshold prefix back to
  *     the rows it serves; the frame value is the exact difference, with
  *     the companion count lane deciding the SQL all-null-frame NULL.
  *
  * NULL order keys (sorted FIRST, the ASC default this operator assumes)
  * get exactly the SQL semantics for free: a null-key row's frame is its
  * own null peer group, which IS its peer-inclusive prefix (nothing sorts
  * before the nulls), and no ghost is spawned for it — the left join
  * leaves the subtrahend absent and `coalesce` subtracts nothing.
  *
  * Cost shape: one range exchange over N + #distinct-keys rows (the
  * window) plus one hash join on the key — no single-task stage, no
  * value-dependent halo, no driver traffic beyond the exec's usual
  * O(#partitions). Join skew equals key-tie multiplicity, the same skew
  * the window's tie runs already carry. Exactness: the caller passes a
  * DECIMAL value column, so prefix sums are exact and the subtraction
  * introduces no error (the reason float/double inputs are rejected — a
  * running double prefix cancels catastrophically under subtraction, the
  * same veto the ROWS-sliding rewrite applies). Contract carried from the
  * e15 running-total family: the CORPUS-WIDE prefix sum must fit the
  * decimal sum type decimal(p+10, s) — any running-total query already
  * lives with this.
  *
  * Scope: `keyCol` long-backed (cast dates/timestamps to day numbers /
  * epoch micros first — the full BIGINT domain is legal: a key within
  * w + 1 of Long.MinValue gets a NULL-positioned ghost, because its true
  * threshold sits below every representable key and an empty-prefix
  * ghost subtracts exactly nothing); `valueCol` DECIMAL; sum/count/avg —
  * min/max ride [[rangeSlidingMinMax]]'s block decomposition instead
  * (no inverse, so the subtraction algebra cannot carry them).
  *
  * RangeWindowsSpec pins bit-equality against Spark's stock
  * single-partition `rangeBetween` Window on randomized tied/null
  * corpora; the `e19_range_sliding` gate row pins the semantics against
  * DuckDB's native RANGE window engine; the 10× twin gate re-pins both
  * at 1.5M rows.
  */
object RangeWindows {

  /** `(keyCol, valueCol)` of `df` + `<outPrefix>_sum` (DECIMAL, null on an
    * all-null frame) and `<outPrefix>_cnt` (LONG non-null-value count)
    * over `RANGE BETWEEN w PRECEDING AND CURRENT ROW` on
    * `ORDER BY keyCol ASC NULLS FIRST`, carrying `passthrough` columns.
    */
  def rangeSlidingSum(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      w: Long,
      outPrefix: String = "frame"): DataFrame = {
    require(w >= 0L && w < Long.MaxValue,
      s"frame width must be in [0, Long.MaxValue), got $w")
    graft.functions.GraftExtensions.install(df.sparkSession)
    val vType = df.schema(valueCol).dataType
    require(vType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"value column '$valueCol' must be DECIMAL for exact frame " +
        s"subtraction, got ${vType.simpleString} (cast first; float/double " +
        "prefixes cancel catastrophically under subtraction)")
    require(df.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"order key '$keyCol' must be BIGINT (cast dates/timestamps to day " +
        s"numbers / epoch micros), got ${df.schema(keyCol).dataType.simpleString}")

    ghostProbeSum(df, passthrough, keyCol, valueCol, w, outPrefix)
  }

  /** The ghost-probe composition shared by [[rangeSlidingSum]] (DECIMAL,
    * bit-stable) and [[rangeSlidingSumDouble]] (fp, opt-in): callers own
    * the value-type contract.
    */
  private def ghostProbeSum(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      w: Long,
      outPrefix: String): DataFrame = {
    val vType = df.schema(valueCol).dataType
    val keep = passthrough.filterNot(c => c == keyCol || c == valueCol)
    val reals = df.select(
      (keep.map(col) ++ Seq(col(keyCol).as("__rw_sort"),
        lit(null).cast("long").as("__rw_for"),
        col(valueCol).as("__rw_v"), lit(0).as("__rw_g"))): _*)
    // one ghost per DISTINCT non-null key: the subtrahend depends on the
    // key alone. Ghost sorts at the exclusive threshold, after any real
    // rows there (reals at k − w − 1 are outside the frame and belong in
    // the subtrahend), and remembers the key it serves.
    // underflow guard: a key within w + 1 of Long.MinValue has its true
    // threshold below every representable key — a NULL sort position
    // (nulls first, empty real prefix beyond the null peers, which the
    // minuend carries identically and the subtraction cancels) IS that
    // frame; unguarded the subtraction wraps (legacy) or throws (ANSI).
    val minSafe = java.lang.Long.MIN_VALUE + w + 1L
    val ghosts = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__rw_for")).distinct()
      .select((keep.map(c => lit(null).cast(df.schema(c).dataType).as(c)) ++
        Seq(when(col("__rw_for") < lit(minSafe), lit(null).cast("long"))
            .otherwise(col("__rw_for") - lit(w) - lit(1L)).as("__rw_sort"),
          col("__rw_for"), lit(null).cast(vType).as("__rw_v"),
          lit(1).as("__rw_g"))): _*)
    val win = Window.orderBy(col("__rw_sort"), col("__rw_g"))
    val scored = reals.unionByName(ghosts)
      .withColumn("__rw_s", sum(col("__rw_v")).over(win))
      .withColumn("__rw_c", count(col("__rw_v")).over(win))
    val thresholds = scored.filter(col("__rw_g") === 1)
      .select(col("__rw_for"), col("__rw_s").as("__rw_ts"),
        col("__rw_c").as("__rw_tc"))
    val sumT = scored.schema("__rw_s").dataType
    scored.filter(col("__rw_g") === 0).drop("__rw_for")
      .join(thresholds, col("__rw_sort") === col("__rw_for"), "left")
      .withColumn(s"${outPrefix}_cnt",
        col("__rw_c") - coalesce(col("__rw_tc"), lit(0L)))
      .withColumn(s"${outPrefix}_sum",
        when(col(s"${outPrefix}_cnt") === 0L, lit(null).cast(sumT))
          .otherwise(col("__rw_s") - coalesce(col("__rw_ts"), lit(0).cast(sumT))))
      .select((keep.map(col) ++ Seq(col("__rw_sort").as(keyCol),
        col("__rw_v").as(valueCol),
        col(s"${outPrefix}_sum"), col(s"${outPrefix}_cnt"))): _*)
  }

  /** The same frame's average: exact sum ÷ count, emitted as DOUBLE (the
    * cross-engine-stable shape: one IEEE division of a decimal-exact
    * numerator by an exact count). Null on an all-null frame.
    */
  def rangeSlidingAvg(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      w: Long,
      outCol: String = "frame_avg"): DataFrame =
    rangeSlidingSum(df, passthrough, keyCol, valueCol, w)
      .withColumn(outCol,
        col("frame_sum").cast("double") / col("frame_cnt").cast("double"))

  /** OPT-IN fp (double) face of [[rangeSlidingSum]] — the one window
    * shape [[graft.plans.PlanChecks]] otherwise only LINTS: a genuinely
    * double-typed column gets the same distributed ghost-probe plan
    * instead of the one-task cliff, at the price of bit-stability.
    *
    * NON-BIT-STABLE BY CONSTRUCTION — not hash-gate eligible: the frame
    * value is `prefix(k) − prefix(k − w − 1)` on IEEE doubles, so (a)
    * the result differs from the stock in-frame summation order in the
    * last ulps, and (b) when a frame's true sum is small relative to its
    * prefix magnitude the subtraction cancels catastrophically (relative
    * error up to `|prefix| / |frame sum|` ulps). VALUE-compatible, not
    * bit-compatible: RangeWindowsSpec pins `|Δ| ≤ 1e-9 × Σ|v|` against
    * the kill-switched stock Window at 1.5M rows. When exactness matters,
    * cast to DECIMAL and take [[rangeSlidingSum]] — this face exists for
    * the user who measured that trade and still wants fp.
    *
    * Emits `<outPrefix>_sum` (DOUBLE, null on an all-null frame) and
    * `<outPrefix>_cnt`; float inputs widen to double first (the widening
    * is itself exact).
    */
  def rangeSlidingSumDouble(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      w: Long,
      outPrefix: String = "frame"): DataFrame = {
    require(w >= 0L && w < Long.MaxValue,
      s"frame width must be in [0, Long.MaxValue), got $w")
    graft.functions.GraftExtensions.install(df.sparkSession)
    val vType = df.schema(valueCol).dataType
    require(vType == org.apache.spark.sql.types.DoubleType ||
      vType == org.apache.spark.sql.types.FloatType,
      s"value column '$valueCol' must be DOUBLE/FLOAT for the fp face, got " +
        s"${vType.simpleString} — decimal/integral inputs take the exact " +
        "rangeSlidingSum")
    require(df.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"order key '$keyCol' must be BIGINT, got ${df.schema(keyCol).dataType.simpleString}")
    val widened =
      if (vType == org.apache.spark.sql.types.FloatType)
        df.withColumn(valueCol, col(valueCol).cast("double"))
      else df
    ghostProbeSum(widened, passthrough, keyCol, valueCol, w, outPrefix)
  }

  /** The fp frame's average: sum ÷ count on the [[rangeSlidingSumDouble]]
    * lanes — same opt-in, same non-bit-stable caveat.
    */
  def rangeSlidingAvgDouble(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      w: Long,
      outCol: String = "frame_avg"): DataFrame =
    rangeSlidingSumDouble(df, passthrough, keyCol, valueCol, w)
      .withColumn(outCol, col("frame_sum") / col("frame_cnt").cast("double"))

  /** `RANGE BETWEEN before PRECEDING AND after FOLLOWING` — the CENTERED
    * value-bounded frame (the pandas `rolling(center=True)` shape) — via
    * TWO ghost families: frame(k) = prefix(k + after, peer-inclusive) −
    * prefix(k − before − 1), each threshold a function of the key alone,
    * so one ghost per distinct key per family. The upper ghost clamps to
    * Long.MaxValue (nothing sorts above it, so its prefix IS the frame's
    * top) and the lower ghost NULL-positions on underflow, exactly like
    * [[rangeSlidingSum]]. Null order keys keep SQL's null-peer-group
    * frame: they spawn no ghosts and read their own peer-inclusive
    * running lanes. Emits `<outPrefix>_sum` / `<outPrefix>_cnt`; same
    * DECIMAL-value / BIGINT-key / corpus-prefix contracts as
    * [[rangeSlidingSum]] (which remains the cheaper single-family path
    * for `after = 0`).
    */
  def rangeSlidingSumBetween(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      before: Long,
      after: Long,
      outPrefix: String = "frame"): DataFrame = {
    require(before >= 0L && before < Long.MaxValue,
      s"frame start must be in [0, Long.MaxValue) PRECEDING, got $before")
    require(after >= 0L, s"frame end must be >= 0 FOLLOWING, got $after")
    graft.functions.GraftExtensions.install(df.sparkSession)
    val vType = df.schema(valueCol).dataType
    require(vType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"value column '$valueCol' must be DECIMAL, got ${vType.simpleString}")
    require(df.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"order key '$keyCol' must be BIGINT, got ${df.schema(keyCol).dataType.simpleString}")

    val keep = passthrough.filterNot(c => c == keyCol || c == valueCol)
    val reals = df.select(
      (keep.map(col) ++ Seq(col(keyCol).as("__rw_sort"),
        lit(null).cast("long").as("__rw_for"), lit(0).as("__rw_fam"),
        col(valueCol).as("__rw_v"), lit(0).as("__rw_g"))): _*)
    val keys = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__rw_for")).distinct()
    def ghost(pos: Column, fam: Int) =
      keys.select((keep.map(c => lit(null).cast(df.schema(c).dataType).as(c)) ++
        Seq(pos.as("__rw_sort"), col("__rw_for"), lit(fam).as("__rw_fam"),
          lit(null).cast(vType).as("__rw_v"), lit(1).as("__rw_g"))): _*)
    val loMin = java.lang.Long.MIN_VALUE + before + 1L
    val hiMax = java.lang.Long.MAX_VALUE - after
    val ghostsL = ghost(
      when(col("__rw_for") < lit(loMin), lit(null).cast("long"))
        .otherwise(col("__rw_for") - lit(before) - lit(1L)), 1)
    val ghostsU = ghost(
      when(col("__rw_for") > lit(hiMax), lit(Long.MaxValue))
        .otherwise(col("__rw_for") + lit(after)), 2)
    val win = Window.orderBy(col("__rw_sort"), col("__rw_g"))
    val scored = reals.unionByName(ghostsL).unionByName(ghostsU)
      .withColumn("__rw_s", sum(col("__rw_v")).over(win))
      .withColumn("__rw_c", count(col("__rw_v")).over(win))
    val thr = scored.filter(col("__rw_g") === 1)
      .groupBy(col("__rw_for"))
      .agg(max(when(col("__rw_fam") === 1, col("__rw_s"))).as("__rw_ls"),
        max(when(col("__rw_fam") === 1, col("__rw_c"))).as("__rw_lc"),
        max(when(col("__rw_fam") === 2, col("__rw_s"))).as("__rw_us"),
        max(when(col("__rw_fam") === 2, col("__rw_c"))).as("__rw_uc"))
    val sumT = scored.schema("__rw_s").dataType
    scored.filter(col("__rw_g") === 0).drop("__rw_for")
      .join(thr, col("__rw_sort") === col("__rw_for"), "left")
      .withColumn(s"${outPrefix}_cnt",
        when(col("__rw_sort").isNull, col("__rw_c"))
          .otherwise(col("__rw_uc") - coalesce(col("__rw_lc"), lit(0L))))
      .withColumn(s"${outPrefix}_sum",
        when(col(s"${outPrefix}_cnt") === 0L, lit(null).cast(sumT))
          .otherwise(when(col("__rw_sort").isNull, col("__rw_s"))
            .otherwise(col("__rw_us") -
              coalesce(col("__rw_ls"), lit(0).cast(sumT)))))
      .select((keep.map(col) ++ Seq(col("__rw_sort").as(keyCol),
        col("__rw_v").as(valueCol),
        col(s"${outPrefix}_sum"), col(s"${outPrefix}_cnt"))): _*)
  }

  /** Centered-frame average: exact sum ÷ count as DOUBLE, null on an
    * all-null frame — [[rangeSlidingAvg]]'s FOLLOWING-capable sibling.
    */
  def rangeSlidingAvgBetween(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      before: Long,
      after: Long,
      outCol: String = "frame_avg"): DataFrame =
    rangeSlidingSumBetween(df, passthrough, keyCol, valueCol, before, after)
      .withColumn(outCol,
        col("frame_sum").cast("double") / col("frame_cnt").cast("double"))

  /** Distributed GLOBAL `MIN`/`MAX OVER (ORDER BY k RANGE BETWEEN before
    * PRECEDING AND after FOLLOWING)` — extrema have NO INVERSE, so the
    * ghost-probe subtraction cannot carry them; this is the classic
    * SPARSE-BLOCK decomposition instead, in KEY space:
    *
    *  1. bucket every key by the frame length `B = before + after + 1`
    *     (floor division, so buckets are fixed key intervals);
    *  2. a frame `[k − before, k + after]` spans at most two ADJACENT
    *     buckets (it is exactly B keys wide), so its extremum is
    *     `min(suffix of the left bucket from k − before, prefix of the
    *     right bucket to k + after)` — and when both ends fall in ONE
    *     bucket the frame is exactly bucket-aligned and the prefix alone
    *     is the answer;
    *  3. both suffix and prefix are PARTITIONED running windows
    *     (`partitionBy(bucket)`, ascending and descending) — plain
    *     hash-exchange WindowExecs, no single-partition cliff anywhere;
    *  4. ghost probes carry the two thresholds (one per distinct key per
    *     needed side, null-valued so they contribute nothing) and an
    *     equi-join on the served key delivers them back.
    *
    * Domain edges clamp: a lower threshold below Long.MinValue means the
    * suffix side is skipped (the right bucket's prefix already reaches
    * every representable key below it); an upper threshold above
    * Long.MaxValue means the suffix side alone is exact (the prefix
    * probe would overshoot) — both decided per key, so the full BIGINT
    * key domain is legal. Null keys keep SQL's null-peer-group frame
    * (their bucket is null; their own peer-inclusive prefix IS the
    * frame).
    *
    * No arithmetic ever touches the VALUE column (comparisons only), so
    * any orderable type rides bit-stably — decimals, doubles, strings,
    * dates. Cost: one hash exchange on the bucket + two in-partition
    * sorts + one key equi-join; per-task work is bounded by the rows in
    * a B-key span (the inherent block-decomposition shape — a frame
    * width that covers the whole corpus degenerates to one bucket, as
    * any algorithm over that frame must).
    *
    * Emits `<outPrefix>_min` / `<outPrefix>_max` (null on an all-null
    * frame, the SQL contract).
    */
  def rangeSlidingMinMax(
      df: DataFrame,
      passthrough: Seq[String],
      keyCol: String,
      valueCol: String,
      before: Long,
      after: Long = 0L,
      outPrefix: String = "frame"): DataFrame = {
    require(before >= 0L && after >= 0L,
      s"frame bounds must be non-negative, got $before PRECEDING $after FOLLOWING")
    require(before < Long.MaxValue - after,
      s"bucket width before + after + 1 must fit a Long")
    require(df.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"order key '$keyCol' must be BIGINT, got ${df.schema(keyCol).dataType.simpleString}")
    val vType = df.schema(valueCol).dataType
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(vType), s"value type ${vType.simpleString} is not orderable")

    val b = before + after + 1L
    // floor division (Spark's `div`/`%` truncate toward zero)
    def fd(c: String): Column =
      expr(s"(`$c` div ${b}L) - (CASE WHEN (`$c` % ${b}L) < 0 THEN 1 ELSE 0 END)")
    val keep = passthrough.filterNot(c => c == keyCol || c == valueCol)
    val reals = df.select(
      (keep.map(col) ++ Seq(col(keyCol).as("__mm_sort"),
        lit(null).cast("long").as("__mm_for"), lit(0).as("__mm_fam"),
        col(valueCol).as("__mm_v"), lit(0).as("__mm_g"))): _*)
      .withColumn("__mm_bkt", fd("__mm_sort"))
    val loMin = java.lang.Long.MIN_VALUE + before
    val hiMax = java.lang.Long.MAX_VALUE - after
    val keys = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("__mm_for")).distinct()
      .withColumn("__mm_lo",
        when(col("__mm_for") < lit(loMin), lit(Long.MinValue))
          .otherwise(col("__mm_for") - lit(before)))
      .withColumn("__mm_hi",
        when(col("__mm_for") > lit(hiMax), lit(Long.MaxValue))
          .otherwise(col("__mm_for") + lit(after)))
      .withColumn("__mm_blo", fd("__mm_lo"))
      .withColumn("__mm_bhi", fd("__mm_hi"))
      .withColumn("__mm_clo", col("__mm_for") < lit(loMin))
      .withColumn("__mm_chi", col("__mm_for") > lit(hiMax))
    // suffix probe: needed when the frame spans two buckets, or when a
    // TOP-clamped frame shares one bucket whose prefix would overshoot
    val spawnS = (col("__mm_blo") < col("__mm_bhi")) ||
      (col("__mm_blo") === col("__mm_bhi") && col("__mm_chi") && !col("__mm_clo"))
    // prefix probe (only a ghost when after > 0; at after = 0 the row's
    // own peer-inclusive prefix serves): exact unless that same
    // top-clamped one-bucket case
    val prefUsable =
      !(col("__mm_blo") === col("__mm_bhi") && col("__mm_chi") && !col("__mm_clo"))
    def ghost(src: DataFrame, pos: Column, bkt: Column, fam: Int) =
      src.select((keep.map(c => lit(null).cast(df.schema(c).dataType).as(c)) ++
        Seq(pos.as("__mm_sort"), col("__mm_for"), lit(fam).as("__mm_fam"),
          lit(null).cast(vType).as("__mm_v"), lit(1).as("__mm_g"),
          bkt.as("__mm_bkt"))): _*)
    val ghostsS = ghost(keys.filter(spawnS), col("__mm_lo"), col("__mm_blo"), 1)
    val union0 = reals.unionByName(ghostsS)
    val union = if (after == 0L) union0 else union0.unionByName(
      ghost(keys.filter(prefUsable), col("__mm_hi"), col("__mm_bhi"), 2))
    val ascW = Window.partitionBy(col("__mm_bkt")).orderBy(col("__mm_sort"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val descW = Window.partitionBy(col("__mm_bkt")).orderBy(col("__mm_sort").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = union
      .withColumn("__mm_amin", min(col("__mm_v")).over(ascW))
      .withColumn("__mm_amax", max(col("__mm_v")).over(ascW))
      .withColumn("__mm_dmin", min(col("__mm_v")).over(descW))
      .withColumn("__mm_dmax", max(col("__mm_v")).over(descW))
    val thr = scored.filter(col("__mm_g") === 1)
      .groupBy(col("__mm_for"))
      .agg(max(when(col("__mm_fam") === 1, col("__mm_dmin"))).as("__mm_smin"),
        max(when(col("__mm_fam") === 1, col("__mm_dmax"))).as("__mm_smax"),
        max(when(col("__mm_fam") === 2, col("__mm_amin"))).as("__mm_pmin"),
        max(when(col("__mm_fam") === 2, col("__mm_amax"))).as("__mm_pmax"))
    val joined = scored.filter(col("__mm_g") === 0).drop("__mm_for")
      .join(thr, col("__mm_sort") === col("__mm_for"), "left")
    val (pMin, pMax) =
      if (after == 0L) (col("__mm_amin"), col("__mm_amax"))
      else (when(col("__mm_sort").isNull, col("__mm_amin"))
          .otherwise(col("__mm_pmin")),
        when(col("__mm_sort").isNull, col("__mm_amax"))
          .otherwise(col("__mm_pmax")))
    joined
      .withColumn(s"${outPrefix}_min", least(pMin, col("__mm_smin")))
      .withColumn(s"${outPrefix}_max", greatest(pMax, col("__mm_smax")))
      .select((keep.map(col) ++ Seq(col("__mm_sort").as(keyCol),
        col("__mm_v").as(valueCol),
        col(s"${outPrefix}_min"), col(s"${outPrefix}_max"))): _*)
  }

  /** ALL FIVE aggregate families — sum/count/avg over `sumCol` (DECIMAL),
    * min/max over `extremaCol` — over ONE global `ROWS BETWEEN n PRECEDING
    * AND m FOLLOWING` frame, with the sorted stream MATERIALIZED ONCE:
    * the production face for the plan shape
    * [[graft.plans.RowsFollowingRule]]'s pure-optimizer composition pays
    * for per consumer family (its reals/ghost/bucket branches each re-run
    * the rank pipeline above the reused exchange — SURVEY §6.19's "a
    * 100 TB deployment would pre-materialize rn once", made code).
    *
    * The identity: a ROWS `[i−n, i+m]` frame equals the ROWS
    * `[(i+m)−(n+m), i+m]` TRAILING frame evaluated at row `i+m` — so one
    * in-exec sliding window of width `n+m` plus one `lead(·, m)` carries
    * every interior row, and only the last `m` rows (whose lead runs off
    * the end) need the true `[i−n, N]` frames. The cascade
    *
    *  1. running `count(*)` (the BIGINT row index `rn`),
    *  2. the five width-`(n+m)` trailing aggregates (retract accumulators
    *     / monotonic deques in [[graft.plans.GlobalRankExec]]),
    *  3. `lead(·, m)` of each,
    *
    * stacks as GlobalRank execs over ONE order — one range exchange, one
    * sort, everything above streams — and is `localCheckpoint`ed ONCE
    * (freezing tie order for every consumer). The TAIL PATCH is a
    * broadcast self-join of the last `m` rows against the last `n+m+1`
    * rows of the checkpoint — O(frame²) work on frame-bounded constants —
    * aggregated by Spark's OWN sum/count/avg/min/max, so edge rows carry
    * the identical arithmetic (decimal avg emission included).
    *
    * Contract: `orderCols` SHOULD be a total order (ties get SQL's
    * standard ROWS nondeterminism — one arbitrary-but-consistent order,
    * frozen by the checkpoint); `sumCol` DECIMAL (fp prefix/retract
    * cancellation is vetoed engine-wide); `n + m + 1 ≤ 1024` (the
    * GlobalRank slide/shift boundary-ring bound); `m ≥ 1` (`m = 0` is the
    * in-exec trailing family — call the stock `over` and let
    * [[graft.plans.GlobalRankRule]] rewrite it). Output: `keep` columns +
    * `<p>_sum/_cnt/_avg/_min/_max`.
    *
    * Checkpoint trade (100 TB note): the default `localCheckpoint` stores
    * the materialized cascade on EXECUTOR storage — fast, but an executor
    * loss forfeits its partitions with no lineage fallback (the job
    * fails and retries whole). Pass `reliableCheckpoint = true` (with
    * `sc.setCheckpointDir` on a fault-tolerant store) to pay one extra
    * corpus write+read for executor-loss survival — the right default on
    * a large shared cluster; local/batch callers keep the fast path.
    *
    * RangeWindowsSpec pins bit-equality vs the kill-switched stock
    * Window (both checkpoint modes); `e23b_rows_centered_lib` /
    * `e24c_desc_rows_lib` pin the face against the same DuckDB oracles
    * as e23/e24b.
    */
  def rowsSlidingAll(
      df: DataFrame,
      keep: Seq[String],
      orderCols: Seq[Column],
      n: Long,
      m: Long,
      sumCol: String,
      extremaCol: String,
      outPrefix: String = "frame",
      reliableCheckpoint: Boolean = false): DataFrame = {
    require(m >= 1, s"m FOLLOWING must be >= 1 (got $m); m = 0 is the " +
      "in-exec trailing family — use a plain window")
    require(n >= 0 && n + m + 1 <= 1024,
      s"frame length ${n + m + 1} exceeds the boundary-ring bound (1024)")
    graft.functions.GraftExtensions.install(df.sparkSession)
    import org.apache.spark.sql.types.DecimalType
    require(df.schema(sumCol).dataType.isInstanceOf[DecimalType],
      s"$sumCol must be DECIMAL — fp retract accumulators cancel " +
        "catastrophically and are vetoed engine-wide")
    val w0 = Window.orderBy(orderCols: _*)
    val slide = w0.rowsBetween(-(n + m), 0)
    val p = outPrefix
    val cascade0 = df
      .withColumn("__ra_rn",
        count(lit(1)).over(w0.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__ra_s", sum(col(sumCol)).over(slide))
      .withColumn("__ra_c", count(lit(1)).over(slide))
      .withColumn("__ra_a", avg(col(sumCol)).over(slide))
      .withColumn("__ra_mn", min(col(extremaCol)).over(slide))
      .withColumn("__ra_mx", max(col(extremaCol)).over(slide))
      .withColumn("__ra_ls", lead(col("__ra_s"), m.toInt).over(w0))
      .withColumn("__ra_lc", lead(col("__ra_c"), m.toInt).over(w0))
      .withColumn("__ra_la", lead(col("__ra_a"), m.toInt).over(w0))
      .withColumn("__ra_lmn", lead(col("__ra_mn"), m.toInt).over(w0))
      .withColumn("__ra_lmx", lead(col("__ra_mx"), m.toInt).over(w0))
    // the whole point of this face is the cascade distributing — fail
    // loudly if any stage stayed on the one-task cliff (mis-registration,
    // a scope drift in the rules) rather than silently materializing it
    require(graft.plans.PlanChecks.unboundedGlobalWindows(cascade0).isEmpty,
      "rowsSlidingAll: the window cascade did not distribute — a stage " +
        "stayed on the single-partition Window")
    // the checkpoint freezes tie order ONCE for every consumer (tail
    // patch, totals, the output join) — a mere persist would recompute on
    // partition loss and could re-break ties differently mid-query.
    // localCheckpoint keeps blocks on executor storage: fast, but an
    // executor loss forfeits its partitions WITH NO LINEAGE FALLBACK (the
    // documented 100 TB trade). reliableCheckpoint=true writes the
    // materialized cascade to the cluster's checkpoint dir
    // (sc.setCheckpointDir — HDFS/object store) instead: one extra
    // write+read of the corpus buys executor-loss survival.
    val cascade =
      if (!reliableCheckpoint) cascade0.localCheckpoint()
      else {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "reliableCheckpoint=true needs spark.sparkContext.setCheckpointDir " +
            "(a fault-tolerant location, e.g. HDFS) before calling")
        cascade0.checkpoint()
      }
    val total = cascade.count() // cached blocks — no recompute
    // tail patch: true [i−n, N] frames for the last m rows, from the last
    // n+m+1 rows, through Spark's own aggregates (identical arithmetic)
    val tail = cascade.filter(col("__ra_rn") > total - m)
      .select(col("__ra_rn").as("__tp_rn"))
    val span = cascade.filter(col("__ra_rn") >= total - m - n)
      .select(col("__ra_rn").as("__sp_rn"),
        col(sumCol).as("__sp_v"), col(extremaCol).as("__sp_e"))
    val patch = tail.join(broadcast(span),
        col("__sp_rn") >= col("__tp_rn") - n &&
          col("__sp_rn") <= col("__tp_rn") + m)
      .groupBy(col("__tp_rn"))
      .agg(sum(col("__sp_v")).as("__tp_s"),
        count(lit(1)).as("__tp_c"),
        avg(col("__sp_v")).as("__tp_a"),
        min(col("__sp_e")).as("__tp_mn"),
        max(col("__sp_e")).as("__tp_mx"))
    cascade.join(broadcast(patch), col("__ra_rn") === col("__tp_rn"), "left")
      .withColumn(s"${p}_sum",
        when(col("__ra_rn") > total - m, col("__tp_s")).otherwise(col("__ra_ls")))
      .withColumn(s"${p}_cnt",
        when(col("__ra_rn") > total - m, col("__tp_c")).otherwise(col("__ra_lc")))
      .withColumn(s"${p}_avg",
        when(col("__ra_rn") > total - m, col("__tp_a")).otherwise(col("__ra_la")))
      .withColumn(s"${p}_min",
        when(col("__ra_rn") > total - m, col("__tp_mn")).otherwise(col("__ra_lmn")))
      .withColumn(s"${p}_max",
        when(col("__ra_rn") > total - m, col("__tp_mx")).otherwise(col("__ra_lmx")))
      .select((keep.map(col) ++ Seq(s"${p}_sum", s"${p}_cnt", s"${p}_avg",
        s"${p}_min", s"${p}_max").map(col)): _*)
  }
}
