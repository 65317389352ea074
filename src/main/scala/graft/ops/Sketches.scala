package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Query-shaped fronts for the sketch aggregators. */
object Sketches {

  /** Terms whose corpus frequency the Count-Min query tracks. */
  val trackedTerms: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "model", "data", "learning", "neural")

  /** The d counter positions of one term: 4-hex-char slices of its md5
    * digest mod w — engine-independent, so an external SQL engine
    * derives the identical positions (`substring(md5(term), 1+4*d, 4)`).
    */
  private[graft] def cmsPositions(term: Column, d: Int, w: Int): Column = {
    val dig = md5(term.cast("binary"))
    array((0 until d).map(i =>
      pmod(conv(substring(dig, 1 + 4 * i, 4), 16, 10).cast("long"), lit(w.toLong))): _*)
  }

  /** Count-Min term-frequency estimates: ONE pass over `words` builds
    * the d·w-counter sketch (bounded state per partition, element-wise
    * merge — no per-term groupBy shuffle ever runs), then each tracked
    * term reads the min of its d counters. Estimates are exact-or-over,
    * never under. At 100 TB this is the one-pass answer to "how often
    * do these terms appear" — the sketch is a few KB however large the
    * corpus, and tracking more terms costs nothing extra in the scan. */
  def cmsTermFreq(
      words: DataFrame,
      wordCol: String,
      terms: Seq[String],
      d: Int = 4,
      w: Int = 1024): DataFrame = {
    require(d > 1 && 4 * d <= 32, s"need 2..8 md5 slices of 4 hex chars, got d=$d")
    val spark = words.sparkSession
    import spark.implicits._
    val sketch = words
      .select(cmsPositions(col(wordCol), d, w).as("pos"))
      .agg(udaf(Aggregators.CountMin(d, w)).apply(col("pos")).as("cms"))
    terms.toDF("term")
      .crossJoin(sketch)
      .select(col("term"),
        least((0 until d).map(i =>
          element_at(col("cms"),
            (lit(i * w) + element_at(cmsPositions(col("term"), d, w), i + 1))
              .cast("int") + lit(1))): _*).as("est"))
      .orderBy("term")
  }

  /** EXACT heavy hitters — every word whose count clears the φ‰
    * frequency threshold (all-integer contract: 1000·cnt ≥ n·φ) —
    * found WITHOUT ever shuffling the full vocabulary. Pass 1 is one
    * scan into a bounded Misra–Gries candidate summary (capacity
    * 2·1000/φ+1, double the 1/φ the superset guarantee needs, so the
    * guarantee survives the counter-subtracting merge tree) alongside
    * the total count; pass 2 re-scans with a broadcast semi-filter on
    * the ≤ m candidates and counts exactly, so only candidate keys —
    * never the vocabulary — reach a hash aggregate. The candidates are
    * merge-order-dependent; the OUTPUT is not: the MG bound makes the
    * candidate set a guaranteed superset of the true heavy hitters,
    * and the second pass is exact, so the result equals a plain
    * groupBy + HAVING at any partitioning. At 100 TB: a trillion-token
    * vocabulary-frequency question answered with per-partition state
    * of m entries and a broadcast of m words — the full-vocabulary
    * groupBy this replaces shuffles distinct-words-per-partition rows
    * (millions per partition in web text). The wordcount-with-
    * threshold shape the reference chains by hand
    * (`w7/src/python/reduce.py:2-17` + a client-side filter). */
  def heavyHittersExact(
      words: DataFrame,
      wordCol: String,
      phiPermille: Int): DataFrame = {
    require(phiPermille >= 1 && phiPermille <= 1000,
      s"phiPermille must be in [1, 1000], got $phiPermille")
    val m = 2 * 1000 / phiPermille + 1
    val cand = words
      .agg(
        count(lit(1)).as("n"),
        udaf(Aggregators.MisraGries(m)).apply(col(wordCol)).as("cand"))
      .select(col("n"), explode(col("cand")).as(wordCol))
    words.join(broadcast(cand), wordCol)
      .groupBy(col(wordCol), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 1000 >= col("n") * phiPermille)
      .select(col(wordCol), col("cnt"))
  }

  /** Per-key exact heavy hitters — every (key, word) whose count
    * clears φ‰ OF ITS KEY'S total (1000·cnt ≥ n_key·φ). Same two-pass
    * shape as `heavyHittersExact` with the MG summary keyed: pass 1's
    * hash aggregate carries ≤ m-entry buffers per (partition, key) —
    * never the vocabulary — and pass 2 exact-counts behind a broadcast
    * of the ≤ keys·m candidates. Made for pipeline dimensions of
    * BOUNDED cardinality (language, source, split — the broadcast is
    * keys·m rows); an unbounded key domain should range-partition the
    * keys and run the ungrouped variant per range instead. */
  def heavyHittersExactByKey(
      words: DataFrame,
      keyCol: String,
      wordCol: String,
      phiPermille: Int): DataFrame = {
    require(phiPermille >= 1 && phiPermille <= 1000,
      s"phiPermille must be in [1, 1000], got $phiPermille")
    val m = 2 * 1000 / phiPermille + 1
    val cand = words
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        udaf(Aggregators.MisraGries(m)).apply(col(wordCol)).as("cand"))
      .select(col(keyCol), col("n"), explode(col("cand")).as(wordCol))
    words.join(broadcast(cand), Seq(keyCol, wordCol))
      .groupBy(col(keyCol), col(wordCol), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 1000 >= col("n") * phiPermille)
      .select(col(keyCol), col(wordCol), col("cnt"))
  }

  /** Approximate quantiles with BOUNDED state — the scale path beside
    * an exact full-sort pick: one min/max/count pass fixes `bins`
    * equal-width bins, one histogram aggregation (cardinality ≤ bins
    * however large the input), and each quantile estimate is the lower
    * edge of the bin where the cumulative count crosses ceil(q·n) —
    * error ≤ one bin width. Every step is IEEE double arithmetic any
    * engine computes identically. The cumulative window runs over
    * ≤ `bins` rows, not the data. Degenerate edges: empty input → no
    * rows; all-equal input (zero bin width) → every estimate is that
    * value (NaN bins would otherwise diverge between engines). */
  def histQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double],
      bins: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val mm = df.agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n")).head()
    if (mm.isNullAt(0)) return Seq.empty[(Double, Double)].toDF("q", "est")
    val (lo, hi, n) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2))
    if (hi == lo) return qs.map(q => (q, lo)).toDF("q", "est")
    val w = (hi - lo) / bins
    val histo = df
      .select(least(floor((v - lit(lo)) / lit(w)), lit(bins - 1)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val cum = histo.withColumn("cum",
      sum("c").over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
    qs.map { q =>
      val r = math.ceil(q * n).toLong
      cum.where(col("cum") >= r).orderBy("bin").limit(1)
        .select(lit(q).as("q"), (lit(lo) + col("bin") * lit(w)).as("est"))
    }.reduce(_ unionByName _)
  }

  /** KMV distinct-count estimate over a column of uniform `bits`-bit
    * hashes: one pass, bounded state (≤ k longs per partition cross the
    * shuffle — never a distinct exchange). Returns a single row
    * (kth_min, est):
    *   - sketch not full → its size IS the exact distinct count
    *     (est exact, kth_min = current max of the buffer);
    *   - full → est = (k−1)·2^bits div kth_min, exact int64 division;
    *   - empty input → (null, 0) instead of `element_at(_, 0)` erroring.
    * Exact-vs-estimate accuracy is asserted in `SketchSpec`; shipping an
    * exact `countDistinct` beside the sketch would pay the very shuffle
    * the sketch exists to avoid. */
  def kmvDistinct(hashes: DataFrame, hashCol: String, k: Int, bits: Int): DataFrame =
    hashes
      .agg(udaf(Aggregators.KMinValues(k)).apply(col(hashCol)).as("mins"))
      .select(kmvEstimate(k, bits): _*)

  /** Grouped KMV: one bounded sketch PER KEY — "how many distinct X per
    * group" over 100 TB as a single hash aggregation whose shuffled
    * state is ≤ k longs per key per partition, where the exact answer
    * (`count(DISTINCT …) GROUP BY key`) shuffles every distinct value.
    * Same estimator and edges as the global form. */
  def kmvDistinctBy(
      hashes: DataFrame,
      keyCol: String,
      hashCol: String,
      k: Int,
      bits: Int): DataFrame =
    hashes
      .groupBy(keyCol)
      .agg(udaf(Aggregators.KMinValues(k)).apply(col(hashCol)).as("mins"))
      .select(col(keyCol) +: kmvEstimate(k, bits): _*)

  /** Pairwise corpus-overlap matrix from per-group KMV sketches (Beyer
    * et al. 2007 multi-set KMV): every group keeps ONE bounded k-min
    * sketch; a pair's union sketch is the k smallest of the two
    * merged min-lists (exactly what a KMV of the concatenated corpora
    * would hold), and the intersection follows by inclusion–exclusion
    * est_inter = est_a + est_b − est_union (clamped at 0). "How much do
    * source A and source B overlap" across all pairs costs one hash
    * aggregation over the data plus an all-pairs join of ≤ |groups|
    * sketch ROWS (never of the data) — 100 TB in, |groups|²·k longs
    * out. All arithmetic is exact int64 (same estimator row shape as
    * `kmvDistinct`), so an external engine replays it bit-for-bit. */
  def kmvOverlapPairs(
      hashes: DataFrame,
      keyCol: String,
      hashCol: String,
      k: Int,
      bits: Int,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(bits < 63 && k > 1, s"need 1 < k and bits < 63, got k=$k bits=$bits")
    require((k - 1).toLong <= (Long.MaxValue >> bits), s"(k-1)*2^$bits overflows int64")
    val num = (k - 1).toLong * (1L << bits)
    // cached: the grouped KMV agg feeds BOTH sides of the self-join
    // below, and without a cache the broadcast side re-runs the full
    // hash aggregation (and input scan) unless ReusedExchange happens
    // to fire — which the "one hash aggregation over the data" contract
    // in the scaladoc must not depend on
    val sk = scope.cache(hashes
      .groupBy(keyCol)
      .agg(udaf(Aggregators.KMinValues(k)).apply(col(hashCol)).as("mins")))
    def est(mins: String): Column =
      expr(s"IF(size($mins) < $k, size($mins), ${num}L div element_at($mins, $k))")
        .cast("long")
    sk.select(col(keyCol).as("src_a"), col("mins").as("ma"))
      .join(broadcast(
        sk.select(col(keyCol).as("src_b"), col("mins").as("mb"))),
        col("src_a") < col("src_b"))
      .withColumn("mu", slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
      .select(col("src_a"), col("src_b"),
        est("ma").as("est_a"), est("mb").as("est_b"), est("mu").as("est_union"))
      .withColumn("est_inter",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .withColumn("jaccard_milli",
        expr("IF(est_union = 0, 0L, (est_inter * 1000) div est_union)"))
  }

  /** Per-group histogram quantiles — the grouped form of
    * `histQuantiles` with NO driver round-trip at all: per-group
    * bounds come from a first aggregation joined back (broadcast —
    * group cardinality is bounded), rows bin against THEIR group's
    * bounds, and the cumulative window runs per group over ≤ `bins`
    * rows. Groups of one value (zero bin width) estimate that value.
    * Output: (grp, q, est), error ≤ one per-group bin width. */
  def histQuantilesBy(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      qs: Seq[Double],
      bins: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val mm = df.groupBy(col(keyCol).as("grp"))
      .agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"))
    val binned = df.select(col(keyCol).as("grp"), v.as("v"))
      .join(broadcast(mm), "grp")
      .select(col("grp"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / bins)),
            lit(bins - 1L)))
          .as("bin"))
    val h = binned.groupBy("grp", "bin").agg(count(lit(1)).as("c"))
    val cum = h.withColumn("cum",
      sum("c").over(Window.partitionBy("grp").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)))
    cum.join(broadcast(mm), "grp")
      .crossJoin(broadcast(qs.toDF("q")))
      .where(col("cum") >= ceil(col("q") * col("n")))
      .groupBy("grp", "q", "lo", "hi")
      .agg(min(col("bin")).as("bin"))
      .select(col("grp"), col("q"),
        (col("lo") + col("bin") * ((col("hi") - col("lo")) / bins)).as("est"))
  }

  /** One-pass ANALYZE over integral columns: per column min, max, null
    * count, and a KMV distinct estimate — the statistics table a
    * cost-based optimizer (and a 100 TB capacity plan) feeds on,
    * collected the way a real engine's ANALYZE must: ONE aggregation
    * pass over the table with bounded state per column (two longs + a
    * counter + ≤ k sketch longs), never a per-column scan and never a
    * distinct exchange. The single stats row is then unpivoted with
    * `stack` into one row per column.
    *
    * NDV excludes nulls (the convention stats tables use): null values
    * hash to a sentinel ABOVE the `bits`-bit hash space, so the
    * sentinel survives in the sketch only while it isn't full of real
    * values — present means the real values number `size - 1` exactly;
    * a full sketch is all real and estimates as usual. Hashes are the
    * engine-independent md5-slice family over the decimal string form,
    * so an external engine replays every estimate (integral columns
    * print identically everywhere; float formatting does not — hence
    * the integral-column contract). */
  def analyzeColumns(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 256,
      bits: Int = 44): DataFrame =
    reportFromState(analyzeState(df, cols, k, bits), k, bits)

  /** The ANALYZE pass in MERGEABLE form: one row per column holding
    * `(min_v, max_v, n_nulls, kmv)` where `kmv` is the raw k-min-values
    * sketch array (≤ k sorted hashes, null sentinel included) instead
    * of the collapsed estimate. Same single aggregation pass and
    * per-column state bound as [[analyzeColumns]]; what it buys is
    * [[mergeAnalyzeStates]]: stats maintenance becomes O(batch) —
    * analyze the arriving batch, fold its state into the stored one,
    * report — the indexed corpus is never rescanned (the
    * `updateTextIndex`/`updateAnnIndex` discipline, for statistics). */
  def analyzeState(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 256,
      bits: Int = 44): DataFrame =
    unpivotState(analyzeWideState(df, cols, k, bits), cols)

  /** The state pass WITHOUT the `stack` unpivot: ONE row of per-column
    * `(__mn, __mx, __nl, __kv)` aggregates. Split out because a STREAM
    * maintains exactly this as a Complete-mode global aggregate (the
    * KMV UDAF folds per micro-batch; state = the one wide row) but
    * cannot append a generator to a streaming aggregate — the sunk row
    * unpivots batch-side via [[unpivotState]], the `constraintGate`
    * split again. */
  private[graft] def analyzeWideState(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 256,
      bits: Int = 44): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(bits % 4 == 0 && bits < 63 && k > 1,
      s"need 1 < k and bits a multiple of 4 below 63, got k=$k bits=$bits")
    require((k - 1).toLong <= (Long.MaxValue >> bits), s"(k-1)*2^$bits overflows int64")
    val hx = bits / 4
    val sentinel = 1L << bits
    val aggs = cols.flatMap { c =>
      Seq(
        min(col(c)).cast("long").as(s"__mn_$c"),
        max(col(c)).cast("long").as(s"__mx_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c"),
        udaf(Aggregators.KMinValues(k)).apply(
          coalesce(
            conv(substring(md5(col(c).cast("string").cast("binary")), 1, hx), 16, 10)
              .cast("long"),
            lit(sentinel))).as(s"__kv_$c"))
    }
    // widen: the md5-per-value KMV fold is the CPU here, and a
    // single-row-group fixture scan would run it on one core
    // (identity on streams and on real multi-split inputs)
    graft.util.Par.widen(df).agg(aggs.head, aggs.tail: _*)
  }

  /** Reshape the wide one-row state to the long `(col_name, min_v,
    * max_v, n_nulls, kmv)` form [[mergeAnalyzeStates]] and
    * [[reportFromState]] consume. */
  private[graft] def unpivotState(wide: DataFrame, cols: Seq[String]): DataFrame =
    wide.select(expr(
      s"stack(${cols.size}, " +
        cols.map(c => s"'$c', __mn_$c, __mx_$c, __nl_$c, __kv_$c").mkString(", ") +
        ") AS (col_name, min_v, max_v, n_nulls, kmv)"))

  /** Exact sketch-level merge of per-part ANALYZE states: min of mins,
    * max of maxes, sum of null counts, and for the sketch the k
    * smallest DISTINCT hashes across parts — which IS the k-min-values
    * sketch of the unioned data (every union-sketch hash survives in
    * its part's sketch, since dropping a hash requires k smaller ones
    * in that part alone), so the merged report is BIT-identical to a
    * one-shot ANALYZE over the union, not an approximation of it. The
    * null sentinel composes under the same rule: it sorts above every
    * real hash, so it survives the cut exactly when the union's real
    * distinct count is below k and some part saw nulls. Cost:
    * O(parts · cols) rows through one `col_name`-keyed agg — metadata
    * scale, no data pass. */
  def mergeAnalyzeStates(states: Seq[DataFrame], k: Int = 256): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    states.reduce(_ unionByName _)
      .groupBy("col_name")
      .agg(
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        sum(col("n_nulls")).as("n_nulls"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, k).as("kmv"))
  }

  /** Collapse a (possibly merged) ANALYZE state to the
    * [[analyzeColumns]] report — same estimator, same null-sentinel
    * contract. */
  def reportFromState(state: DataFrame, k: Int = 256, bits: Int = 44): DataFrame = {
    val sentinel = 1L << bits
    val num = (k - 1).toLong * sentinel
    val sz = size(col("kmv"))
    state.select(
      col("col_name"), col("min_v"), col("max_v"), col("n_nulls"),
      when(sz === 0, 0L)
        .when(element_at(col("kmv"), sz) === sentinel, (sz - 1).cast("long"))
        .when(sz < k, sz.cast("long"))
        .otherwise(expr(s"${num}L div element_at(kmv, $k)"))
        .cast("long").as("ndv_est"))
  }

  /** Per-column data-drift gate between two relations — total
    * variation distance over a shared bounded histogram, the scalar
    * twin of `Similarity.embeddingDrift`: yesterday's ingest vs
    * today's (or train vs serve) per feature, the acceptance number a
    * pipeline alerts on when an upstream source silently changes
    * units, truncates a field, or shifts its distribution.
    *
    * Definition (all integer, externally replayable): both sides
    * bucket each column against UNION min-max bounds into ≤ `buckets`
    * integer bins; per side the bin share is floored permille
    * (`cnt·1000 div n_side`); `tv_permille = Σ|p_a − p_b| div 2` over
    * the bins. TV is the [0, 1000] metric with the cleanest gate
    * semantics (= max probability mass any event class can disagree
    * by); the floor-permille form adds ≤ buckets/1000 rounding — a
    * DETERMINISTIC bias both engines reproduce bit-for-bit, unlike a
    * float KL/PSI whose log has no exact integer twin. NULLs drop per
    * side (their rate is `analyzeColumns`' n_nulls, a separate gate).
    *
    * Scale shape: each input is scanned ONCE — a side-tagged packed
    * explode to (col_name, v, side) rows, cached into `scope` because
    * the bounds agg and the histogram both consume it (the
    * dupNgramStats multi-consumer rule; the first version rescanned
    * the raw inputs up to 6× and the scale probe caught it at 45 s /
    * 64×) — then ≤ cols bounds rows broadcast back, ONE joint
    * (column, bucket) aggregation counting both sides (map-side
    * combined; no full-outer join of per-side histograms exists), and
    * the permille comparison over ≤ cols·(buckets+1) rows. No per-row
    * product, no driver state; permille shares (never cross-side
    * count products) keep every intermediate in int64 at any row
    * count. */
  def histogramDriftTv(
      a: DataFrame,
      b: DataFrame,
      cols: Seq[String],
      buckets: Int = 1000,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(cols.nonEmpty && buckets > 1, s"need cols and buckets > 1")
    def packed(df: DataFrame, side: Int) = df
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col(c).cast("long").as("v"))): _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .where(col("v").isNotNull)
      .select(col("col_name"), col("v"), lit(side).as("side"))
    val vals = packed(a, 0).unionByName(packed(b, 1))
    // r14: bounds from ONE narrow wide-row aggregate per side (min/max
    // of the raw columns — no explode, no cache) instead of caching the
    // exploded union and scanning it twice. The r13 version widened +
    // cached the cols×rows exploded relation just so the bounds agg and
    // the histogram could share it; the driver bench read that as a
    // REGRESSION (2.99 → 4.36 s, 33 s of task time in the cache build).
    // min/max are union-combinable per column, so two 1-row aggregates
    // unioned and re-aggregated give bit-identical bounds, and the
    // exploded stream is consumed exactly once (the histogram pass) —
    // no materialization at any scale. NULL semantics unchanged:
    // min/max ignore nulls; a column all-null on both sides yields null
    // bounds but also no exploded rows, so the join emits nothing for
    // it, exactly as before.
    def boundsWide(df: DataFrame) = df.agg(
      min(col(cols.head).cast("long")).as(s"__mn_${cols.head}"),
      (cols.tail.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"__mn_$c"),
        max(col(c).cast("long")).as(s"__mx_$c"))) :+
        max(col(cols.head).cast("long")).as(s"__mx_${cols.head}")): _*)
    val bounds = boundsWide(a).unionByName(boundsWide(b))
      .select(expr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', __mn_$c, __mx_$c").mkString(", ") +
          ") AS (col_name, mn0, mx0)"))
      .groupBy("col_name")
      .agg(min(col("mn0")).as("mn"), max(col("mx0")).as("mx"))
      .where(col("mn").isNotNull)
    val hist = vals.join(broadcast(bounds), "col_name")
      .select(col("col_name"), col("side"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr(s"((v - mn) * $buckets) div (mx - mn + 1)"))
          .as("bucket"))
      .groupBy("col_name", "bucket")
      .agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cnt_b"))
    val totals = hist.groupBy("col_name")
      .agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    hist.join(broadcast(totals), "col_name")
      .where(col("n_a") > 0 && col("n_b") > 0)
      .select(col("col_name"), col("n_a"), col("n_b"),
        expr("(cnt_a * 1000) div n_a").as("pa"),
        expr("(cnt_b * 1000) div n_b").as("pb"))
      .groupBy("col_name")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        expr("sum(abs(pa - pb)) div 2").as("tv_permille"))
  }

  /** Feed the engine's own ANALYZE into Catalyst — the missing half of
    * `stats_analyze`: the one-pass (min, max, null-count, KMV-ndv)
    * report becomes `CatalogStatistics` on the named catalog table, so
    * CBO's filter/join cardinality estimation prices plans with the
    * engine's numbers instead of raw file sizes. At 100 TB this is
    * what flips a post-filter dim-table join to broadcast and lets
    * join reordering see true cardinalities — `CboSpec` pins exactly
    * that decision flip on an engineered pair.
    *
    * `cols` must be integral (the ANALYZE pass's contract); row count
    * rides the same scan budget (a parquet `count()` is answered from
    * footers). Stats are installed transactionally via one
    * `alterTableStats` — re-running refreshes them; the mergeable
    * [[analyzeState]]/[[mergeAnalyzeStates]] path keeps maintenance
    * O(batch) between refreshes. Returns the installed (n_rows,
    * size_bytes) for the caller's audit trail. */
  def analyzeToCatalog(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      cols: Seq[String],
      k: Int = 256,
      bits: Int = 44): (Long, Long) = {
    val stats = computeCatalogStats(spark.table(table), cols, k, bits)
    org.apache.spark.sql.GraftBridge.alterTableStats(spark, table, Some(stats))
    (stats.rowCount.get.toLong, stats.sizeInBytes.toLong)
  }

  /** The compute half of [[analyzeToCatalog]], split out so a
    * whole-suite CBO feed (every `io.Tables` read) can
    * memoize the ANALYZE pass per (dir, table) across the bench's
    * recycled sessions — the stats object is session-independent;
    * only the cheap catalog install repeats per session. */
  def computeCatalogStats(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 256,
      bits: Int = 44): org.apache.spark.sql.catalyst.catalog.CatalogStatistics = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    val nRows = df.count()
    val colStats = analyzeColumns(df, cols, k, bits).collect().map { r =>
      r.getString(0) -> CatalogColumnStat(
        distinctCount = Some(BigInt(r.getLong(4))),
        min = if (r.isNullAt(1)) None else Some(r.getLong(1).toString),
        max = if (r.isNullAt(2)) None else Some(r.getLong(2).toString),
        nullCount = Some(BigInt(r.getLong(3))),
        avgLen = Some(8L),
        maxLen = Some(8L))
    }.toMap
    // sizeInBytes from schema default widths — under CBO the planner
    // re-derives output sizes from rowCount × per-column stats anyway;
    // this is the fallback for size-only consumers
    val sizeInBytes =
      nRows * df.schema.map(_.dataType.defaultSize.toLong).sum
    CatalogStatistics(BigInt(sizeInBytes), Some(BigInt(nRows)), colStats)
  }

  /** Textbook equi-join cardinality estimate from one-pass per-side
    * sketches — what a cost-based optimizer computes BEFORE running
    * the join: `est = n_a·n_b div max(ndv_a, ndv_b)` (the uniform-
    * frequency, key-containment estimator every System-R descendant
    * uses), with per-side `n` = non-null join keys and `ndv` the KMV
    * rank-k estimate over the engine-independent md5 hash family.
    * Each side costs ONE scan with the null filter pushed and ≤ k
    * longs of sketch state; the two one-row sides cross-join. All
    * arithmetic int64 and externally replayable; `n_a·n_b` must fit
    * int64 — at row counts beyond ~3·10⁹ per side, decompose the
    * product or accept double precision (the estimate's own error
    * dwarfs 1-ulp at that point). Empty or all-null sides estimate 0,
    * never a division error. */
  def estimateEquiJoin(
      a: DataFrame,
      keyA: String,
      b: DataFrame,
      keyB: String,
      k: Int = 256,
      bits: Int = 44): DataFrame = {
    require(bits % 4 == 0 && bits < 63 && k > 1,
      s"need 1 < k and bits a multiple of 4 below 63, got k=$k bits=$bits")
    require((k - 1).toLong <= (Long.MaxValue >> bits), s"(k-1)*2^$bits overflows int64")
    val hx = bits / 4
    val num = (k - 1).toLong * (1L << bits)
    def side(df: DataFrame, c: String, tag: String): DataFrame = {
      val kv = col(s"__kv_$tag")
      val sz = size(kv)
      df.where(col(c).isNotNull)
        .agg(
          count(lit(1)).as(s"n_$tag"),
          udaf(Aggregators.KMinValues(k)).apply(
            conv(substring(md5(col(c).cast("string").cast("binary")), 1, hx), 16, 10)
              .cast("long")).as(s"__kv_$tag"))
        .select(col(s"n_$tag"),
          when(sz < k, sz.cast("long"))
            .otherwise(expr(s"${num}L div element_at(__kv_$tag, $k)"))
            .cast("long").as(s"ndv_$tag"))
    }
    side(a, keyA, "a").crossJoin(side(b, keyB, "b"))
      .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
        when(greatest(col("ndv_a"), col("ndv_b")) === 0L, 0L)
          .otherwise(expr("(n_a * n_b) div greatest(ndv_a, ndv_b)"))
          .as("est_rows"))
  }

  private def kmvEstimate(k: Int, bits: Int): Seq[Column] = {
    require(bits < 63 && k > 1, s"need 1 < k and bits < 63, got k=$k bits=$bits")
    require((k - 1).toLong <= (Long.MaxValue >> bits), s"(k-1)*2^$bits overflows int64")
    val space = 1L << bits
    Seq(
      when(size(col("mins")) > 0, element_at(col("mins"), size(col("mins"))))
        .as("kth_min"),
      when(size(col("mins")) < k, size(col("mins")).cast("long"))
        .otherwise(expr(s"(${(k - 1).toLong * space}L) div element_at(mins, $k)"))
        .cast("long").as("est"))
  }

  /** ONE-PASS pairwise correlation components over numeric columns —
    * the multi-column completion of the ANALYZE family: `analyzeColumns`
    * profiles columns independently, this measures how they move
    * TOGETHER, the statistic that breaks the independence assumption
    * behind `estimateEquiJoin`-style cardinality models and the first
    * screen an ML feature pipeline runs. Emits, per unordered column
    * pair, the EXACT integer sufficient statistics (n, Σa, Σb, Σa²,
    * Σb², Σab) with values scaled by `scale` (default 100 — exact for
    * 2-decimal money/quantity columns) and accumulated in
    * DECIMAL(18,0) products under DECIMAL(38,0) sums, so every cell
    * is bit-reproducible in any engine; Pearson r = (n·Σab − Σa·Σb) /
    * √((n·Σa²−Σa²ᵗ)(n·Σb²−Σb²ᵗ)) is one float the CONSUMER derives —
    * no float ever crosses the engine boundary. Complete-case
    * contract: rows with a null in ANY profiled column are dropped
    * before accumulation, so all pairs share one n.
    *
    * Cost: ONE aggregation pass over the scan (k + k + k(k−1)/2
    * sums in a single partial-aggregated HashAggregate — no shuffle
    * wider than one row), then a map-only explode of the single
    * result row into pair rows. */
  def corrComponents(
      df: DataFrame,
      cols: Seq[String],
      scale: Int = 100): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16,
      s"need 2..16 columns, got ${cols.size}")
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    // r14 widen A/B (guide §2.5, REJECTED): spreading the one-row-group
    // scan before the DECIMAL(38) product sums looked like the
    // stats_analyze case, but the exchange must carry the 4 decimal
    // columns (9.7 MB + the round-robin local sort) and measured 1.70 →
    // 2.18 s — the serial agg is cheaper than moving its input. Kept
    // serial; a real corpus scans with ≥ cores row groups anyway.
    val ints = df.na.drop(cols)
      .select(cols.map(c => round(col(c) * scale).cast(dec18).as(s"__$c")): _*)
    val aggs =
      cols.map(c => sum(col(s"__$c")).as(s"s_$c")) ++
      cols.map(c => sum(col(s"__$c") * col(s"__$c")).as(s"ss_$c")) ++
      pairs.map { case (a, b) =>
        sum(col(s"__$a") * col(s"__$b")).as(s"sp_${a}_$b") } :+
      count(lit(1)).as("n")
    val row = ints.agg(aggs.head, aggs.tail: _*)
    // the wide statistics travel as plain integer STRINGS: they exceed
    // int64 at realistic scale, and both engines' DECIMAL(38)→float
    // bridges are lossy — a string cell is the one representation that
    // stays exact through every comparator
    row.select(explode(array(pairs.map { case (a, b) =>
        struct(
          lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
          col(s"s_$a").cast(dec38).cast("string").as("sum_a"),
          col(s"s_$b").cast(dec38).cast("string").as("sum_b"),
          col(s"ss_$a").cast(dec38).cast("string").as("sum_aa"),
          col(s"ss_$b").cast(dec38).cast("string").as("sum_bb"),
          col(s"sp_${a}_$b").cast(dec38).cast("string").as("sum_ab"))
      }: _*)).as("p"))
      .select("p.*")
  }
}
