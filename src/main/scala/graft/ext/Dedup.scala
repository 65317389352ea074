package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Near-duplicate detection for LLM-data pipelines (SURVEY.md §2.5).
  *
  * The LSH shape is the reference's own hash-partition trick (D6,
  * `hash(key) % R` at `w7/src/worker/workerimpl.cc:254`) applied to MinHash
  * band hashes, per the MapReduce similarity-join literature (ClusterJoin
  * VLDB'14, V-SMART-Join VLDB'12 — see PAPERS.md): candidates are generated
  * by an equi-join on (band, bandHash) — a plain co-partitioned shuffle
  * join that scales linearly in corpus size — and then verified with the
  * exact similarity, so LSH parameters only affect recall/cost, never
  * output correctness (with b=64 bands of r=2 rows, the probability of
  * missing a pair at Jaccard ≥ 0.6 is (1-0.36)^64 < 1e-12).
  */
/** Handle over ONE materialized near-dup pair graph, serving every
  * downstream dedup consumer — see `Dedup.pipeline`. */
final case class DedupPipeline(
    pairs: DataFrame,
    clusters: DataFrame,
    scope: graft.util.CacheScope) {

  /** Keep one representative (the min-id member) per near-dup cluster;
    * docs in no cluster pass through. A broadcast-or-shuffle equi-join
    * against the (small: one row per CLUSTERED doc) cluster map — never
    * a re-run of the LSH front. */
  def canonical(docs: DataFrame, idCol: String): DataFrame =
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")

  /** Release everything the pipeline materialized. */
  def close(): Unit = scope.close()
}

object Dedup {

  /** Measured in-flight expansion of the gram-family kernels' widest
    * shuffle relative to Catalyst's compressed-source size estimate —
    * the `inflate` these entry points hand `ShuffleBudget.advise`.
    * Decoded text (~2-4× vs snappy parquet) explodes into per-gram
    * (hash, id, sz) rows (~10× the source text bytes), and the
    * candidate stage fans each shared prefix gram into id-pair rows
    * whose verify join ships two full shingle arrays — the round-8
    * scale A/B located the spill knee there: the 128× jaccard probe
    * (source estimate ~76 MB) needed ~256 reduce slots to shed its
    * superlinear spill (52.8 → 29.7 s), i.e. an effective ~430×
    * expansion against the 128 MiB/slot target; a round-9 same-day
    * A/B at the same 128× cell re-confirmed ~256 slots as the
    * operating point (fixed-32: 76.3 s, advised-125: 59.4 s,
    * manual-256: 51.4 s — absolute numbers shifted by host conditions,
    * ordering stable). 1024 lands the advice on it (AQE coalesces any
    * over-provision down for free; an under-provision can never be
    * raised at runtime). */
  private[graft] val gramShuffleInflate = 1024L

  /** Corpus-size-derived MinHash-LSH geometry: (rowsPerBand, bands).
    *
    * Fixed geometry goes superlinear as the corpus grows: the band
    * collision probability of a SUB-threshold pair at similarity s is
    * s^r, a constant — so candidate volume carries an n²·s^r term that
    * a 100× corpus turns into the dominant cost (measured: the 64×
    * scale probe's last octave ran 5.2× the time of 4× the data on the
    * fixed r=2 × b=64 defaults). Growing r with the corpus drives the
    * sub-threshold collision rate down geometrically; b then grows
    * with r to hold recall at the threshold.
    *
    * Schedule (deterministic in the corpus count n — callers pass the
    * count of one pre-pass, the same AQE-style probe precedent as the
    * adaptive hot-bucket salting below):
    *   r = 2 + one step per 4× beyond 100k docs (cap 6)
    *   b = smallest multiple of 16 with (1 − t^r)^b ≤ 1e-9, floor 64
    * so a true pair at the threshold is missed with probability ≤ 1e-9
    * at ANY corpus size, while the n²-coefficient s^r of a
    * half-threshold pair (s = t/2) falls 10× per r step. At n ≤ 100k
    * this reproduces the r=2 × b=64 defaults exactly. The DuckDB
    * oracles for the dedup family are the exact O(n²) Jaccard joins —
    * geometry-independent — so the schedule can never affect
    * correctness, only candidate cost. */
  def lshGeometry(n: Long, threshold: Double = 0.6): (Int, Int) = {
    val octaves =
      math.ceil(math.log(math.max(n, 1L).toDouble / 100000.0) / math.log(4.0)).toInt
    val r = math.min(6, 2 + math.max(0, octaves))
    val pBand = math.pow(threshold, r)
    val needed = math.ceil(math.log(1e-9) / math.log1p(-pBand)).toInt
    val b = math.max(64, ((needed + 15) / 16) * 16)
    (r, b)
  }

  /** Composed production pipeline: materialize the verified near-dup
    * pair graph ONCE and feed every consumer from it.
    *
    * The oracle-harness queries (`dedup_clusters`, `dedup_canonical`,
    * `corpus_select`) each stand alone by design and therefore re-run
    * the MinHash-LSH front per query; a production corpus build runs it
    * once. This entry point caches the pair graph into `scope`, folds
    * it to connected components (eager — the component loop counts per
    * round), and hands back a `DedupPipeline` whose `pairs`, `clusters`,
    * and `canonical(docs)` all read the shared materializations. At
    * cluster scale the scope-owned cache becomes a checkpoint or a
    * persisted table; the dataflow shape is identical. Call
    * `DedupPipeline.close()` (or `scope.close()`) when done.
    *
    * Shuffle budget: both stages self-advise (`ShuffleBudget`) — the
    * LSH front executes inside `nearDupPairs`' advised scope sized
    * from the corpus, the component loop inside `connectedComponents`'
    * edge-count-sized scope — so a caller on default conf gets
    * data-proportional reduce slots with no manual tuning and its
    * session conf back untouched. */
  def pipeline(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 0,
      bands: Int = 0,
      threshold: Double = 0.6,
      salts: Int = 4,
      hotThreshold: Int = 1024,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DedupPipeline = {
    val pairs = scope.cache(
      nearDupPairs(df, idCol, textCol, shingleN, numPerms, bands, threshold,
        salts, hotThreshold, scope))
    val clusters = connectedComponents(pairs, "id_a", "id_b")
    DedupPipeline(pairs, clusters, scope)
  }

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextOps.wordNgrams(text, n))

  /** Exact dedup keeping one deterministic representative per duplicate
    * group: the first row by `tieBreakCol` among rows sharing the same
    * normalized-text fingerprint. Uses the custom top-k-per-key operator
    * (k=1): bounded state per group, at most one row per group per
    * partition crosses the shuffle. */
  def exactKeepFirst(df: DataFrame, textCol: String, tieBreakCol: String): DataFrame =
    graft.plans.TopKPerKey(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), Seq((tieBreakCol, true)), 1
    ).drop("__fp")

  /** Distinct 64-bit hashes of word n-gram shingles, computed WITHOUT
    * materializing shingle strings (native expression — one pass over the
    * token array). Set operations (Jaccard) on these hash sets equal the
    * string-shingle sets up to 64-bit collisions (~1e-15 per document
    * pair). */
  def shingleHashSet(text: Column, n: Int): Column =
    graft.functions.ShingleHashSet.shingleHashes(TextOps.tokens(text), n)

  /** Base 64-bit hash of each shingle — materialize this ONCE (in its own
    * projection) before fanning out to permutations: Catalyst does not
    * share subexpressions across higher-order-function lambdas, so
    * embedding the string hash inside each permutation would re-hash
    * every shingle string numPerms times. */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => xxhash64(s))

  /** MinHash signature (array<long> of length numPerms) from precomputed
    * shingle hashes — the native codegen'd expression (one primitive
    * double loop per row, no explode, no shuffle). */
  def minHashSignature(hashesCol: Column, numPerms: Int): Column =
    graft.functions.MinHashSig.minhash(hashesCol, numPerms)

  /** Explode a signature into (band, bandHash) rows: bands of `rows`
    * consecutive signature entries, hashed together. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, bands: Int, rows: Int): DataFrame = {
    val bandArr = transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(col(sigCol), b * rows + 1, lit(rows))).as("bh")))
    df.select(col(idCol), explode(bandArr).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate pairs (idA < idB) sharing at least one LSH bucket. The
    * equi-self-join on (band, bh) shuffles both sides by bucket key —
    * the scalable path. `salts > 1` turns on ADAPTIVE hot-bucket
    * salting against giant near-identical clusters: bucket sizes are
    * counted first (ids-only rows, partial-aggregated, itself
    * skew-safe), buckets above `hotThreshold` are broadcast as a hot
    * set, and only their rows take the salted join — the A side is
    * replicated to every salt, the B side hashes to one, so a bucket of
    * m rows spreads its m²/2 pairs over `salts` join keys instead of
    * one straggler task. Cold buckets (virtually all of them) pay
    * nothing. Each unordered pair still appears exactly once per
    * bucket: of its two (A,B) orientations only one survives
    * id_a < id_b; `distinct()` dedups across bands as before. */
  def candidatePairs(
      bandsDf: DataFrame,
      idCol: String,
      salts: Int = 1,
      hotThreshold: Int = 1024): DataFrame = {
    val a0 = bandsDf.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b0 = bandsDf.select(col("band"), col("bh"), col(idCol).as("id_b"))
    // runtime skew probe, AQE-style: ONE ids-only partial-aggregated
    // job, its (tiny, bounded by totalRows/hotThreshold) result
    // collected once — a `broadcast(hot)` would ship the same rows
    // through the driver anyway — so the emptiness probe and both
    // salted-join sides share one materialization instead of
    // recomputing the bucket-count aggregate three times
    val hotRows: Array[org.apache.spark.sql.Row] =
      if (salts <= 1) Array.empty
      else bandsDf.groupBy("band", "bh")
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") > hotThreshold)
        .select(col("band"), col("bh"))
        .collect()
    val joined =
      if (salts <= 1 || hotRows.isEmpty) a0.join(b0, Seq("band", "bh"))
      else {
        val schema = org.apache.spark.sql.types.StructType(
          Seq(bandsDf.schema("band"), bandsDf.schema("bh")))
        val hot = bandsDf.sparkSession
          .createDataFrame(java.util.Arrays.asList(hotRows: _*), schema)
          .withColumn("__hot", lit(true))
        val flagA = a0.join(broadcast(hot), Seq("band", "bh"), "left")
        val flagB = b0.join(broadcast(hot), Seq("band", "bh"), "left")
        val cold = flagA.where(col("__hot").isNull).drop("__hot")
          .join(flagB.where(col("__hot").isNull).drop("__hot"), Seq("band", "bh"))
        val hotA = flagA.where(col("__hot")).drop("__hot")
          .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        val hotB = flagB.where(col("__hot")).drop("__hot")
          .withColumn("salt", pmod(xxhash64(col("id_b")), lit(salts.toLong)).cast("int"))
        cold.select("band", "bh", "id_a", "id_b")
          .unionByName(hotA.join(hotB, Seq("band", "bh", "salt"))
            .select("band", "bh", "id_a", "id_b"))
      }
    joined
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact Jaccard between two distinct-element array columns. Integer
    * set sizes and a single double division — deterministic everywhere. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Full MinHash-LSH near-dup pipeline over (id, text): returns
    * (id_a, id_b, jaccard) for pairs with exact Jaccard ≥ threshold.
    * Exact verification makes LSH a pure candidate filter.
    *
    * The (id, shingle-hash-set) relation is cached: it is consumed three
    * times (signature build + both sides of the verify join) and caching
    * it avoids re-tokenizing the corpus each time — at cluster scale this
    * materialization would be a checkpoint instead. The cache is owned by
    * `scope`: a long-lived session materializes the result and calls
    * `scope.close()` to release it; the default scope is never closed
    * (cache lives until session end / an explicit `clearCache`). */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 0,
      bands: Int = 0,
      threshold: Double = 0.6,
      salts: Int = 4,
      hotThreshold: Int = 1024,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      eager: Boolean = true): DataFrame = {
    // a half-specified override must fail loudly, not be silently
    // replaced by the count-derived geometry the caller thought they
    // pinned (same contract in Similarity.lshNearDupPairs)
    require((numPerms > 0) == (bands > 0),
      s"specify both numPerms and bands or neither, got numPerms=$numPerms bands=$bands")
    // eager (default): build AND execute under a data-proportional
    // shuffle budget (ShuffleBudget.withAdvised — the round-8 scale
    // finding turned default), returning a localCheckpoint leaf whose
    // rows are the answer. The advised conf can only govern shuffles
    // that PLAN inside the block, so execution must happen here, not
    // at the caller's first action — and the pair graph is terminal
    // output every consumer materializes anyway (CC caches it, Verify
    // writes it). eager = false keeps the lazy plan for plan-shape
    // inspection; its shuffles then run at the session setting.
    if (eager)
      graft.util.ShuffleBudget.withAdvised(df, gramShuffleInflate) {
        buildNearDupPairs(df, idCol, textCol, shingleN, numPerms, bands,
          threshold, salts, hotThreshold, scope).localCheckpoint(true)
      }
    else buildNearDupPairs(df, idCol, textCol, shingleN, numPerms, bands,
      threshold, salts, hotThreshold, scope)
  }

  private def buildNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numPerms: Int,
      bands: Int,
      threshold: Double,
      salts: Int,
      hotThreshold: Int,
      scope: graft.util.CacheScope): DataFrame = {
    // filter ABOVE the cache: a where() inside the cached plan is
    // substituted+pushed below the widen repartition and re-evaluates
    // the shingle projection serially pre-shuffle (guide §4.4's
    // duplicated-evaluation trap, expression form)
    // r13 note: Par.widen on this scan was A/B-measured a NET LOSS for
    // the dedup pipelines (family 29.2 -> 33.9 s with it): the shingle
    // projection is cheap relative to the many downstream stages, and a
    // 32-way cache multiplies every later stage's task count at tiny
    // split counts. The text/ngram kernels keep their widen (measured
    // win); the filter stays above the cache either way.
    // r14: CAPPED widen (8) on the cache-build projection: the r13 A/B
    // rejected widen-to-32 here (a full-width cache multiplies every
    // downstream stage's task count), but the UNwidened build is a
    // ~0.9 s serial single-task job per query at sf0.1 (ProfileQ) —
    // 8 ways unserializes the kernel while keeping the cached relation
    // narrow for the many later stages that re-read it.
    val sh = scope.cache(graft.util.Par.widen(df, 8)
      .select(col(idCol), shingleHashSet(col(textCol), shingleN).as("ws")))
      .where(size(col("ws")) > 0)
    // bands/numPerms = 0 → derive the geometry from the INPUT row
    // count: one O(1)-result pre-pass, the same shape as the
    // hot-bucket probe below. Counting `df` (column-pruned scan, no
    // tokenization) rather than the shingle relation matters: an
    // sh.count() pre-pass materializes the full tokenize+shingle
    // projection as its own up-front job — measured +10 s at the 64×
    // probe scale — while the log-scale schedule is indifferent to
    // the few empty-shingle docs the input count over-counts.
    val (perms, bandsN) =
      if (bands > 0 && numPerms > 0) (numPerms, bands)
      else {
        val (r, b) = lshGeometry(df.count(), threshold)
        (r * b, b)
      }
    pairsFromShingles(sh, idCol, perms, bandsN, threshold, salts, hotThreshold, scope)
  }

  /** The post-shingle core of the near-dup pipeline: MinHash → LSH
    * bands → candidate pairs → exact-Jaccard verify, over an
    * ALREADY-BUILT (id, ws) shingle relation. Split out (r14) so
    * `updateClustersFromIndex` can share ONE cached shingle pass
    * between the batch self-pairs and the cross-screen index, which
    * need different band geometries but identical shingles. */
  private def pairsFromShingles(
      sh: DataFrame,
      idCol: String,
      perms: Int,
      bandsN: Int,
      threshold: Double,
      salts: Int,
      hotThreshold: Int,
      scope: graft.util.CacheScope): DataFrame = {
    val sigs = sh.select(col(idCol), minHashSignature(col("ws"), perms).as("sig"))
    // the bands relation is consumed up to five times downstream (skew
    // probe + both join sides, each splitting into hot/cold branches) and
    // every evaluation would redo the MinHash signatures — the single
    // most expensive projection in the pipeline. Cache the (id, band,
    // bh) rows (ids-only, ~tens of bytes per row) so signatures are
    // computed exactly once; at cluster scale this materialization is
    // the pre-bucketed index a production deployment would persist.
    val bandsDf = scope.cache(lshBands(sigs, idCol, "sig", bandsN, perms / bandsN))
    val cands = candidatePairs(bandsDf, idCol, salts, hotThreshold)
    val wsA = sh.select(col(idCol).as("id_a"), col("ws").as("ws_a"))
    val wsB = sh.select(col(idCol).as("id_b"), col("ws").as("ws_b"))
    cands
      .join(wsA, "id_a")
      .join(wsB, "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("ws_a"), col("ws_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The persistable dedup index of one corpus: the cached
    * (id, shingle-hash-set) relation and the (id, band, bh) LSH band
    * relation — what a production deployment materializes at ingest
    * time and keeps from batch to batch (`nearDupPairsAgainst` rebuilds
    * it per call only because oracle queries must stand alone). */
  def dedupIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 128,
      bands: Int = 64,
      scope: graft.util.CacheScope = new graft.util.CacheScope): (DataFrame, DataFrame) = {
    // geometry is EXPLICIT here on purpose, never count-derived: an
    // index is a persisted artifact screened against OTHER indexes,
    // and two indexes only join if their band hashes were built with
    // the same (perms, bands) — a per-corpus auto derivation would
    // silently desync a 1× batch from a 64× corpus and the band join
    // would find nothing. `nearDupPairsAgainst` derives ONE geometry
    // (from the corpus side) and pins it on both indexes; a production
    // deployment versions the geometry with the index.
    val sh = scope.cache(graft.util.Par.widen(docs, 8) // capped widen: buildNearDupPairs rationale
      .select(col(idCol), shingleHashSet(col(textCol), shingleN).as("ws")))
      .where(size(col("ws")) > 0)
    val bandsDf = scope.cache(lshBands(
      sh.select(col(idCol), minHashSignature(col("ws"), numPerms).as("sig")),
      idCol, "sig", bands, numPerms / bands))
    (sh, bandsDf)
  }

  /** Screen a new batch's index against an existing corpus's index:
    * candidates from shared LSH buckets, exact Jaccard verify. The
    * batch side is small, so its bands broadcast and the corpus index
    * is STREAMED map-side — no shuffle of the existing corpus, per
    * ingest cost = one scan of the index + work proportional to the
    * batch's bucket occupancy. */
  def screenAgainstIndex(
      newIndex: (DataFrame, DataFrame),
      oldIndex: (DataFrame, DataFrame),
      idCol: String,
      threshold: Double = 0.6): DataFrame = {
    val (shNew, bandsNew) = newIndex
    val (shOld, bandsOld) = oldIndex
    val cands = broadcast(bandsNew.withColumnRenamed(idCol, "id_new"))
      .join(bandsOld.withColumnRenamed(idCol, "id_old"), Seq("band", "bh"))
      .select("id_new", "id_old")
      .distinct()
    cands
      .join(broadcast(shNew.select(col(idCol).as("id_new"), col("ws").as("ws_n"))), "id_new")
      .join(shOld.select(col(idCol).as("id_old"), col("ws").as("ws_o")), "id_old")
      .select(col("id_new"), col("id_old"),
        jaccard(col("ws_n"), col("ws_o")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Near-dup pairs BETWEEN two corpora — the incremental-ingest shape:
    * a new batch is screened against the existing corpus WITHOUT the
    * full self-join a from-scratch `nearDupPairs(old ∪ new)` would pay.
    * Returns (id_new, id_old, jaccard) with exact Jaccard ≥ threshold.
    *
    * Cost at 100 TB: the existing corpus contributes only its
    * (id, band, bh) index rows — the pre-bucketed index a production
    * deployment keeps materialized from ingest to ingest — and the
    * equi-join on (band, bh) touches only buckets the NEW batch
    * occupies, so each day's work scales with the batch, not the
    * corpus. Candidates cross corpora by construction (no id ordering
    * needed); exact verification on the shingle sets decides, as
    * everywhere in the dedup family. */
  def nearDupPairsAgainst(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 0,
      bands: Int = 0,
      threshold: Double = 0.6,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    // ONE geometry decision for both indexes (band hashes must line up
    // across the join), derived from the EXISTING corpus — the side
    // whose size dictates candidate volume; the new batch is small
    require((numPerms > 0) == (bands > 0),
      s"specify both numPerms and bands or neither, got numPerms=$numPerms bands=$bands")
    val (perms, bandsN) =
      if (bands > 0 && numPerms > 0) (numPerms, bands)
      else {
        val (r, b) = lshGeometry(oldDocs.count(), threshold)
        (r * b, b)
      }
    screenAgainstIndex(
      dedupIndex(newDocs, idCol, textCol, shingleN, perms, bandsN, scope),
      dedupIndex(oldDocs, idCol, textCol, shingleN, perms, bandsN, scope),
      idCol, threshold)
  }

  /** Containment pairs (id_a, id_b, containment = |A∩B|/|A| ≥ t, a≠b)
    * — the ASYMMETRIC dedup signal Jaccard misses: a document quoted
    * wholesale inside a much larger one has high containment but low
    * Jaccard, so MinHash-LSH (which approximates Jaccard) structurally
    * cannot index it. Prefix filtering (the PPJoin family) can, and
    * EXACTLY: order each doc's shingles by global rarity; if B holds
    * ≥ t·|A| of A's shingles it must hold one of A's
    * ⌊(1−t)·|A|⌋+1 rarest — so joining only those prefix shingles
    * against the corpus posting lists yields a guaranteed superset of
    * true pairs, and exact verification equals ground truth.
    *
    * Scale shape: posting lists are touched only for shingles in some
    * prefix (the rare end of the frequency spectrum — short lists by
    * construction; a hot shingle reaches a prefix only for docs made
    * of nothing but boilerplate). The per-doc rarity ranking window is
    * bounded by doc size. Everything else is hash joins and one
    * distinct on ids. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.9,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      eager: Boolean = true): DataFrame = {
    // same advised-eager contract as nearDupPairs (see there): the
    // prefix/posting/verify shuffles execute under a data-proportional
    // budget inside this call
    if (eager)
      return graft.util.ShuffleBudget.withAdvised(docs, gramShuffleInflate) {
        containmentPairs(docs, idCol, textCol, shingleN, threshold, scope,
          eager = false).localCheckpoint(true)
      }
    val sh = scope.cache(graft.util.Par.widen(docs, 8) // capped widen: buildNearDupPairs rationale
      .select(col(idCol), shingleHashSet(col(textCol), shingleN).as("ws")))
      .where(size(col("ws")) > 0)
    val posts = sh.select(col(idCol).as("id_b"), explode(col("ws")).as("h"))
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    // the bound is ⌊(1−t)·|A|⌋+1, but (1−t) in floating point can
    // round DOWN across an integer boundary (0.0999…·30 → ⌊2.999…⌋
    // = 2) and silently break the no-false-negative guarantee; ceil
    // +1 is ≥ the exact bound for every rounding direction and only
    // admits a few extra candidates. Rarity ranking via hash agg +
    // per-row bounded sort, not a row_number window — the window form
    // externally sorts the whole gram relation and goes superlinear on
    // spill (measured on the jaccardPairs twin: 22 s → 230 s at 64×)
    val prefix = sh
      .select(col(idCol).as("id_a"), size(col("ws")).as("sz"), explode(col("ws")).as("h"))
      .join(dfreq, "h")
      .groupBy(col("id_a"), col("sz"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dh"))
      .select(col("id_a"),
        explode(slice(array_sort(col("dh")), lit(1),
          (ceil((lit(1.0) - threshold) * col("sz")) + 1).cast("int"))).as("dh"))
      .select(col("id_a"), col("dh.h").as("h"))
    val cands = prefix.join(posts, "h")
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(sh.select(col(idCol).as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("ws").as("ws_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(col("ws_a"))).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** EXACT n-gram-Jaccard threshold self-join (id_a < id_b, jaccard ≥ t)
    * — the deterministic complement of `nearDupPairs`: no MinHash, no
    * probabilistic miss floor; the result IS ground truth, not an
    * LSH-candidate set verified against it. The price of exactness is
    * paid with the AllPairs/PPJoin prefix filter instead of O(n²):
    *
    *   - J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|) ≥ ⌈t·|X|⌉
    *     for each side X, so under one global shingle order (rarity,
    *     then hash) the ⌊(1−t)·|X|⌋+1 rarest shingles of BOTH sides
    *     must intersect — joining prefix-to-prefix (not prefix to full
    *     posting lists, the containment variant's shape) yields a
    *     guaranteed candidate superset.
    *   - Length filter: min ≥ ⌈t·max⌉ is implied, pruned with
    *     floor(t·max) (floor absorbs upward float rounding — errs only
    *     toward admitting a candidate, never dropping a true pair).
    *   - Exact verify on the cached full hash sets equals ground truth.
    *
    * Scale shape: the prefix relation is a (1−t) fraction of the gram
    * universe biased to RARE grams (short posting lists), the
    * prefix-prefix equi-join shuffles ids+sizes only, and the verify
    * join is candidate-sized. Reference twin: the same "shuffle a
    * derived key, verify exactly" discipline as the word-count
    * pipeline's hash partition (`w7/src/worker/worker.h:114-160`). */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      eager: Boolean = true): DataFrame = {
    // same advised-eager contract as nearDupPairs (see there): this is
    // the kernel whose 128× probe cell located the spill knee the
    // advice exists to remove (52.8 → 29.7 s at data-proportional
    // reduce slots, round-8 A/B)
    if (eager)
      return graft.util.ShuffleBudget.withAdvised(docs, gramShuffleInflate) {
        jaccardPairs(docs, idCol, textCol, shingleN, threshold, scope,
          eager = false).localCheckpoint(true)
      }
    val sh = scope.cache(graft.util.Par.widen(docs, 8) // capped widen: buildNearDupPairs rationale
      .select(col(idCol), shingleHashSet(col(textCol), shingleN).as("ws")))
      .where(size(col("ws")) > 0)
    // Prefix EXTENSION (PPJoin-family positional extension, Δ = 3): a
    // prefix of ⌈(1−t)·sz⌉+Δ rarest grams guarantees a true pair shares
    // ≥ Δ prefix grams, not just one — pigeonhole on the Δ-th smallest
    // shared gram s_Δ: at least α−Δ shared grams rank after it in each
    // doc, so rank(s_Δ) ≤ sz − α + Δ in both. The min-match filter this
    // buys (m ≥ Δ, clamped by floor(t·max) for tiny docs where the
    // required overlap itself is < Δ) is what makes t = 0.5 tractable:
    // measured at the 16× probe factor, 1-shared-gram candidates were
    // 5.1M rows for 4 096 true pairs, and every candidate row ships two
    // multi-KB shingle arrays through the verify join — the whole
    // kernel cost was the verify shuffle.
    val delta = 3
    val posts = sh.select(col(idCol).as("id"), size(col("ws")).as("sz"),
      explode(col("ws")).as("h"))
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    // ceil((1−t)·sz)+Δ ≥ the exact ⌊(1−t)·sz⌋+Δ bound for every float
    // rounding direction (same guard as containmentPairs). The per-doc
    // rarity ranking is a hash agg + per-ROW sort of that doc's (df, h)
    // list — bounded by doc size — NOT a row_number window: the window
    // form externally sorts the whole gram relation inside the fixed
    // partition count and went 10× superlinear in the probe's last
    // octave (22 s → 230 s at 64×) purely on sort spill
    val prefix = posts
      .join(dfreq, "h")
      .groupBy(col("id"), col("sz"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dh"))
      .select(col("id"), col("sz"),
        explode(slice(array_sort(col("dh")), lit(1),
          (ceil((lit(1.0) - threshold) * col("sz")) + delta).cast("int"))).as("dh"))
      .select(col("id"), col("sz"), col("dh.h").as("h"))
    // candidate = pair passing the length filter with ≥ the required
    // number of shared EXTENDED-prefix grams; the count aggregation
    // replaces the bare distinct at identical shuffle cost (ids-only
    // rows), and only survivors touch the full shingle arrays
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            floor(lit(threshold) * greatest(col("a.sz"), col("b.sz"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("m"))
      .where(col("m") >= greatest(lit(1), least(lit(delta),
        floor(lit(threshold) * greatest(col("sz_a"), col("sz_b"))))))
      .select("id_a", "id_b")
    cands
      .join(sh.select(col(idCol).as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("ws").as("ws_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("ws_a"), col("ws_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair graph: every document
    * that appears in at least one pair gets the minimum doc id of its
    * component as `cluster_id` — the step that turns pairwise matches
    * into "keep one representative per duplicate cluster".
    *
    * Pregel-style iterative min-label propagation: each round every
    * node takes the min of its own label and its neighbors' labels;
    * rounds ≈ component diameter (near-dup clusters are shallow — a
    * hub document links its variants, so single digits in practice).
    * Each round is ONE Spark job: the new labels carry a per-row change
    * flag, the relation is localCheckpoint'ed lazily, and the change
    * `count` both materializes the checkpoint (truncating the plan
    * lineage iterative DataFrames otherwise accumulate) and returns the
    * loop condition — no second join+count pass over the round's
    * output. No driver data movement beyond the single count. Throws if
    * `maxIters` rounds don't converge rather than returning a partial
    * labeling. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 20): DataFrame = {
    // materialize the ids-only pair projection FIRST: the symmetrize
    // union scans `pairs` twice, and an uncached pairs plan (e.g. the
    // whole MinHash-LSH pipeline) would be executed once per branch —
    // measured as a clean 2× on the 16× scale probe
    val p0 = pairs.select(col(aCol).as("a"), col(bCol).as("b")).cache()
    val nEdges = p0.count()
    // Fast path: a pair graph within `Bounded.Edges` (capped by the one
    // `graft.local.max` override) is folded with one local union-find
    // instead of the iterative label-propagation loop, which costs ~4
    // sequential Spark jobs PER ROUND × diameter rounds, all fixed
    // scheduling latency at small edge counts. Labels are identical BY
    // CONSTRUCTION: both compute min(component id) per node over the
    // same edge set (min-label fixpoint ≡ union-find + per-root min).
    // Only int64 ids (every pair graph in the engine) take it; past the
    // bound the distributed loop runs exactly as before.
    val ccLocalMax = graft.util.Bounded.limit(graft.util.Bounded.Edges)
    val longIds = Seq("a", "b").forall(c =>
      p0.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (nEdges <= ccLocalMax && longIds) {
      val parent = new java.util.HashMap[Long, Long](16 * 1024)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) { // path halving
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      // one collect job (bounded by ccLocalMax edges), not
      // toLocalIterator — which schedules one job PER PARTITION and
      // would reintroduce the very job chain this path removes
      val rows = p0.collect()
      var ri = 0
      while (ri < rows.length) {
        val r = rows(ri); ri += 1
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      p0.unpersist()
      // union-by-min: every union attached the larger root under the
      // smaller, so each tree's root IS its component's min id
      val out = new Array[org.apache.spark.sql.Row](parent.size())
      var i = 0
      val keys = parent.keySet().iterator()
      while (keys.hasNext) {
        val id = keys.next()
        out(i) = org.apache.spark.sql.Row(id, find(id))
        i += 1
      }
      return graft.util.Bounded.relation(pairs.sparkSession, out.toSeq,
        Seq("id", "cluster_id").map(_ -> org.apache.spark.sql.types.LongType))
    }
    // the loop's per-round join+agg shuffles run under a shuffle budget
    // proportional to the (exact, already-materialized-by-the-count)
    // edge volume — ~128 B per pair covers the symmetrized (src, dst,
    // lbl) rows plus sort overhead. A count-derived budget beats
    // advise(pairs) here: a lazy pairs plan's Catalyst size estimate is
    // join-product garbage, while this count is free (the cache has to
    // materialize before the loop anyway).
    graft.util.ShuffleBudget.withAdvisedBytes(
      pairs.sparkSession, nEdges * 128L) {
    val edges = p0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p0.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .cache()
    // init = min(id, min(neighbor)): the same single shuffle a distinct
    // would cost, but with round 1's propagation folded in
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nb"))
      .select(col("id"), least(col("id"), col("nb")).as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val prop = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src").as("pid")).agg(min(col("lbl")).as("nlbl"))
      // lazy checkpoint: the count below runs the round's single job,
      // materializing every partition (the filter sits ABOVE the
      // checkpointed scan, so the full relation is cached) and reading
      // the change tally off the same pass
      val next = labels.join(prop, col("id") === col("pid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl").isNotNull && col("nlbl") < col("lbl")).as("__chg"))
        .localCheckpoint(false)
      changed = next.where(col("__chg")).count()
      labels = next.select("id", "lbl")
      i += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds — raise maxIters")
    p0.unpersist()
    edges.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
    }
  }

  /** Soft dedup: duplicate-aware sampling weights instead of hard drops.
    * Data-constrained training runs keep repeated content but DOWN-WEIGHT
    * it so each near-dup cluster contributes one document's worth of
    * sampling mass in total (the count-based repetition penalty of
    * data-constrained scaling studies — Muennighoff et al. 2023 keep
    * repeats at decaying value; this is the cluster-mass-preserving
    * integer form). Every document gets `weight_permille = 1000 div
    * cluster_size` (integer, engine-reproducible; singletons 1000), so a
    * k-way duplicated doc samples at 1/k rate and the corpus'
    * deduplicated token distribution is preserved in expectation without
    * deleting anything.
    *
    * Cost on top of the shared LSH→CC pipeline: one count agg over the
    * component labels (≤ |duplicated docs| rows) + one key join back to
    * the corpus ids — the labeled relation is at most the duplicated
    * subset, so AQE broadcasts it when duplication is rare and the join
    * degrades to a plain shuffle join when it is not. Nothing here is
    * ever wider than the CC labels themselves. */
  def softDedupWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs, "id_a", "id_b")
    val sized = cc.join(
        cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
      .select(col("id").as(idCol), col("cluster_size"))
    docs.select(col(idCol))
      .join(sized, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_permille", expr("1000 div cluster_size"))
  }

  /** Leakage-safe train/validation/test split: the split decision
    * hashes each doc's near-dup CLUSTER canonical (the CC min-id
    * label), not the doc itself — so two near-duplicate documents can
    * NEVER land on opposite sides of the train/test line. A doc-level
    * hash split silently puts ~`2·p·(1−p)` of every near-dup pair
    * across the boundary, which is exactly the eval-contamination mode
    * `decontaminate_*` screens for AFTER the fact; splitting by
    * canonical prevents it at assignment time. Singletons hash their
    * own id, so off-cluster the law reduces to the plain
    * `split_assign` md5-range rule (same engine-independent 60-bit
    * hash, same permille thresholds).
    *
    * Cost on top of the shared LSH→CC pipeline: one sliver-sized left
    * join (cluster labels exist only for duplicated docs) and a
    * map-only hash — the split itself adds no corpus-scale shuffle. */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6,
      trainPct: Int = 80,
      validationPct: Int = 10): DataFrame = {
    require(trainPct > 0 && validationPct >= 0 && trainPct + validationPct < 100,
      s"need 0 < train, 0 <= validation, train+validation < 100; got $trainPct/$validationPct")
    val pairs = nearDupPairs(docs, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cl = connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as(idCol), col("cluster_id"))
    val canon = docs.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("canon"))
    val h = pmod(graft.ext.Sampling.md5Hash(col("canon")), lit(100L))
    canon.select(col(idCol), col("canon"),
      when(h < trainPct, lit("train"))
        .when(h < trainPct + validationPct, lit("validation"))
        .otherwise(lit("test")).as("split"))
  }

  /** Quality-aware canonicalization: `dedup_canonical` keeps the MIN-ID
    * member of each near-dup cluster (deterministic but arbitrary);
    * production pipelines keep the BEST copy — near-dup clusters often
    * mix a clean original with truncated/boilerplate-wrapped variants,
    * and min-id throws the original away whenever a mangled copy got
    * the smaller id. Keeper = argmax of the integer micro quality
    * score (`TextAnalysis.qualityMicroScores` — int64 throughout, so
    * the choice replays externally), ties to the smaller id via
    * lexicographic struct-max. Every doc maps to its cluster's keeper;
    * docs without a near-dup map to themselves.
    *
    * Cost on top of LSH→CC: scoring runs ONLY on the clustered sliver
    * (a semi-join against the CC ids prunes the corpus first — at
    * 100 TB the score pass touches |duplicated docs|, not the corpus),
    * then one cluster-keyed argmax agg and two key joins back. */
  def canonicalBestQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs, "id_a", "id_b")
    val dupDocs = docs.join(cc.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    val scores = TextAnalysis.qualityMicroScores(
        dupDocs.withColumn("__src", lit("_")), idCol, textCol, "__src")
      .select(col(idCol).as("__sid"), col("q_micro"))
    val keeper = cc.join(scores, col("id") === col("__sid"))
      .groupBy("cluster_id")
      .agg(max(struct(col("q_micro"), (-col("id")).as("ni"))).as("__m"))
      .select(col("cluster_id"), (-col("__m.ni")).as("canonical_id"))
    docs.select(col(idCol))
      .join(cc.select(col("id").as(idCol), col("cluster_id")), Seq(idCol), "left")
      .join(keeper, Seq("cluster_id"), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"))
  }

  /** Similarity-locality corpus ordering: a dense total order (`ord`
    * 1..n) over the corpus in which near-duplicate and same-template
    * documents sit ADJACENT — sorting by the 60-bit SimHash fingerprint
    * places small-Hamming neighbors into the same high-bit prefix
    * range, then id breaks ties. Writing shards in this order is the
    * standard storage trick for crawl-shaped corpora: general-purpose
    * compressors only exploit redundancy inside their window, so
    * clustering look-alikes buys the cross-document ratio a random
    * (or crawl-order) layout leaves on the table. Token-less documents
    * fingerprint to 0 and sort first, deterministically.
    *
    * Scale shape: the fingerprint is one map-only pass (the codegen'd
    * `SimHash60` over md5 word hashes); the order comes from
    * `GlobalSort.globalRank` — ONE range shuffle on sampled (sh, id)
    * boundaries, per-partition sort, and a metadata-only offset job —
    * never an Exchange SinglePartition. */
  def localityOrder(
      df: DataFrame,
      idCol: String,
      textCol: String,
      parts: Int = 0): DataFrame = {
    val p = if (parts > 0) parts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df.select(col(idCol),
      graft.functions.SimHash60.simhash60(
        wordHashes(graft.ops.TextOps.tokens(col(textCol)))).as("sh"))
    graft.ops.GlobalSort.globalRank(keyed, Seq(col("sh"), col(idCol)), p, "ord")
  }

  /** md5-based 60-bit word hashes (md5 so the fingerprint is reproducible
    * in any engine; 60 bits = 15 hex chars keeps the value inside a
    * signed long). Materialize once before `simHashFromHashes` — same
    * no-CSE-across-lambdas rule as `shingleHashes`. */
  def wordHashes(tokens: Column): Column =
    transform(tokens, w => conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long"))

  /** 60-bit SimHash from precomputed word hashes: per bit, majority vote
    * of ±1 over all words. */
  def simHashFromHashes(hashes: Column): Column = {
    val bitScore = (b: Int) =>
      aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
    (0 until 60).map(b => when(bitScore(b) > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
  }

  /** SimHash near-dup pairs: candidates share one of `maxHamming + 1`
    * bit chunks (pigeonhole: ≤ maxHamming differing bits cannot touch
    * every chunk, so at least one chunk is equal — the index is COMPLETE
    * for the given threshold), verified with exact hamming distance.
    * Token-less documents are dropped (no signal, and an all-zero
    * simhash would pair every empty doc with every other).
    *
    * The chunk index runs over DISTINCT simhash values, not documents:
    * boilerplate-heavy corpora collapse exact-duplicate simhashes into
    * one representative before the join, so a million identical docs
    * contribute one row per chunk instead of a million (the classic
    * chunk-bucket explosion). Document pairs are re-expanded afterwards
    * — within-value via a self-join on the full 60-bit value, across
    * values via the verified value pairs. Output size is inherently
    * all-pairs; the collapse removes the quadratic JOIN work, not the
    * quadratic answer a duplicate-saturated corpus genuinely has. */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame =
    simHashPairsFromHashes(
      df.select(col(idCol), wordHashes(TextOps.tokens(col(textCol))).as("__fh")),
      idCol, "__fh", maxHamming, scope)

  /** The chunk-index + verify core of `simHashPairs` over ANY
    * 60-bit-feature-hash array relation — text words are one feature
    * family (`wordHashes`), payload byte grams another
    * (`Multimodal.payloadNearDupPairs`). Rows with empty feature
    * arrays are dropped (no signal; an all-zero simhash would pair
    * every empty row with every other). */
  def simHashPairsFromHashes(
      withHashes: DataFrame,
      idCol: String,
      hashesCol: String,
      maxHamming: Int = 3,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val nChunks = maxHamming + 1
    require(nChunks <= 60, s"maxHamming $maxHamming leaves chunks with no bits")
    // consumed three times (value index + both member expansions):
    // cache the (id, simhash) relation — a checkpoint at cluster scale;
    // lifecycle owned by `scope` (see nearDupPairs)
    // size filter ABOVE the cache (not inside it): inside, it would be
    // substituted and pushed below a caller's widen repartition,
    // re-evaluating the (often expensive) hashes expression serially
    val hashed = scope.cache(withHashes
      .select(col(idCol), size(col(hashesCol)).as("__nh"),
        graft.functions.SimHash60.simhash60(col(hashesCol)).as("sh")))
      .where(col("__nh") > 0).select(col(idCol), col("sh"))
    val values = hashed.select("sh").distinct()
    // chunk c covers bits [c*60/nChunks, (c+1)*60/nChunks)
    val bounds = (0 to nChunks).map(c => c * 60 / nChunks)
    val chunks = values.select(
      col("sh"),
      explode(array((0 until nChunks).map { c =>
        val lo = bounds(c)
        val width = bounds(c + 1) - lo
        val mask = if (width >= 63) -1L else (1L << width) - 1
        struct(lit(c).as("chunk"), shiftright(col("sh"), lo).bitwiseAND(lit(mask)).as("ch"))
      }: _*)).as("cc"))
      .select(col("sh"), col("cc.chunk").as("chunk"), col("cc.ch").as("ch"))
    val va = chunks.select(col("chunk"), col("ch"), col("sh").as("sh_a"))
    val vb = chunks.select(col("chunk"), col("ch"), col("sh").as("sh_b"))
    val valuePairs = va.join(vb, Seq("chunk", "ch"))
      .where(col("sh_a") < col("sh_b"))
      .select("sh_a", "sh_b")
      .distinct()
      .where(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
    val ma = hashed.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val mb = hashed.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    // within-value pairs (hamming 0) + across-value pairs via the
    // verified value pairs; least/greatest because value order is
    // uncorrelated with id order
    val within = ma
      .join(hashed.select(col(idCol).as("id_b"), col("sh").as("sh_a")), "sh_a")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_a").as("sh_b"))
    val across = valuePairs
      .join(ma, "sh_a")
      .join(mb, "sh_b")
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("sh_a"), col("sh_b"))
    within.union(across)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  /** Winnowing-fingerprint pair detection — the pair-join consumer of
    * `TextAnalysis.winnowFingerprints` (MOSS, Schleimer et al. 2003):
    * documents sharing ≥ `minSharePermille`‰ of the smaller side's
    * distinct fingerprint hashes. Position-aware complement to
    * MinHash (set resemblance) and SimHash (profile distance): a
    * shared fingerprint certifies a shared LOCAL span, so this family
    * finds partial copies that whole-document signatures dilute away.
    *
    * Scale shape: fingerprints are already a 2/(w+1) winnow of the
    * gram stream; the candidate join is an equi-join on the 40-bit
    * hash with document frequency capped at `maxDf` (boilerplate
    * fingerprints shared by more than `maxDf` docs are dropped BEFORE
    * the join — the same hot-bucket discipline as `nearDupPairs`, so
    * per-hash fanout is ≤ maxDf² and no skewed key can quadratic the
    * stage). Only (id, h) pairs ever shuffle — ids and 8-byte
    * hashes, never text. The overlap denominator stays the FULL
    * per-doc fingerprint count (computed before the df-cap filter),
    * so the cap can only lose candidates, never inflate a score. */
  /** Default winnow-pair knobs, shared with the oracle generator. */
  private[graft] val winnowMaxDf = 64
  private[graft] val winnowMinSharePermille = 500

  /** Incremental CLUSTER maintenance — fold a new batch of documents
    * into an existing corpus's near-dup cluster labels without
    * re-running the corpus-wide LSH self-join or connected components.
    * Completes the round-9 incremental family: `dedup_incremental`
    * screens a batch for PAIRS; this folds those pairs into the
    * LABELING, the artifact a production dedup pipeline actually keeps
    * from ingest to ingest.
    *
    * Inputs: the batch, the existing corpus, and `oldLabels` — the
    * (id, cluster_id) output of `connectedComponents` over the
    * existing corpus's pair graph at the SAME (shingleN, threshold).
    * Output: the (id, cluster_id) labeling of corpus ∪ batch, equal to
    * a from-scratch `connectedComponents(nearDupPairs(old ∪ new))` —
    * the union pair graph partitions exactly into old-old pairs
    * (already folded into `oldLabels`), new-new pairs, and cross
    * pairs, so connectivity over a REDUCED graph whose nodes are batch
    * ids plus one super-node per touched old component (its label —
    * which IS the component's min member id, so the reduced min equals
    * the true merged min) reproduces the full answer. A batch doc
    * bridging two old components merges them; a batch doc matching a
    * previously-unlabeled old doc labels both; an all-novel batch
    * leaves the old labels byte-identical.
    *
    * Cost per ingest: the batch self-join (batch-sized geometry), the
    * cross screen (the corpus contributes only its band index — the
    * `nearDupPairsAgainst` discipline), CC over the reduced sliver
    * (|batch ∪ touched components| nodes, never corpus-scale), one
    * broadcast remap join over the old labels (the remap table is
    * bounded by the touched components — ingest-sliver-sized by
    * contract; a backfill-scale batch belongs on the from-scratch
    * path), and nothing else. The old CORPUS is scanned once to build
    * its index; a deployment keeps that index materialized
    * (`dedupIndex`) and skips even that scan. */
  def updateClusters(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      oldLabels: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    // one geometry pinned from the corpus side, exactly as
    // nearDupPairsAgainst derives it; the index is rebuilt here only so
    // the oracle query stands alone — a deployment passes its persisted
    // index to updateClustersFromIndex directly
    val (r, b) = lshGeometry(oldDocs.count(), threshold)
    val scope = new graft.util.CacheScope
    val res = updateClustersFromIndex(newDocs,
      dedupIndex(oldDocs, idCol, textCol, shingleN, r * b, b, scope),
      oldLabels, idCol, textCol, shingleN, r * b, b, threshold)
    scope.close()
    res
  }

  /** The fold-in core of `updateClusters`, taking the existing
    * corpus's PERSISTED band index (`dedupIndex`, pinned geometry)
    * instead of its documents — the from-ingest-to-ingest shape where
    * per-batch cost is the batch's bucket matches plus one ids-only
    * pass over the label store. `deltaOnly = true` emits only the
    * CHANGED rows (batch docs, newly-labeled old docs, and members of
    * merged components) — the upsert a production label store applies;
    * the default emits the complete new labeling (what the oracle
    * compares). */
  def updateClustersFromIndex(
      newDocs: DataFrame,
      oldIndex: (DataFrame, DataFrame),
      oldLabels: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numPerms: Int,
      bands: Int,
      threshold: Double,
      deltaOnly: Boolean = false): DataFrame = {
    // r14 (guide §1.2, don't compute things twice): ONE shingle pass +
    // cache serves BOTH the batch self-pairs and the cross-screen
    // index — the r13 formulation tokenized+shingled the batch twice
    // (once inside nearDupPairs, once inside dedupIndex) under two
    // disjoint cache scopes. The two band relations stay separate on
    // purpose: self-pairs use the batch-count-derived geometry (the
    // nearDupPairs contract), the cross screen uses the PINNED corpus
    // geometry (band hashes must line up across the index join).
    val scope = new graft.util.CacheScope
    val sh = scope.cache(graft.util.Par.widen(newDocs, 8) // capped widen: buildNearDupPairs rationale
      .select(col(idCol), shingleHashSet(col(textCol), shingleN).as("ws")))
      .where(size(col("ws")) > 0)
    val (selfR, selfB) = lshGeometry(newDocs.count(), threshold)
    val newPairs = graft.util.ShuffleBudget.withAdvised(newDocs, gramShuffleInflate) {
      pairsFromShingles(sh, idCol, selfR * selfB, selfB, threshold,
        salts = 4, hotThreshold = 1024, scope).localCheckpoint(true)
    }.select(col("id_a").as("a"), col("id_b").as("b"))
    val bandsIdx = scope.cache(lshBands(
      sh.select(col(idCol), minHashSignature(col("ws"), numPerms).as("sig")),
      idCol, "sig", bands, numPerms / bands))
    val cross = screenAgainstIndex((sh, bandsIdx), oldIndex, idCol, threshold)
      .select(col("id_new"), col("id_old"))
      .localCheckpoint(true)
    scope.close()
    // super-node per touched old endpoint: its component label if it
    // has one, else itself (an old doc that was in no pair until now)
    val touched = cross.select(col("id_old")).distinct()
      .join(oldLabels.select(col("id").as("__oid"), col("cluster_id").as("__olbl")),
        col("id_old") === col("__oid"), "left")
      .select(col("id_old"),
        coalesce(col("__olbl"), col("id_old")).as("node"),
        col("__olbl").isNotNull.as("was_labeled"))
      .localCheckpoint(true)
    val reduced = newPairs.unionByName(
      cross.join(touched, "id_old")
        .select(col("id_new").as("a"), col("node").as("b")))
    val comp = connectedComponents(reduced, "a", "b")
    val labelNodes = touched.where(col("was_labeled"))
      .select(col("node")).distinct()
    // members of touched old components take the merged label; every
    // untouched component passes through unchanged (or is omitted
    // entirely in delta mode — the label store already holds it)
    val remap = comp.join(labelNodes, comp("id") === labelNodes("node"))
      .select(col("node"), col("cluster_id").as("__nlbl"))
      // a touched component whose label survives (the batch doc joined
      // with a LARGER id) needs no remap row: full mode falls back to
      // the coalesce, delta mode correctly omits its members
      .where(col("node") =!= col("__nlbl"))
    val oldRelabeled =
      if (deltaOnly)
        oldLabels.join(broadcast(remap), oldLabels("cluster_id") === remap("node"))
          .select(oldLabels("id"), col("__nlbl").as("cluster_id"))
      else
        oldLabels.join(broadcast(remap), oldLabels("cluster_id") === remap("node"), "left")
          .select(oldLabels("id"),
            coalesce(col("__nlbl"), oldLabels("cluster_id")).as("cluster_id"))
    // batch docs and previously-unlabeled old docs take their reduced
    // component label directly (disjoint from oldLabels ids)
    val direct = comp
      .join(broadcast(labelNodes), comp("id") === labelNodes("node"), "left_anti")
    oldRelabeled.unionByName(direct.select(col("id"), col("cluster_id")))
  }

  def winnowPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = TextAnalysis.winnowK,
      w: Int = TextAnalysis.winnowW,
      maxDf: Int = winnowMaxDf,
      minSharePermille: Int = winnowMinSharePermille,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val fp = scope.cache(
      TextAnalysis.winnowFingerprints(docs, idCol, textCol, k, w)
        .select(col(idCol).as("id"), col("h")).distinct())
    val sizes = fp.groupBy("id").agg(count(lit(1)).as("nfp"))
    val shareable = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select("h")
    val keyed = fp.join(shareable, "h")
    val pairs = keyed.select(col("h"), col("id").as("a"))
      .join(keyed.select(col("h"), col("id").as("b")), "h")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("id").as("a"), col("nfp").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("nfp").as("nb")), "b")
      .withColumn("share_permille", expr("(1000 * shared) div least(na, nb)"))
      .where(col("share_permille") >= minSharePermille)
      .select(col("a"), col("b"), col("shared"), col("share_permille"))
  }
}
