package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe bench for the dedup/ANN kernels: synthetically inflates
  * the documents/embeddings tables N× and measures how the LSH-shaped
  * paths grow. At sf0.1 every plan is buried under ~1 s of stage
  * overhead; this is where the adaptive salting, distinct-value SimHash
  * index, and banded joins are actually measured.
  *
  * Inflation is deterministic and — crucially — similarity-preserving
  * WITHIN a copy but similarity-destroying ACROSS copies, so the true
  * answer grows linearly (f × base pairs), like a corpus that genuinely
  * grew, not a duplicate-bomb:
  *  - documents: copy k applies an affine letter cipher i → a·i + b
  *    (mod 26) with a coprime to 26 — a bijection on letters, so each
  *    copy's internal shingle structure (and thus its near-dup pairs)
  *    is EXACTLY preserved, while cross-copy token sets are disjoint
  *    (two distinct affine maps agree on at most two letters). Copies
  *    0–25 are plain Caesar rotations (a = 1); the multiplier kicks in
  *    beyond 26 so factors up to 312 stay pairwise dissimilar.
  *  - embeddings: copy k sign-flips coordinates by a k-seeded
  *    deterministic ±1 pattern, which preserves every within-copy dot
  *    product exactly and sign-randomizes cross-copy dots to ≈ 0.
  *
  * Output: one JSON line
  *   {"metric":"scale_probe","sf":...,"factors":[1,4,16],
  *    "queries":{name:{"1":sec,"4":sec,...}},"rows":{...}}
  * The quadratic exact kernel (emb_neardup_pairs) is capped at
  * SPARK_GRAFT_QUAD_MAX (default 4) — it is O(n²) by definition and
  * only benched to show the contrast with the LSH paths.
  */
object BenchScale {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  // multiplicative residues coprime to 26 — the `a` of the affine cipher
  private val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** f copies of documents; copy k id-offset and affine-ciphered:
    * letter i → units(k/26 mod 12)·i + (k mod 26) (mod 26). Copy 0 is
    * the identity; copies < 26 are pure rotations (bit-compatible with
    * the earlier rotation-only scheme); 312 distinct ciphers total. */
  def inflateDocs(docs: DataFrame, f: Int): DataFrame = {
    require(f <= 312, s"inflateDocs supports at most 312 pairwise-distinct copies, got $f")
    (0 until f).map { k =>
      val a = units((k / 26) % units.length)
      val b = k % 26
      val to = alpha.indices.map(i => alpha((a * i + b) % 26)).mkString
      docs.select(
        (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          to + to.toUpperCase).as("text"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic per-doc source label (20 per copy leg) for kernels
    * whose operator needs a `source` column — `inflateDocs` carries
    * only (doc_id, text) so the label re-derives from the id. */
  private def withSyntheticSource(docs: DataFrame): DataFrame =
    docs.withColumn("source",
      concat(expr("doc_id div 1000000000"), lit("_src"),
        pmod(pmod(col("doc_id"), lit(1000000000L)), lit(20))))

  /** Every langid outcome admitted at qscore ≥ 0 — see the
    * corpus_pipeline kernel comment. */
  private val permissivePolicy: Seq[(String, Double)] =
    (ext.TextAnalysis.langMarkers.map(_._1) :+ "und").map(_ -> 0.0)

  /** Mixture budget ∝ corpus for the pipeline kernels: the oracle
    * query's fixed token budget over a ×f corpus drives the
    * temperature mixture's integer permille rates to 0 by f=64
    * (measured: rows 103 → 0 across 1×→64×, leaving nothing for the
    * packing/shard stages to chew). Budget ∝ n keeps the per-source
    * rates factor-INVARIANT under √n temperature (rate = b·√n_s /
    * (Σ√n · n_s) — both numerator and denominator scale by f), so
    * every stage carries ×f rows, which is what the scale row is
    * supposed to measure. Derived from row counts, not the f
    * argument, because the materialized protocol hands the kernel a
    * pre-inflated input with f=1; a parquet count() is a row-group
    * metadata read, not a scan. */
  private def pipelineBudget(spark: SparkSession, inflatedRows: Long): Long = {
    val base = io.Tables(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      "documents").count()
    math.max(ext.Sampling.defaultPipelineBudget,
      ext.Sampling.defaultPipelineBudget * inflatedRows / math.max(1L, base))
  }

  /** f copies of embeddings; copy k id-offset and sign-flipped by a
    * k-seeded deterministic ±1 pattern. A fixed sign pattern s preserves
    * every within-copy dot product exactly ((s_i·a_i)(s_i·b_i) =
    * a_i·b_i) while cross-copy dots become sign-randomized sums ≈ 0 —
    * rotation, by contrast, leaves smooth or near-constant vectors
    * correlated with their own copies. */
  def inflateEmbeddings(emb: DataFrame, f: Int, dim: Int = 64): DataFrame =
    (0 until f).map { k =>
      val flipped =
        if (k == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          when(pmod(xxhash64(lit(k), i), lit(2)) === 0, x).otherwise(-x))
      emb.select(
        (col("vec_id") + lit(k.toLong * 1000000000L)).as("vec_id"),
        flipped.cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _)

  /** Max single-task duration between resets — the straggler metric.
    * On a large cluster a stage's wall-clock is its longest task (all
    * others run in parallel), so this, not local[32] wall-clock, is
    * what extrapolates: local wall-clock serializes ALL work over 32
    * cores and thereby bills a mitigation's extra distributed passes
    * at full price while hiding that the straggler it removes is the
    * cluster's critical path. */
  private final class MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
    private val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val d = te.taskInfo.duration
      var cur = maxMs.get()
      while (d > cur && !maxMs.compareAndSet(cur, d)) cur = maxMs.get()
    }
    def reset(): Unit = maxMs.set(0L)
    def maxSec: Double = maxMs.get() / 1e3
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,4,16,64")
      .split(",").map(_.trim.toInt).toSeq
    val quadMax = sys.env.getOrElse("SPARK_GRAFT_QUAD_MAX", "4").toInt

    // stream state stores / staged sources on tmpfs when it has
    // headroom — the same placement Bench.main uses
    util.Scratch.adoptTmpfs()

    // ONE FRESH SparkContext PER KERNEL. Round-6 audits (SURVEY §9)
    // showed the long-lived probe JVM reads the heavy kernels ~2× above
    // their isolated matched-conditions cost (64× neardup: 52–55 s
    // in-probe vs 21–31 s isolated) while cheap kernels are unaffected;
    // cache()-vs-count, inflation-plan analysis, and single-prior-run
    // session poisoning were each tested and REJECTED as causes, so the
    // remainder is cumulative JVM/host throughput decay over a sustained
    // multi-kernel session. Recycling the context per kernel (a) drops
    // the accumulated shuffle files and block-manager state with it and
    // (b) makes the artifact reproduce the isolated numbers the repo's
    // matched-conditions A/B protocol (SURVEY §9) produces — which is
    // the whole point of an artifact of record.
    def withSession[T](body: (SparkSession, DataFrame, DataFrame) => T): T = {
      val spark = GraftSession.local(cpus, cpus, "graft-bench-scale")
      val docs0 = io.Tables(spark, sfDir, "documents")
      val emb0 = io.Tables(spark, sfDir, "embeddings")
      docs0.count(); emb0.count() // untimed cold-start warmup
      try body(spark, docs0, emb0) finally spark.stop()
    }

    // (name, factor-cap, inflated-input → result) — the result is
    // cache()+count()ed so every column materializes (a bare count
    // would let the optimizer prune the score columns)
    val kernels: Seq[(String, Int, (DataFrame, DataFrame, Int, Long) => DataFrame)] = Seq(
      ("dedup_neardup_pairs", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Dedup.nearDupPairs(inflateDocs(docs0, f), "doc_id", "text",
          shingleN = 3, threshold = 0.6)),
      ("dedup_clusters", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Dedup.connectedComponents(
          ext.Dedup.nearDupPairs(inflateDocs(docs0, f), "doc_id", "text",
            shingleN = 3, threshold = 0.6),
          "id_a", "id_b")),
      ("ann_lsh_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.lshTopK(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10, dim = 64)),
      // the multiprobe contrast: constant 8 tables (corpus index rows
      // LINEAR in n) vs lshTopK's count-grown table schedule — the
      // growth-curve difference is the point of this kernel
      ("ann_lsh_mp_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.lshTopKMp(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10, dim = 64)),
      ("ann_ivf_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.ivfTopK(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)),
      // iterative graph kernel over the kNN edges: |edges| = 5n exactly,
      // each of the 5 synchronous rounds is one src-keyed join + one
      // dst-keyed agg — cost should track the embedded kNN-graph build
      // (the same IVF-blocked self-join, every vector probing) plus a
      // linear-in-edges iteration term
      ("graph_pagerank", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateEmbeddings(emb0, f)
        ext.Graph.pageRank(
          ext.Similarity.knnGraphIvf(infl, "vec_id", "embedding", k = 5),
          "probe_id", "vec_id", infl, "vec_id")
      }),
      // margin bitext mining: the IVF kNN-graph build dominates (the
      // same O(n^1.5) substrate as graph_pagerank, cross-side-filtered);
      // the margin/mutual joins on top are linear in edges — the curve
      // should track the graph build without the 5 rank rounds
      ("emb_bitext_mine", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.mineBitext(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          k = 5)),
      // common-neighbor link prediction: wedge self-join bounded by
      // the kNN graph's ≤2k degree — O(n·k²) on top of the graph
      // build, so the curve should stay within a constant of
      // graph_pagerank's
      ("graph_linkpred", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateEmbeddings(emb0, f)
        ext.Graph.linkPredict(
          ext.Similarity.knnGraphIvf(infl, "vec_id", "embedding", k = 5),
          "probe_id", "vec_id", k = 100)
      }),
      ("emb_neardup_pairs", quadMax, (docs0, emb0, f, _) =>
        ext.Similarity.nearDupPairs(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          450000L, blocks = 16)),
      // the affine cipher is a bijection on tokens, so within-copy gram
      // equality (and cross-copy inequality) is preserved exactly: rows
      // and dup structure grow ×f by construction
      ("text_dup_ngrams", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.dupNgramStats(inflateDocs(docs0, f), "doc_id", "text")),
      // the rewrite half on top of the same gram relation: adds the
      // doc-keyed duplicated-start-list join + per-row array filter;
      // rows ×f (every doc emits one row)
      ("corpus_strip_spans", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.stripDupSpans(inflateDocs(docs0, f), "doc_id", "text")),
      // THE CAPSTONE at scale (round 12): the full 8-stage curation
      // chain as ONE DAG over the ×f corpus — composition is where
      // exchange creep or cache leaks would appear first, and until now
      // the one query whose point is cross-stage chaining had no
      // measured scale row. The lang policy admits every langid outcome
      // at qscore ≥ 0: the affine-cipher copies are not English, and
      // the production-selective policy would collapse the scaled
      // corpus right after the gate, benching the dedup/decon/mixture/
      // packing stages at 1× regardless of f. Source labels re-derive
      // from doc_id (20 per copy leg — O(sources) mixture metadata).
      ("corpus_pipeline", Int.MaxValue, (docs0, emb0, f, budget) => {
        val docs = withSyntheticSource(inflateDocs(docs0, f))
        ExtQueries.pipelinePackedDocs(docs0.sparkSession, docs, cache = true,
          policyRows = permissivePolicy, budget = budget)
      }),
      // the same chain with the dedup stage swapped to near-dup
      // keep-first: PINNED production LSH geometry — the per-epoch
      // override `nearDupPairs` takes, set to the schedule the count
      // law derives at the TOP factor (r=3 × 96 bands at ~370k gated
      // docs), i.e. what a production epoch of this size would pin —
      // vs the count-derived adaptive schedule, which pays an EXTRA
      // uncached pass over the whole gate chain for its sizing count.
      // Pinning a STALE geometry instead (the 1× schedule r=2 × 64)
      // was measured too: identical output at every factor but 135.5 s
      // at 64× — the loose schedule's candidate blowup (SURVEY §9).
      ("corpus_pipeline_nd_pinned", Int.MaxValue, (docs0, emb0, f, budget) => {
        val docs = withSyntheticSource(inflateDocs(docs0, f))
        ExtQueries.pipelinePackedDocs(docs0.sparkSession, docs, cache = true,
          nearDupGeometry = Some((288, 96)), policyRows = permissivePolicy,
          budget = budget)
      }),
      ("corpus_pipeline_nd_adaptive", Int.MaxValue, (docs0, emb0, f, budget) => {
        val docs = withSyntheticSource(inflateDocs(docs0, f))
        ExtQueries.pipelinePackedDocs(docs0.sparkSession, docs, cache = true,
          nearDupGeometry = Some((0, 0)), policyRows = permissivePolicy,
          budget = budget)
      }),
      // IVF-PQ search: candidate pass over the 8-code representation;
      // const k output — cost should track the coarse+codebook
      // trainings (constant) plus the linear encode
      ("ann_ivfpq_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.ivfPqTopK(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)),
      // SQ8 flat-scan ANN (round 10): bounds + encode are one linear
      // scan each and the candidate pass is O(n·probes) decode-and-dot
      // over the compressed codes — slope should be cleanly ×f at
      // constant probes; this is the flat-scan baseline IVF routing
      // exists to beat, benched so the contrast stays measured
      ("ann_sq8_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.sq8TopK(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)),
      // IVF+SQ8 (round 10): routing bounds the decode-dot pass at
      // probes·nprobe·n/K — should grow like ann_ivf_topk (constant
      // trainers + linear assignment/encode) and beat the flat sq8
      // kernel's slope at the top factors
      ("ann_ivf_sq8_topk", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.ivfSq8TopK(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          probeFilter = col("vec_id") < 10, k = 10)),
      // privacy audit (round 10): ONE map-combined hash agg to a
      // constant 125-class report (quasi classes derive from the
      // pre-offset id, so the class set is factor-invariant while rows
      // grow ×f) — flat per-row cost is the claim
      ("privacy_k_anon", Int.MaxValue, (docs0, emb0, f, _) =>
        ops.Constraints.privacyReport(
          inflateDocs(docs0, f)
            .withColumn("seg", pmod(pmod(col("doc_id"), lit(1000000000L)), lit(125L))),
          Seq("seg"), pmod(length(col("text")), lit(2)), k = 10L, l = 2L)),
      // epoch schedule (round 10): one sum per synthetic source
      // (constant 20 sources at any factor) + a 1-row Σw broadcast —
      // the corpus scan is the whole cost; budget scales with f so the
      // allocation arithmetic stays in the same regime at every factor
      ("corpus_epochs", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Sampling.epochSchedule(
          inflateDocs(docs0, f)
            .withColumn("src",
              pmod(pmod(col("doc_id"), lit(1000000000L)), lit(20L)).cast("string")),
          "src", length(col("text")), budgetTokens = 1000000L * f)),
      // benchmark FIXED at the copy-0 slice while the corpus inflates
      // ×f — the production shape (benchmarks don't grow with the
      // crawl). True hits stay constant (ciphered copies share no
      // grams with the original bench set); cost should grow only
      // with the corpus-side gram extraction — linear, no shuffle of
      // corpus grams at any f.
      ("decontaminate_screen", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.contaminationScreen(
          inflateDocs(docs0.where(pmod(col("doc_id"), lit(7)) =!= 0), f),
          docs0.where(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text", n = 5)),
      // decon surgery: bench fixed (base %7 slice), corpus grows ×f;
      // ciphered copies share no gram with bench, so the contaminated
      // sliver stays constant while the scan+rewrite grows linearly —
      // the map-only-rewrite claim is the flat-per-byte slope
      ("decontaminate_strip", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.decontaminateStrip(
          inflateDocs(docs0.where(pmod(col("doc_id"), lit(7)) =!= 0), f),
          docs0.where(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text", n = 5)),
      // semantic decon: fixed bench broadcast, corpus ×f; sign-flipped
      // copies don't near-match the bench, so hits stay ~constant and
      // the probe isolates the O(n·|bench|) map-side dot cost
      ("decontaminate_semantic", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.semanticDecontaminate(
          inflateEmbeddings(emb0.where(pmod(col("vec_id"), lit(7)) =!= 0), f)
            .unionByName(emb0.where(pmod(col("vec_id"), lit(7)) === 0)
              .select(col("vec_id"), col("embedding"))),
          pmod(col("vec_id"), lit(7)) === 0 && col("vec_id") < 1000000000L,
          "vec_id", "embedding")),
      // SemDeDup under the IVF occupancy rule: K grows as √n (the
      // standard IVF heuristic), balancing O(n·K) assignment against
      // O(n²/K) within-list pairs — both grow ~f^1.5. A FIXED K would
      // put the pair side at f²; the probe measures the √n rule
      // holding that off. True drops grow ×f (sign-flips preserve
      // within-copy dots, cross-copy dots ≈ 0).
      ("emb_semdedup", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.semDedupKeep(inflateEmbeddings(emb0, f), "vec_id", "embedding",
          minQdot = 450000L,
          numCentroids = 64 * math.sqrt(f.toDouble).round.toInt)),
      // winnowing pair detection (round-7 native WinnowKeys kernel):
      // extraction is map-only O(grams) per row, the pair join keys on
      // shared fingerprints with the hot-fingerprint df cap — the
      // cipher preserves within-copy fingerprints exactly, so true
      // pairs grow ×f while cross-copy fingerprints stay disjoint
      ("dedup_winnow_pairs", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Dedup.winnowPairs(inflateDocs(docs0, f), "doc_id", "text")),
      // exact-Jaccard PPJoin (round 7): the prefix relation is the
      // rare tail of each copy's gram spectrum; copies share no grams,
      // so candidate pairs grow ×f and the rarity-ordered prefix join
      // should hold the growth near-linear — the probe watches for the
      // prefix-to-prefix join going superlinear on a merged frequency
      // spectrum (each gram's df stays constant as copies multiply)
      ("dedup_jaccard_pairs", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Dedup.jaccardPairs(inflateDocs(docs0, f), "doc_id", "text",
          shingleN = 3, threshold = 0.5)),
      // LPA over the kNN graph (round 9): same substrate as
      // graph_pagerank (the IVF-blocked kNN build dominates), plus 4
      // label rounds each linear in the 10n symmetrized edges — the
      // delta over pagerank's row isolates the per-round argmax cost
      ("graph_communities", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateEmbeddings(emb0, f)
        ext.Graph.labelPropagation(
          ext.Similarity.knnGraphIvf(infl, "vec_id", "embedding", k = 5),
          "probe_id", "vec_id", infl, "vec_id")
      }),
      // degree-oriented triangles (round 9): on a kNN graph degrees
      // are ~2k regardless of n, so the wedge relation — the
      // O(|E|^1.5) worst case — is LINEAR here; the probe watches the
      // orientation bound deliver that, on top of the same kNN build
      ("graph_triangles", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateEmbeddings(emb0, f)
        ext.Graph.triangleCounts(
          ext.Similarity.knnGraphIvf(infl, "vec_id", "embedding", k = 5),
          "probe_id", "vec_id", infl, "vec_id")
      }),
      // k-core peel (round 10): kNN build dominates like the other
      // graph kernels; the peel itself is 6 rounds of degree-agg +
      // semi-joins over an only-shrinking edge set
      ("graph_kcore", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateEmbeddings(emb0, f)
        ext.Graph.kCore(
          ext.Similarity.knnGraphIvf(infl, "vec_id", "embedding", k = 5),
          "probe_id", "vec_id", k = 6)
      }),
      // deletion-neighborhood fuzzy join (round 9) on 8-char hex keys
      // derived from the inflated ids: the variant relation is 9 rows
      // per key and candidates are birthday-rare, so the probe
      // isolates the two-shuffle (variant join + pair distinct) cost —
      // the claim is a linear slope with no all-pairs component
      ("join_fuzzy_blocked", Int.MaxValue, (docs0, emb0, f, _) =>
        ops.FuzzyJoin.editDist1SelfPairs(
          inflateDocs(docs0, f).select(col("doc_id"),
            substring(md5(col("doc_id").cast("string")), 1, 8).as("k8")),
          "doc_id", "k8")),
      // per-source boilerplate scrub (round 9): each affine copy
      // becomes its own family of SITES (copy-scoped source ids — a
      // crawl scales by adding sites, not by inflating one site 64×),
      // so per-site doc counts and their shared-window structure are
      // preserved under the per-copy translation while the site count
      // grows ×f — the claim is the scan-bound slope of the
      // decontaminate_strip family, with the (source, h) doc-count agg
      // the only corpus-wide exchange
      ("strip_boilerplate", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.stripBoilerplate(
          inflateDocs(docs0, f).withColumn("source",
            concat(expr("doc_id div 1000000000"), lit("_src"),
              pmod(pmod(col("doc_id"), lit(1000000000L)), lit(20)))),
          "doc_id", "text", "source")),
      // r10: the round-9c additions get measured rows (SURVEY §9's
      // "measured, not asserted" invariant). training triples: anchors
      // FIXED at 50 while the corpus inflates — the O(n·|anchors|)
      // brute scoring slope (the documented trade: exact triples for a
      // bounded anchor sample)
      ("emb_training_triples", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.Similarity.trainingTriples(inflateEmbeddings(emb0, f),
          "vec_id", "embedding", probeFilter = col("vec_id") < 50,
          negatives = 3)),
      // provenance rollup on top of the shared LSH pipeline: the two
      // label joins touch only the ≤|pairs| sliver and the rollup is
      // ≤|sources|² rows, so this should track dedup_neardup_pairs
      // with an O(pairs) epsilon; 20 sources per copy (bounded)
      ("dedup_pairs_by_source", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateDocs(docs0, f)
        val pairs = ext.Dedup.nearDupPairs(infl, "doc_id", "text",
          shingleN = 3, threshold = 0.6)
        val src = infl.select(col("doc_id"),
          concat(expr("doc_id div 1000000000"), lit("_src"),
            pmod(pmod(col("doc_id"), lit(1000000000L)), lit(20))).as("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
      }),
      // one key-partitioned window + map-only bucketing + ≤64-row
      // rollup over events ×f (user ids offset per copy, so per-key
      // stream length is constant — the watermark-profiling shape)
      ("events_disorder", Int.MaxValue, (docs0, emb0, f, _) => {
        val ev0 = io.Tables(docs0.sparkSession,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), "events")
          .select(col("user_id"), col("ts"), col("event_id"))
        val infl = (0 until f).map(k => ev0.select(
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("ts"),
          (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id")))
          .reduce(_ unionByName _)
        graft.ops.TimeSeries.disorderProfile(
          infl.withColumn("arrival",
            conv(substring(md5(col("event_id").cast("string").cast("binary")), 1, 15),
              16, 10).cast("long")),
          tieCol = "arrival")
      }),
      // attribution fan-out on the broadcast-screen slope: corpus ×f,
      // bench FIXED (copy-0 slice split into 3 labels) — cost must
      // track `decontaminate`'s scan-bound shape, the per-benchmark
      // key riding only the contaminated sliver
      ("decontaminate_attrib", Int.MaxValue, (docs0, emb0, f, _) =>
        ext.TextAnalysis.contaminationAttribution(
          inflateDocs(docs0, f).where(pmod(col("doc_id"), lit(7)) =!= 0),
          docs0.where(pmod(col("doc_id"), lit(7)) === 0)
            .withColumn("bench",
              concat(lit("b"), pmod(col("doc_id"), lit(3)).cast("string"))),
          "doc_id", "text", "bench")),
      // two ×f parity slices through the shared-histogram TV gate:
      // one scan per side + two ≤ cols·1001-row relations — the
      // stats_analyze scan-bound envelope
      ("stats_drift_tv", Int.MaxValue, (docs0, emb0, f, _) => {
        val infl = inflateDocs(docs0, f)
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        graft.ops.Sketches.histogramDriftTv(
          infl.where(pmod(col("doc_id"), lit(2)) === 0),
          infl.where(pmod(col("doc_id"), lit(2)) === 1),
          Seq("doc_id", "n_chars"))
      }),
      // map-only tokenize + langid pass, |langs|² rollup — the
      // scan-bound text-analysis slope (10 labels per copy, bounded)
      ("text_langid_confusion", Int.MaxValue, (docs0, emb0, f, _) =>
        inflateDocs(docs0, f)
          .withColumn("lang",
            concat(lit("l"), pmod(col("doc_id"), lit(10)).cast("string")))
          .select(col("lang"), ops.TextOps.tokens(col("text")).as("tk"))
          .select(col("lang"),
            ext.TextAnalysis.langIdFromTokens(col("tk")).as("pred_lang"))
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))))

    // ONE FRESH SparkContext PER (KERNEL, FACTOR) — the round-8
    // refinement of the per-kernel recycling above. AuditR8 showed the
    // round-6 decay mechanism also operates ACROSS FACTORS within one
    // kernel's session: the top factor runs last and read ~2× its
    // isolated matched-conditions cost (jaccard 64×: 44.9 s in the
    // r7 artifact vs 22.8 s fresh-session; winnow 64×: 25.4 vs
    // 11.7 s) — the entire "last-octave superlinearity" the r7 table
    // flagged. Each factor now gets its own session with an untimed
    // f=1 warmup, so every cell is an isolated-protocol number.
    // the two EXACT dedup kernels probe one octave further (r7 flagged
    // their last-octave step; r8 attributed it — the extra octave keeps
    // the attribution honest in the artifact of record)
    val exactExtra = sys.env.getOrElse("SPARK_GRAFT_EXACT_EXTRA", "128")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val exactKernels = Set("dedup_winnow_pairs", "dedup_jaccard_pairs")
    // optional comma-separated kernel filter for targeted A/B reruns
    // (fix-verification without paying the full ~25 min sweep); the
    // committed artifact always comes from an unfiltered run
    val onlyKernels = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // MATERIALIZED-INPUT protocol (round 11): the default protocol
    // synthesizes the f× corpus as an f-leg union, so at the top
    // factors the timed number carries f× plan legs' worth of
    // planning/codegen alongside the data path — an overhead a REAL
    // f× corpus (more files, same plan) never pays. The round-11
    // dupngrams probe (SURVEY §9) pinned it: at 128× the gram relation
    // is duplicate-free (instances == distinct (doc, gram), max group 4)
    // and the kernel runs 32.4 s in-session vs 143.9 s through the
    // 128-leg union harness. With SPARK_GRAFT_SCALE_MATERIALIZE=1 the
    // inflated input is WRITTEN TO PARQUET UNTIMED and the kernel is
    // timed over the plain scan. Only kernels that purely inflate
    // their main input qualify (kernels holding a side FIXED — the
    // decontaminate bench slice, the incremental-screen batch — would
    // silently change meaning), hence the whitelist.
    val materialize = sys.env.get("SPARK_GRAFT_SCALE_MATERIALIZE").contains("1")
    // split by which input the kernel inflates, so only that side is
    // written (writing a 128× embeddings parquet for a doc-only dedup
    // kernel doubles the untimed I/O and the /tmp footprint for nothing)
    val materializableDocs = Set(
      "text_dup_ngrams", "corpus_strip_spans", "dedup_neardup_pairs",
      "dedup_clusters", "dedup_pairs_by_source", "dedup_jaccard_pairs",
      "corpus_pipeline", "corpus_pipeline_nd_pinned",
      "corpus_pipeline_nd_adaptive")
    val materializableEmb = Set(
      "ann_lsh_topk", "ann_lsh_mp_topk", "ann_ivf_topk", "ann_ivfpq_topk",
      "ann_sq8_topk", "ann_ivf_sq8_topk", "graph_pagerank",
      "emb_bitext_mine", "graph_linkpred", "emb_neardup_pairs")
    val materializable = materializableDocs ++ materializableEmb
    require(!materialize || onlyKernels.exists(_.forall(materializable)),
      "SPARK_GRAFT_SCALE_MATERIALIZE=1 needs SPARK_GRAFT_SCALE_ONLY " +
        s"restricted to the materializable kernels: $materializable")
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Int, Double, Long)]]
    for ((name, cap, build) <- kernels if onlyKernels.forall(_.contains(name))) {
      val fs = (factors ++ (if (exactKernels(name)) exactExtra else Nil)).distinct
      secs(name) = fs.filter(_ <= cap).map { f =>
        withSession { (spark, docs0, emb0) =>
          // untimed f=1 warmup per session: codegen/compile of the
          // kernel's expressions otherwise lands on the timed factor
          build(docs0, emb0, 1, ext.Sampling.defaultPipelineBudget).count()
          spark.catalog.clearCache()
          val matDir: Option[String] =
            if (materialize) Some(java.nio.file.Files
              .createTempDirectory("scale_mat").toString)
            else None
          val (docsIn, embIn, fIn) = matDir match {
            case Some(dir) if materializableDocs(name) =>
              inflateDocs(docs0, f).write.parquet(s"$dir/docs")
              (spark.read.parquet(s"$dir/docs"), emb0, 1)
            case Some(dir) =>
              inflateEmbeddings(emb0, f).write.parquet(s"$dir/emb")
              (docs0, spark.read.parquet(s"$dir/emb"), 1)
            case None => (docs0, emb0, f)
          }
          // the pipeline kernels' mixture budget ∝ corpus rows — a pure
          // function of (input rows × f), so it is computed HERE, before
          // t0: computing it inside the kernel billed two count() jobs
          // (the ×f union count + the first-touch base count) to the
          // timed region on non-materialized runs
          val budget: Long =
            if (name.startsWith("corpus_pipeline"))
              pipelineBudget(spark, docsIn.count() * fIn)
            else 0L
          val t0 = System.nanoTime()
          val df = build(docsIn, embIn, fIn, budget).cache()
          val rows = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // a full sweep at high factors otherwise strands many GB of
          // inflated parquet in /tmp — one dir per (kernel, factor)
          matDir.foreach { dir =>
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          }
          System.err.println(f"[scale] $name%-22s f=$f%-3d ${sec}%8.2f s  rows=$rows" +
            (if (materialize) "  (materialized-input)" else ""))
          (f, sec, rows)
        }
      }
    }
    // inverted-list balance of the IVF quantizer, trained (the default
    // schedule: defaultTrainRounds Lloyd rounds over the
    // defaultTrainSample-bounded sample — chosen from a measured grid;
    // sampling noise, not round count, was the binding constraint) vs
    // untrained (the raw hashed-sample seeds): max list size bounds
    // the worst probe-side task, so this is the number training exists
    // to improve
    val balance = if (!onlyKernels.forall(_.contains("ivf_lists")))
      Seq.empty[(Int, Double, Long, Long)]
    else withSession { (spark, docs0, emb0) => factors.map { f =>
      val infl = inflateEmbeddings(emb0, f)
      def maxList(rounds: Int): Long = {
        val mx = ext.Similarity
          .ivfListSizes(infl, "vec_id", "embedding", trainRounds = rounds)
          .agg(max(col("n"))).collect().head.getLong(0)
        spark.catalog.clearCache()
        mx
      }
      val trained = maxList(ext.Similarity.defaultTrainRounds)
      val untrained = maxList(0)
      val mean = emb0.count().toDouble * f / 64
      System.err.println(
        f"[scale] ivf_lists f=$f%-3d mean=${mean}%9.1f max trained=$trained untrained=$untrained")
      (f, mean, trained, untrained)
    } }
    // incremental-ingest slope: the NEW batch is FIXED at 1× while the
    // existing corpus (and its pre-materialized index — cached untimed,
    // the from-ingest-to-ingest artifact) inflates ×f. Only the screen
    // is timed. Affine copies never match the batch, so true pairs are
    // CONSTANT in f; the timed cost should grow only with the
    // shuffle-free scan of the bigger index, far below the ×f of a
    // from-scratch self-join.
    val incr = if (!onlyKernels.forall(_.contains("dedup_incremental_screen")))
      Seq.empty[(Int, Double, Long)]
    else withSession { (spark, docs0, emb0) => factors.map { f =>
      val scope = new graft.util.CacheScope
      val newIdx = ext.Dedup.dedupIndex(docs0, "doc_id", "text", scope = scope)
      val oldIdx = ext.Dedup.dedupIndex(
        inflateDocs(docs0, f).select(
          (col("doc_id") + lit(2000000000000L)).as("doc_id"), col("text")),
        "doc_id", "text", scope = scope)
      newIdx._1.count(); newIdx._2.count(); oldIdx._1.count(); oldIdx._2.count() // untimed
      val t0 = System.nanoTime()
      val rows = ext.Dedup.screenAgainstIndex(newIdx, oldIdx, "doc_id").count()
      val sec = (System.nanoTime() - t0) / 1e9
      scope.close()
      spark.catalog.clearCache()
      System.err.println(f"[scale] dedup_incremental_screen f=$f%-3d ${sec}%8.2f s  rows=$rows")
      (f, sec, rows)
    } }
    if (incr.nonEmpty) secs("dedup_incremental_screen") = incr
    // build-vs-probe split of the persisted ANN index (the production
    // IVFADC serving shape): the build — both quantizer trainings plus
    // the full encode pass — is timed once and written to parquet (the
    // real artifact, all-int64 so the round trip is exact); the probe
    // batch is then timed against the READ-BACK index, so it can't
    // lean on any in-session state of the build. Training is sample-
    // bounded (constant in f) and the encode is linear, so build ~ f;
    // the probe pays centroid routing (broadcast), ADC over ~nprobe/K
    // of the codes, and the refine re-rank — the same asymptotic slope
    // but a far smaller constant, and crucially none of the training.
    val (annSplit, embN) = if (!onlyKernels.forall(_.contains("ann_index_build")))
      (Seq.empty[(Int, Double, Double, Long)], 0L)
    else withSession { (spark, docs0, emb0) =>
      val runs = factors.map { f =>
      val scope = new graft.util.CacheScope
      val infl = inflateEmbeddings(emb0, f)
      val dir = java.nio.file.Files.createTempDirectory(s"ann_idx_$f").toString
      val tb = System.nanoTime()
      ext.Similarity.writeAnnIndex(
        ext.Similarity.annIndex(infl, "vec_id", "embedding", scope = scope), dir)
      val buildSec = (System.nanoTime() - tb) / 1e9
      scope.close()
      spark.catalog.clearCache()
      val idx = ext.Similarity.readAnnIndex(spark, dir)
      val t0 = System.nanoTime()
      val rows = ext.Similarity.probeIndex(idx, infl, "vec_id", "embedding",
        probeFilter = col("vec_id") < 10, k = 10).count()
      val probeSec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.err.println(
        f"[scale] ann_index build f=$f%-3d ${buildSec}%8.2f s  probe ${probeSec}%8.2f s  rows=$rows")
      (f, buildSec, probeSec, rows)
      }
      (runs, emb0.count())
    }
    // build "rows" = the persisted codes relation (n · numSub codes —
    // the compressed store the build exists to produce)
    if (annSplit.nonEmpty) {
      secs("ann_index_build") = annSplit.map { case (f, b, _, _) => (f, b, embN * 8 * f) }
      secs("ann_index_probe") = annSplit.map { case (f, _, p, r) => (f, p, r) }
    }
    // run-this-block gate for multi-kernel custom probes
    def gated(ns: String*): Boolean = onlyKernels.forall(f => ns.exists(f.contains))
    // persisted TEXT index: build vs serve vs fold-in while the INDEXED
    // corpus inflates ×f and queries/batches stay fixed. Build reads
    // the corpus once (~f). Serve must stay O(query terms' postings):
    // the affine copies remap letters, so the fixed query terms match
    // only copy 0 — the matched sliver is CONSTANT while the index
    // grows, and term-sorted row-group pruning keeps the scan there.
    // The fold-in batch is FIXED 1× (id-offset past every copy):
    // append-only deltas must keep its cost flat — the round-9
    // incremental-index claim, measured.
    val textIdx = if (!gated("search_index_build", "search_index_serve", "search_index_update"))
      Seq.empty[(Int, Double, Double, Double, Long, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val nDocs = docs0.count()
        val dir = java.nio.file.Files.createTempDirectory(s"sidx_$f").toString
        val tb = System.nanoTime()
        ext.Search.writeTextIndex(inflateDocs(docs0, f), "doc_id", "text", dir)
        val buildSec = (System.nanoTime() - tb) / 1e9
        spark.catalog.clearCache()
        val t1 = System.nanoTime()
        val served = ext.Search
          .indexTopK(spark, dir, ext.Search.defaultTerms, ext.Search.defaultK).count()
        val serveSec = (System.nanoTime() - t1) / 1e9
        val batch = docs0.select(
          (col("doc_id") + lit(3000000000000L)).as("doc_id"), col("text"))
        val t2 = System.nanoTime()
        ext.Search.updateTextIndex(spark, dir, batch, "doc_id", "text")
        val updSec = (System.nanoTime() - t2) / 1e9
        System.err.println(
          f"[scale] search_index f=$f%-3d build ${buildSec}%8.2f s  serve ${serveSec}%6.2f s  fold-in ${updSec}%6.2f s")
        (f, buildSec, serveSec, updSec, served, nDocs)
      }
    }
    if (textIdx.nonEmpty) {
      secs("search_index_build") = textIdx.map { case (f, b, _, _, _, n) => (f, b, n * f) }
      secs("search_index_serve") = textIdx.map { case (f, _, sv, _, r, _) => (f, sv, r) }
      secs("search_index_update") = textIdx.map { case (f, _, _, u, _, n) => (f, u, n) }
    }
    // incremental ANN maintenance: index built on the ×f corpus
    // (untimed — ann_index_build already probes it), then a FIXED 1×
    // batch append-encoded with the persisted quantizers. Pinned
    // geometry means the batch pays O(batch·(K + codebook)) dot
    // products regardless of the indexed corpus size — the cost must
    // stay flat in f.
    val annUpd = if (!gated("ann_index_update")) Seq.empty[(Int, Double, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val scope = new graft.util.CacheScope
        val dir = java.nio.file.Files.createTempDirectory(s"annu_$f").toString
        ext.Similarity.writeAnnIndex(
          ext.Similarity.annIndex(inflateEmbeddings(emb0, f), "vec_id", "embedding",
            scope = scope), dir)
        scope.close()
        spark.catalog.clearCache()
        val batch = emb0.select(
          (col("vec_id") + lit(3000000000000L)).as("vec_id"), col("embedding"))
        val t0 = System.nanoTime()
        ext.Similarity.updateAnnIndex(spark, dir, batch, "vec_id", "embedding")
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = emb0.count()
        System.err.println(f"[scale] ann_index_update f=$f%-3d ${sec}%8.2f s  rows=$rows")
        (f, sec, rows)
      }
    }
    if (annUpd.nonEmpty) secs("ann_index_update") = annUpd
    // incremental CLUSTER maintenance: the ×f corpus's band index and
    // its CC labels are the from-ingest-to-ingest artifacts (untimed
    // setup); a FIXED 1× batch is then folded in — batch self-pairs,
    // cross screen against the pre-built index, CC over the reduced
    // super-node sliver, and the label upsert DELTA. Affine copies
    // never match the batch, so true cross pairs are constant in f;
    // the timed fold-in must stay near-flat (one ids-only pass over
    // the grown label store is the only f-dependent term) where
    // from-scratch dedup_clusters pays the full ×f LSH + CC again.
    val clUpd = if (!gated("dedup_clusters_update")) Seq.empty[(Int, Double, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val scope = new graft.util.CacheScope
        val old = inflateDocs(docs0, f).select(
          (col("doc_id") + lit(2000000000000L)).as("doc_id"), col("text"))
        val (r, b) = ext.Dedup.lshGeometry(old.count(), 0.6)
        val oldIdx = ext.Dedup.dedupIndex(old, "doc_id", "text", 3, r * b, b, scope)
        oldIdx._1.count(); oldIdx._2.count()
        val oldLabels = ext.Dedup.connectedComponents(
          ext.Dedup.nearDupPairs(old, "doc_id", "text"), "id_a", "id_b").cache()
        oldLabels.count()
        val t0 = System.nanoTime()
        val rows = ext.Dedup.updateClustersFromIndex(docs0, oldIdx, oldLabels,
          "doc_id", "text", 3, r * b, b, 0.6, deltaOnly = true).count()
        val sec = (System.nanoTime() - t0) / 1e9
        scope.close()
        spark.catalog.clearCache()
        System.err.println(f"[scale] dedup_clusters_update f=$f%-3d ${sec}%8.2f s  rows=$rows")
        (f, sec, rows)
      }
    }
    if (clUpd.nonEmpty) secs("dedup_clusters_update") = clUpd
    // one-pass ANALYZE over an ×f fact table (id-offset copies so
    // min/max/NDV state stays honest): cost is the wide scan — must
    // grow linearly, state stays ≤ k+2 longs per column
    val statsRuns = if (!gated("stats_analyze")) Seq.empty[(Int, Double, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val li = io.Tables(spark, sfDir, "lineitem"); li.count()
        def infl(ff: Int) = (0 until ff).map(k =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L)))
          .reduce(_ unionByName _)
        ops.Sketches.analyzeColumns(infl(1),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")).count() // warmup
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = ops.Sketches.analyzeColumns(infl(f),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scale] stats_analyze f=$f%-3d ${sec}%8.2f s  rows=$rows")
        (f, sec, rows)
      }
    }
    if (statsRuns.nonEmpty) secs("stats_analyze") = statsRuns
    // change-feed derivation while the TABLE inflates ×f and the CDC
    // batch stays FIXED 1×: version 0 is the ×f corpus, version 1 a
    // 1×-sized commit (updates + tombstones + inserts on copy-0 ids),
    // and snapshotDiff(0,1) is timed. The touched-key prune makes the
    // shuffle/windows change-set-sized; the remaining f-dependent term
    // is the shuffle-free broadcast-semi scan of the bigger base (the
    // dedup_incremental_screen envelope — far below the ×f resolve-
    // everything join of the contrast leg, which full-outer-compares
    // BOTH complete snapshot resolutions). Diff rows constant by
    // construction; both legs must agree on them.
    val cfRuns = if (!gated("io_change_feed", "io_change_feed_full"))
      Seq.empty[(Int, Double, Double, Long)]
    else (factors :+ 256).map { f => // one octave past the suite: the
      // legs only separate once resolve-everything has real volume
      withSession { (spark, docs0, emb0) =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"cfeed_$f").toString + "/tbl"
        val base = inflateDocs(docs0, f).select(col("doc_id"), col("text"))
        io.Sinks.writeVersion(base, dir, 0) // untimed setup
        // codegen/session warmup on a throwaway 1×-shaped diff
        val wdir = java.nio.file.Files
          .createTempDirectory(s"cfeedw_$f").toString + "/tbl"
        io.Sinks.writeVersion(docs0.limit(200).select("doc_id", "text"), wdir, 0)
        io.Sinks.writeVersion(docs0.limit(50).select("doc_id", "text")
          .withColumn("text", lit("w")), wdir, 1)
        io.Sinks.snapshotDiff(spark, wdir, 0, 1, "doc_id").count()
        spark.catalog.clearCache()
        val d0 = docs0.select(col("doc_id"), col("text"))
        val batch = d0.where(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("text", concat(lit("v2 "), col("text")))
          .withColumn("__deleted", lit(false))
          .unionByName(d0.where(pmod(col("doc_id"), lit(10)) === 1)
            .withColumn("__deleted", lit(true)))
          .unionByName(d0.where(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 3000000000000L)
            .withColumn("__deleted", lit(false)))
        io.Sinks.writeVersion(batch, dir, 1) // O(batch) append, untimed
        val t0 = System.nanoTime()
        val rows = io.Sinks.snapshotDiff(spark, dir, 0, 1, "doc_id").count()
        val feedSec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // contrast: resolve BOTH snapshots completely, compare all keys
        val t1 = System.nanoTime()
        val o = io.Sinks.readSnapshotAt(spark, dir, 0, "doc_id")
          .select(col("doc_id"), col("text").as("ot"), lit(true).as("oh"))
        val n = io.Sinks.readSnapshotAt(spark, dir, 1, "doc_id")
          .select(col("doc_id"), col("text").as("nt"), lit(true).as("nh"))
        val fullRows = o.join(n, Seq("doc_id"), "full_outer")
          .where(col("oh").isNull || col("nh").isNull ||
            not(col("ot") <=> col("nt")))
          .count()
        val fullSec = (System.nanoTime() - t1) / 1e9
        require(rows == fullRows,
          s"change-feed legs disagree: pruned=$rows full=$fullRows")
        spark.catalog.clearCache()
        System.err.println(
          f"[scale] io_change_feed f=$f%-3d pruned ${feedSec}%8.2f s  resolve-all ${fullSec}%8.2f s  rows=$rows")
        (f, feedSec, fullSec, rows)
      }
    }
    if (cfRuns.nonEmpty) {
      secs("io_change_feed") = cfRuns.map { case (f, p, _, r) => (f, p, r) }
      secs("io_change_feed_full") = cfRuns.map { case (f, _, fu, r) => (f, fu, r) }
    }
    // versioned-table maintenance (r10): the growth dimension of a
    // commit chain is TIME — commits accumulate per retention window
    // while ingest batches stay fixed-size — so the probe holds the
    // base at 1× and inflates the COMMIT COUNT ×f (8f commits). The
    // read-amp claim is head-log vs head-compacted: the log read
    // resolves base + 8f delta relations (files, footers, and ~0.8f×
    // base delta rows through the key window), the compacted read one
    // folded base + 1 delta — flat in f. The fold itself costs one
    // full resolution + rewrite (~ total log volume), paid once per
    // retention window and amortized over every read after it.
    val vacRuns = if (!gated("io_vacuum", "io_head_log", "io_head_compacted"))
      Seq.empty[(Int, Double, Double, Double, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"vac_$f").toString + "/tbl"
        val d0 = docs0.select(col("doc_id"), col("text"))
        io.Sinks.writeVersion(d0, dir, 0) // untimed setup
        // 8f CDC commits, each a fixed ~10% update batch, written as
        // one job per PHYSICAL commit directory (hive-style __v=N
        // partition dirs laid down in one pass would hide the
        // per-commit file structure the read side actually faces)
        (1 to 8 * f).foreach { v =>
          io.Sinks.writeVersion(
            d0.where(pmod(col("doc_id"), lit(10)) === (v % 10))
              .withColumn("text", concat(lit(s"v$v "), col("text")))
              .withColumn("__deleted", lit(false))
              .coalesce(4),
            dir, v)
        }
        // plan/codegen warmup on a throwaway tiny chain
        val wdir = java.nio.file.Files
          .createTempDirectory(s"vacw_$f").toString + "/tbl"
        io.Sinks.writeVersion(docs0.limit(100).select("doc_id", "text"), wdir, 0)
        io.Sinks.writeVersion(docs0.limit(20).select("doc_id", "text")
          .withColumn("text", lit("w")), wdir, 1)
        io.Sinks.readSnapshotAt(spark, wdir, Long.MaxValue, "doc_id").count()
        io.Sinks.compactVersions(spark, wdir, upTo = 0, keyCol = "doc_id")
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rowsLog = io.Sinks
          .readSnapshotAt(spark, dir, Long.MaxValue, "doc_id").count()
        val logSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        io.Sinks.compactVersions(spark, dir, upTo = 8L * f - 1, keyCol = "doc_id")
        val vacSec = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val rowsC = io.Sinks
          .readSnapshotAt(spark, dir, Long.MaxValue, "doc_id").count()
        val cSec = (System.nanoTime() - t2) / 1e9
        require(rowsLog == rowsC, s"vacuum changed the head: $rowsLog vs $rowsC")
        System.err.println(
          f"[scale] io_vacuum f=$f%-3d head-log ${logSec}%8.2f s  fold ${vacSec}%8.2f s  head-compacted ${cSec}%8.2f s  rows=$rowsC")
        (f, logSec, vacSec, cSec, rowsC)
      }
    }
    if (vacRuns.nonEmpty) {
      secs("io_head_log") = vacRuns.map { case (f, l, _, _, r) => (f, l, r) }
      secs("io_vacuum") = vacRuns.map { case (f, _, v, _, r) => (f, v, r) }
      secs("io_head_compacted") = vacRuns.map { case (f, _, _, c, r) => (f, c, r) }
    }
    // incremental MV maintenance (r10): the table inflates ×f while
    // the change batch stays FIXED (copy-0's %10==0 slice — constant
    // rows at any factor), the production shape (a day's ingest
    // doesn't grow with the table). The maintenance cycle reads the
    // pruned change history and shuffles only O(changes)+O(groups)
    // rows; the recompute leg shuffles the whole table through the
    // resolution window + aggregate — the gap between the two slopes
    // is what maintenance buys. The maintained view is checked equal
    // to the recompute (untimed) at every factor.
    // probed two octaves further (the exact-dedup precedent): both
    // legs are cheap and the crossover — flat maintenance vs linear
    // recompute — sits above the shared top factor at this base size
    val mvFactors =
      if (factors.max >= 64) factors ++ Seq(factors.max * 2, factors.max * 4)
      else factors
    val mvRuns = if (!gated("io_mv_maintain", "io_mv_recompute"))
      Seq.empty[(Int, Double, Double, Long)]
    else mvFactors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val base = java.nio.file.Files.createTempDirectory(s"mv_$f").toString
        val dir = base + "/tbl"
        val d0 = inflateDocs(docs0, f).select(col("doc_id"), col("text"),
          pmod(pmod(col("doc_id"), lit(1000000000L)), lit(20L))
            .cast("string").as("src"))
        io.Sinks.writeVersion(d0, dir, 0) // untimed setup
        io.Sinks.writeVersion(
          d0.where(col("doc_id") < 1000000000L && pmod(col("doc_id"), lit(10)) === 0)
            .withColumn("text", concat(lit("u "), col("text")))
            .withColumn("__deleted", lit(false))
            .coalesce(4),
          dir, 1)
        // the stored view a deployment maintains — seeded untimed
        def agg(df: DataFrame) = df.groupBy("src")
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("text")).cast("long")).as("sum_val"))
        agg(io.Sinks.readSnapshotAt(spark, dir, 0, "doc_id"))
          .write.parquet(s"$base/mv")
        spark.catalog.clearCache()
        def maintained = io.Sinks.maintainAggView(
          spark.read.parquet(s"$base/mv")
            .select(col("src"), col("n_rows"), col("sum_val")),
          io.Sinks.snapshotDiff(spark, dir, 0, 1, "doc_id"),
          "src", oldVal = length(col("old_text")), newVal = length(col("new_text")))
        val t0 = System.nanoTime()
        maintained.write.format("noop").mode("overwrite").save()
        val maintSec = (System.nanoTime() - t0) / 1e9
        def recomputed = agg(io.Sinks.readSnapshotAt(spark, dir, 1, "doc_id"))
        val t1 = System.nanoTime()
        recomputed.write.format("noop").mode("overwrite").save()
        val recompSec = (System.nanoTime() - t1) / 1e9
        // law at scale (untimed): maintained state == recompute
        val a = maintained.collect().map(_.toSeq).toSet
        val b = recomputed.collect().map(_.toSeq).toSet
        require(a == b, s"maintained view drifted from recompute at f=$f")
        System.err.println(
          f"[scale] io_mv_maintain f=$f%-3d maintain ${maintSec}%8.2f s  recompute ${recompSec}%8.2f s  groups=${a.size}")
        (f, maintSec, recompSec, a.size.toLong)
      }
    }
    if (mvRuns.nonEmpty) {
      secs("io_mv_maintain") = mvRuns.map { case (f, m, _, g) => (f, m, g) }
      secs("io_mv_recompute") = mvRuns.map { case (f, _, rc, g) => (f, rc, g) }
    }
    // salted vs plain join on an ENGINEERED hot key (half the fact
    // rows on one key, the rest uniform). saltedJoin targets seams
    // where the dim side can't broadcast and AQE can't rewrite the
    // skew (bucketed / streaming / pre-partitioned joins), so both
    // contrast legs run with auto-broadcast OFF and AQE skew-join OFF
    // — the plain leg is the sort-merge join whose worst reducer holds
    // the WHOLE hot key (half of all fact rows), the salted leg's
    // worst holds ~1/saltBuckets of it (saltedJoin's own broadcast()s
    // are explicit hints, unaffected by the threshold). A third leg,
    // skew_bcast_join, restores auto-broadcast: when the dim side CAN
    // broadcast, plain wins outright — the fixed-cost honesty row.
    val skewRuns = if (!gated("skew_salted_join", "skew_plain_join", "skew_bcast_join"))
      Seq.empty[(Int, (Double, Double), (Double, Double), (Double, Double), Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val mt = new MaxTaskListener
        spark.sparkContext.addSparkListener(mt)
        // 64-byte payload: the straggler contrast is about BYTES on
        // the hot reducer, not row counts — 8-byte rows keep the hot
        // key's whole share under ~50 MB, where a single reducer
        // shrugs and salting's extra passes cost more than they save.
        // The fact table is MATERIALIZED to parquet before timing:
        // saltedJoin scans its input 3× (hot pre-count + cold + hot
        // legs), and a lazily regenerated range+hash relation would
        // bill those re-scans at generator cost instead of the
        // columnar-scan cost a real table has.
        def factGen(n: Long) = spark.range(n).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(col("id"), lit(100000L))).as("k"),
          concat_ws("-", (0 until 8).map(s => hex(xxhash64(col("id"), lit(s)))): _*).as("v"))
        val dim = spark.range(100000L).select(col("id").as("k"), (col("id") * 7L).as("w"))
        val n = 200000L * f
        val factDir = java.nio.file.Files
          .createTempDirectory("graft_skew_fact").toString
        factGen(n).write.mode("overwrite").parquet(factDir)
        val fact = spark.read.parquet(factDir)
        val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        // the timed measure aggregates over BOTH payloads — a bare
        // count() lets Catalyst prune v/w, the joined rows collapse to
        // a near-constant 8-byte key that lz4 crushes to ~3 B/row, and
        // AQE's byte-based coalescing then merges the salt partitions
        // right back into one straggler (measured: salted maxtask ==
        // plain maxtask on pruned rows). Real pipelines carry payload
        // through joins; this keeps the probe's bytes real.
        def measure(df: DataFrame): Long = df
          .agg(count(lit(1)), sum(length(col("v"))), sum(col("w")))
          .collect()(0).getLong(0)
        measure(ops.Skew.saltedJoin(factGen(1000L), dim, "k",
          saltBuckets = 16, hotThreshold = 100L)) // warmup
        spark.catalog.clearCache()
        mt.reset()
        val t0 = System.nanoTime()
        val rows = measure(ops.Skew.saltedJoin(fact, dim, "k",
          saltBuckets = 16, hotThreshold = 100000L))
        val saltSec = (System.nanoTime() - t0) / 1e9
        val saltMax = mt.maxSec
        spark.catalog.clearCache()
        mt.reset()
        val t1 = System.nanoTime()
        measure(fact.join(dim, "k"))
        val plainSec = (System.nanoTime() - t1) / 1e9
        val plainMax = mt.maxSec
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
        spark.catalog.clearCache()
        mt.reset()
        val t2 = System.nanoTime()
        measure(fact.join(dim, "k"))
        val bcastSec = (System.nanoTime() - t2) / 1e9
        val bcastMax = mt.maxSec
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(factDir))
        System.err.println(
          f"[scale] skew_join f=$f%-3d salted ${saltSec}%8.2f s (maxtask ${saltMax}%6.2f)  plain-smj ${plainSec}%8.2f s (maxtask ${plainMax}%6.2f)  bcast ${bcastSec}%8.2f s (maxtask ${bcastMax}%6.2f)  rows=$rows")
        (f, (saltSec, saltMax), (plainSec, plainMax), (bcastSec, bcastMax), rows)
      }
    }
    if (skewRuns.nonEmpty) {
      secs("skew_salted_join") = skewRuns.map { case (f, s, _, _, r) => (f, s._1, r) }
      secs("skew_plain_join") = skewRuns.map { case (f, _, p, _, r) => (f, p._1, r) }
      secs("skew_bcast_join") = skewRuns.map { case (f, _, _, b, r) => (f, b._1, r) }
      secs("skew_salted_maxtask") = skewRuns.map { case (f, s, _, _, r) => (f, s._2, r) }
      secs("skew_plain_maxtask") = skewRuns.map { case (f, _, p, _, r) => (f, p._2, r) }
    }
    // ---- right-to-be-forgotten purge (round 10): the subtraction
    // pass against BOTH persisted indexes. The claim under test: purge
    // cost tracks the INDEX size (one broadcast anti-join pass), i.e.
    // a ~f slope with a constant far below the build's (build slopes
    // live in search_index_build / ann_index_build) — the 100 TB
    // deployment answers a GDPR batch without a rebuild. Rows = the
    // retained postings/codes the pass rewrote.
    val purgeRuns = if (!gated("privacy_purge_text", "privacy_purge_ann"))
      Seq.empty[(Int, Double, Double, Long, Long)]
    else withSession { (spark, docs0, emb0) =>
      factors.map { f =>
        val docs = inflateDocs(docs0, f)
        val dT = java.nio.file.Files.createTempDirectory(s"purge_txt_$f").toString
        ext.Search.writeTextIndex(docs, "doc_id", "text", dT)
        val t0 = System.nanoTime()
        ext.Search.purgeTextIndex(spark, dT,
          docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id"),
          "doc_id")
        val textSec = (System.nanoTime() - t0) / 1e9
        val postRows = spark.read.parquet(s"$dT/postings").count()
        val infl = inflateEmbeddings(emb0, f)
        val dA = java.nio.file.Files.createTempDirectory(s"purge_ann_$f").toString
        val scope = new graft.util.CacheScope
        ext.Similarity.writeAnnIndex(
          ext.Similarity.annIndex(infl, "vec_id", "embedding", scope = scope), dA)
        scope.close()
        val t1 = System.nanoTime()
        ext.Similarity.purgeAnnIndex(spark, dA,
          infl.where(pmod(col("vec_id"), lit(37)) === 3).select("vec_id"),
          "vec_id")
        val annSec = (System.nanoTime() - t1) / 1e9
        val codeRows = spark.read.parquet(s"$dA/codes").count()
        spark.catalog.clearCache()
        System.err.println(
          f"[scale] purge f=$f%-3d text ${textSec}%8.2f s ($postRows postings)  ann ${annSec}%8.2f s ($codeRows codes)")
        (f, textSec, annSec, postRows, codeRows)
      }
    }
    if (purgeRuns.nonEmpty) {
      secs("privacy_purge_text") = purgeRuns.map { case (f, t, _, pr, _) => (f, t, pr) }
      secs("privacy_purge_ann") = purgeRuns.map { case (f, _, a, _, cr) => (f, a, cr) }
    }

    // ---- event-sequence kernels (round 10): the concurrency sweep is
    // sessionize + ONE distributed prefix sum over all endpoints (the
    // n log n alternative to the O(n·m) interval join), pattern
    // funnels are one user-shuffle + per-user linear regex. Copies
    // shift user/event ids and keep timestamps, so sessions and
    // endpoints scale exactly ×f over an unchanged time range — the
    // worst case for the sweep (density grows, the sort must absorb
    // it).
    val evRuns = if (!gated("events_concurrency", "events_pattern"))
      Seq.empty[(Int, Double, Double, Long, Long)]
    else withSession { (spark, _, _) =>
      val ev0 = io.Tables(spark, sfDir, "events")
        .select("event_id", "user_id", "ts", "event_type")
      ev0.count()
      def inflateEvents(f: Int) = (0 until f).map { k =>
        ev0.select(
          (col("event_id") + lit(k.toLong * 1000000000000L)).as("event_id"),
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("ts"), col("event_type"))
      }.reduce(_ unionByName _)
      factors.map { f =>
        val ev = inflateEvents(f)
        val t0 = System.nanoTime()
        val concRows = ops.TimeSeries.concurrencyProfile(ev).count()
        val concSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val patRows = ops.TimeSeries.patternFunnels(ev, "vc*p",
          Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
            "signup" -> "s", "error" -> "e")).count()
        val patSec = (System.nanoTime() - t1) / 1e9
        System.err.println(
          f"[scale] events f=$f%-3d concurrency ${concSec}%8.2f s ($concRows)  pattern ${patSec}%8.2f s ($patRows)")
        (f, concSec, patSec, concRows, patRows)
      }
    }
    if (evRuns.nonEmpty) {
      secs("events_concurrency") = evRuns.map { case (f, c, _, r, _) => (f, c, r) }
      secs("events_pattern") = evRuns.map { case (f, _, p, _, r) => (f, p, r) }
    }

    // ---- streaming kernels (round 13, verdict r12 ask #1): the one
    // family that had zero scale rows. The probe stages the ×f input
    // as TIME-CONTIGUOUS parquet files (id-offset copies, timestamps
    // unchanged — density grows ×f over the fixed 30-day range, the
    // worst case for event-time state) replayed one file per trigger,
    // ⌈8·√f⌉ data batches + two far-future sentinel batches that push
    // the watermark past all data so outer/timeout emissions flush
    // deterministically (the readEventsStaged choreography). Staging
    // is untimed — the streaming twin of the materialized protocol
    // (a real feed's micro-batches arrive; they are not synthesized
    // inside the timed region). Both interesting axes are recorded:
    // micro-batch count grows ~√f with ~√f-sized batches (wall time
    // should track total rows), while STATE must stay bounded by
    // watermark-window density + one batch — never O(total input):
    // `<name>_state` rows carry (max state MB, max state rows) per
    // factor. stream_dedup is the deliberate contrast: complete-mode
    // running dedup state is O(distinct keys) BY DESIGN, so its state
    // row grows ×f — bounded-vs-growing is the comparison the claim
    // needs. Sinks are foreachBatch count() (every batch's output
    // materialized, nothing accumulated driver-side).
    val streamNames = Seq("stream_join_outer", "stream_sessionize", "stream_dedup")
    val streamRuns = if (!gated(streamNames: _*))
      Seq.empty[(Int, Seq[(String, Double, Long, Long, Long, Long)])]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        import org.apache.spark.sql.streaming.OutputMode
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
        // stream parity with the suite harness (StreamOps.runToMemory
        // drains at 8 shuffle partitions)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val evCols = Seq("event_id", "user_id", "ts", "event_type", "value")
        val ev0 = io.Tables(spark, sfDir, "events")
          .select(evCols.map(col): _*)
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        // materialize the ×f union ONCE (untimed) so the nParts slice
        // writes re-scan a parquet copy, not f plan legs each
        val evDir = java.nio.file.Files.createTempDirectory(s"sevents_$f").toString
        (0 until f).map(k => ev0.select(
          (col("event_id") + lit(k.toLong * 1000000000000L)).as("event_id"),
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("ts"), col("event_type"), col("value")))
          .reduce(_ unionByName _)
          .write.parquet(s"$evDir/ev")
        val evInfl = spark.read.parquet(s"$evDir/ev")
        val Array(loTs, hiTs) = ev0
          .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val nParts = 8 * math.max(1, math.round(math.sqrt(f.toDouble)).toInt)
        val step = math.max(1L, (hiTs - loTs) / nParts + 1)
        val dataParts = (0 until nParts).map { i =>
          evInfl.where(unix_timestamp(col("ts")) >= loTs + i.toLong * step &&
            unix_timestamp(col("ts")) < loTs + (i + 1).toLong * step)
        }
        def sentinel(tsLit: String, idBase: Long) = ev0.limit(1)
          .withColumn("event_id", lit(idBase))
          .withColumn("user_id", lit(-1L))
          .withColumn("event_type", lit("click"))
          .withColumn("ts", to_timestamp(lit(tsLit)))
          .unionByName(ev0.limit(1)
            .withColumn("event_id", lit(idBase + 1))
            .withColumn("user_id", lit(-2L))
            .withColumn("event_type", lit("purchase"))
            .withColumn("ts", to_timestamp(lit(tsLit))))
        // drain through a driver-side foreachBatch count: returns
        // (sec, batches, totalOut, lastBatchOut, maxStateRows, maxStateMB)
        def drainStats(df: DataFrame, mode: OutputMode): (Double, Long, Long, Long, Long, Long) = {
          var batches = 0L; var total = 0L; var last = 0L
          val ckpt = graft.util.Scratch.dir("graft_ckpt")
          val t0 = System.nanoTime()
          val q = df.writeStream.outputMode(mode)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              val c = b.count(); batches += 1; total += c; last = c
            }
            .option("checkpointLocation", ckpt)
            .start()
          q.processAllAvailable()
          q.stop()
          val sec = (System.nanoTime() - t0) / 1e9
          graft.util.Scratch.delete(ckpt)
          val stateRows = q.recentProgress
            .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
          val stateBytes = q.recentProgress
            .flatMap(_.stateOperators.map(_.memoryUsedBytes)).foldLeft(0L)(math.max)
          // per-batch phase breakdown (stderr only): where a batch's
          // time goes — planning vs addBatch (execution) vs commit
          def sumMs(k: String): Long = q.recentProgress
            .flatMap(p => Option(p.durationMs.get(k)).map(_.toLong)).sum
          System.err.println(
            s"[scale]   durations(ms): trigger=${sumMs("triggerExecution")} " +
              s"planning=${sumMs("queryPlanning")} addBatch=${sumMs("addBatch")} " +
              s"getBatch=${sumMs("getBatch")} walCommit=${sumMs("walCommit")} " +
              s"stateCommit=${sumMs("commitOffsets")}")
          (sec, batches, total, last, stateRows, stateBytes / (1 << 20))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long, Long, Long, Long)]
        // untimed warm drain per kernel over a TINY staged stream of
        // the same shape (2 data batches + sentinels): the first
        // streaming query in a fresh session pays streaming-machinery
        // classload + state-store/codegen init measured at ~10+ s —
        // the per-kernel analogue of the batch kernels' f=1 warmup
        def tinyEventParts: Seq[DataFrame] = Seq(
          ev0.limit(100), ev0.limit(200),
          sentinel("2090-01-01 00:00:00", -10L),
          sentinel("2091-01-01 00:00:00", -20L))
        // 1. watermark-bounded stream-stream interval LEFT OUTER join
        locally {
          def joined(parts: Seq[DataFrame]): DataFrame = {
            val ev = streaming.StreamOps.stagedStream(parts)
            streaming.StreamOps.attributionJoinOuter(
                ev.where(col("event_type") === "click"),
                ev.where(col("event_type") === "purchase"))
              .where(col("user_id") >= 0)
          }
          drainStats(joined(tinyEventParts), OutputMode.Append()) // warm
          val (sec, nb, tot, _, sr, smb) = drainStats(joined(dataParts ++ Seq(
            sentinel("2090-01-01 00:00:00", -10L),
            sentinel("2091-01-01 00:00:00", -20L))), OutputMode.Append())
          out += (("stream_join_outer", sec, tot, nb, sr, smb))
        }
        // 2. flatMapGroupsWithState sessionize (event-time timeout)
        locally {
          import spark.implicits._
          def sess(parts: Seq[DataFrame]): DataFrame = {
            val ds = streaming.StreamOps.stagedStream(parts)
              .select(col("user_id").cast("long").as("user_id"),
                col("ts").cast("timestamp").as("ts"),
                col("event_type"), col("value").cast("double").as("value"))
              .as[streaming.StreamOps.Event]
            streaming.StreamOps.sessionize(ds, gapSeconds = 1800)
              .toDF().where(col("user_id") >= 0)
          }
          drainStats(sess(tinyEventParts), OutputMode.Append()) // warm
          val (sec, nb, tot, _, sr, smb) = drainStats(sess(dataParts ++ Seq(
            sentinel("2090-01-01 00:00:00", -10L),
            sentinel("2091-01-01 00:00:00", -20L))), OutputMode.Append())
          out += (("stream_sessionize", sec, tot, nb, sr, smb))
        }
        // 3. running exact dedup (complete mode — the growing-state
        // contrast; parts are doc-id slices, order irrelevant)
        locally {
          inflateDocs(docs0, f).write.parquet(s"$evDir/docs") // untimed
          val docsInfl = spark.read.parquet(s"$evDir/docs")
          def grouped(parts: Seq[DataFrame]): DataFrame =
            streaming.StreamOps.stagedStream(parts)
              .select(col("doc_id"), ext.TextAnalysis.fingerprint(col("text")).as("fp"))
              .groupBy("fp")
              .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
              .select("keeper", "n_dups")
          drainStats(grouped(Seq(docs0.limit(50), docs0.limit(120))),
            OutputMode.Complete()) // warm
          val dParts = (0 until nParts).map(i =>
            docsInfl.where(pmod(pmod(col("doc_id"), lit(1000000000L)), lit(nParts.toLong)) === i))
          val (sec, nb, _, lastC, sr, smb) = drainStats(grouped(dParts), OutputMode.Complete())
          out += (("stream_dedup", sec, lastC, nb, sr, smb))
        }
        out.foreach { case (n, sec, rows, nb, sr, smb) =>
          System.err.println(
            f"[scale] $n%-22s f=$f%-3d ${sec}%8.2f s  rows=$rows batches=$nb stateRows=$sr stateMB=$smb")
        }
        val pDir = new org.apache.hadoop.fs.Path(evDir)
        pDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pDir, true)
        (f, out.toSeq)
      }
    }
    if (streamRuns.nonEmpty) for (n <- streamNames) {
      secs(n) = streamRuns.map { case (f, rs) =>
        val r = rs.find(_._1 == n).get; (f, r._2, r._3)
      }
      secs(s"${n}_state") = streamRuns.map { case (f, rs) =>
        val r = rs.find(_._1 == n).get; (f, r._6.toDouble, r._5)
      }
    }

    // ---- pinned-geometry near-dup under the materialized protocol
    // (round 13, verdict r12 ask #4): the production posture at the
    // octave the adaptive schedule pays for. Geometry is pinned to
    // what the count law derives AT THIS factor (the per-epoch pin a
    // production corpus build writes down), passed explicitly so the
    // kernel skips its sizing pass; the adaptive leg re-derives the
    // same schedule from its own count on the identical materialized
    // corpus, and both legs' pair sets are asserted checksum-equal —
    // the pin changes COST PROFILE only, never output. Run at 128×
    // via SPARK_GRAFT_SCALE_FACTORS=128 + SPARK_GRAFT_SCALE_ONLY=
    // dedup_neardup_pairs_pinned@mat.
    val ndPinned = if (!gated("dedup_neardup_pairs_pinned@mat"))
      Seq.empty[(Int, Double, Double, Long)]
    else factors.map { f =>
      withSession { (spark, docs0, emb0) =>
        val dir = java.nio.file.Files.createTempDirectory(s"ndpin_$f").toString
        inflateDocs(docs0, f).write.parquet(s"$dir/docs") // untimed
        val docs = spark.read.parquet(s"$dir/docs")
        val n = docs.count()
        val (rr, bb) = ext.Dedup.lshGeometry(n, 0.6)
        // untimed 1× warmup at the pinned geometry (codegen/compile)
        ext.Dedup.nearDupPairs(docs0, "doc_id", "text",
          shingleN = 3, numPerms = rr * bb, bands = bb, threshold = 0.6).count()
        spark.catalog.clearCache()
        // set checksum: XOR of per-pair hashes — order-independent and
        // overflow-free (a SUM of full-range xxhash64 longs trips ANSI
        // arithmetic overflow at a few thousand pairs)
        def checksum(df: DataFrame): (Long, Long) = {
          val row = df.agg(count(lit(1)),
            expr("bit_xor(xxhash64(id_a, id_b))")).collect().head
          (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        }
        val t0 = System.nanoTime()
        val pinned = ext.Dedup.nearDupPairs(docs, "doc_id", "text",
          shingleN = 3, numPerms = rr * bb, bands = bb, threshold = 0.6)
        val ckP = checksum(pinned)
        val secP = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val t1 = System.nanoTime()
        val adaptive = ext.Dedup.nearDupPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.6)
        val ckA = checksum(adaptive)
        val secA = (System.nanoTime() - t1) / 1e9
        spark.catalog.clearCache()
        require(ckP == ckA,
          s"pinned/adaptive near-dup outputs diverged at f=$f: $ckP vs $ckA")
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        System.err.println(
          f"[scale] dedup_neardup_pairs_pinned@mat f=$f%-3d r=$rr b=$bb pinned ${secP}%8.2f s  adaptive ${secA}%8.2f s  pairs=${ckP._1} (outputs equal)")
        (f, secP, secA, ckP._1)
      }
    }
    if (ndPinned.nonEmpty) {
      secs("dedup_neardup_pairs_pinned@mat") = ndPinned.map { case (f, p, _, r) => (f, p, r) }
      secs("dedup_neardup_pairs_adaptive@mat") = ndPinned.map { case (f, _, a, r) => (f, a, r) }
    }

    val qJson = secs.map { case (n, runs) =>
      "\"" + n + "\":{" + runs.map { case (f, s, _) => "\"" + f + "\":" + s }.mkString(",") + "}"
    }.mkString("{", ",", "}")
    val rJson = secs.map { case (n, runs) =>
      "\"" + n + "\":{" + runs.map { case (f, _, r) => "\"" + f + "\":" + r }.mkString(",") + "}"
    }.mkString("{", ",", "}")
    val bJson = balance.map { case (f, mean, tr, un) =>
      "\"" + f + "\":{\"mean\":" + mean + ",\"trained_max\":" + tr + ",\"untrained_max\":" + un + "}"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_probe","sf":"$sfDir","factors":[${factors.mkString(",")}],"queries":$qJson,"rows":$rJson,"ivf_lists":$bJson}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale.json")),
      line + "\n")
  }
}
