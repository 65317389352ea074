package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.util.Bounded

/** Embedding similarity search (SURVEY.md §2.5).
  *
  * Scores use quantized integer dot products: each float coordinate is
  * rounded to 3 decimals (×1000) and the dot product is exact int64
  * arithmetic. For unit-norm embeddings qdot ≈ cosine × 10^6. Integer
  * scores make results bit-reproducible across engines and partitionings —
  * float summation order can never flip a ranking.
  */
object Similarity {

  /** Lloyd rounds of the IVF coarse quantizer — ONE constant shared by
    * the engine defaults (`ivfTopK`, `semDedupKeep`, `ivfListSizes`)
    * and the DuckDB oracle generator (ExtQueries unrolls exactly this
    * many round-CTEs), so changing the schedule can never desync the
    * two engines. */
  val defaultTrainRounds = 2

  /** Training-sample bound of the IVF coarse quantizer — shared with
    * the DuckDB oracle generator (the oracle's LIMIT) like
    * `defaultTrainRounds`. Sample selection is a distributed
    * TakeOrdered of md5-hash-ranked rows; raising it buys centroid
    * accuracy (sampling noise is the measured balance limiter) at
    * O(sample·K·rounds) training cost, constant in corpus size. */
  val defaultTrainSample = 32768

  /** IVF-PQ serving defaults — the measured operating point, not the
    * cheapest one. The SURVEY §9 recall audit on the isotropic sf0.1
    * embeddings (coarse quantization's worst case, so these are floor
    * numbers): nprobe=4/refine=40 → recall@10 0.26, with the ADC
    * shortlist — not the coarse probe — as the binding cap (nprobe 16
    * alone → 0.34; refine 40→160 at nprobe 16 → 0.57). Defaults sit
    * at that 0.57 point; candidate cost is linear in nprobe and the
    * exact re-rank linear in refine, so callers trading recall for
    * cost turn the knobs DOWN knowingly rather than shipping a 0.26
    * default unknowingly. Shared with the DuckDB oracle generator
    * (ExtQueries interpolates exactly these constants) like
    * `defaultTrainRounds`, so engine and oracle can never desync. */
  val defaultNprobe = 16
  val defaultRefine = 160

  /** Quantized int64 dot product of two array<float> columns — the native
    * codegen'd Catalyst expression (tight primitive loop inside
    * whole-stage codegen). */
  def quantizedDot(a: Column, b: Column): Column =
    graft.functions.QuantizedDot.qdot(a, b)

  /** Same semantics built only from higher-order functions — the
    * reference formulation the native expression is validated against. */
  def quantizedDotHof(a: Column, b: Column): Column = {
    val q = (x: Column) => round(x.cast("double") * 1000).cast("long")
    aggregate(
      zip_with(a, b, (x, y) => q(x) * q(y)),
      lit(0L),
      (acc, v) => acc + v)
  }

  /** Exact double cosine (for engine-internal use where cross-engine
    * reproducibility doesn't matter; sum order is fixed left-to-right). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val n1 = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val n2 = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    dot / (sqrt(n1) * sqrt(n2))
  }

  /** Semantic benchmark decontamination: flag corpus vectors whose
    * embedding sits too close to ANY held-out benchmark vector — the
    * embedding-space twin of `TextAnalysis.contaminationScreen`'s
    * n-gram screen, catching paraphrased or templated eval leakage
    * that shares no exact 5-gram with the benchmark.
    *
    * The benchmark side is eval-set-sized BY CONTRACT (thousands of
    * rows, not corpus-scale), so it broadcasts and the corpus NEVER
    * shuffles: each corpus row evaluates |bench| codegen'd quantized
    * dots map-side (O(n·|bench|) total, embarrassingly parallel), and
    * only the flagged hits (max qdot ≥ threshold, best-matching bench
    * id, smallest id on ties via lexicographic struct-max) pass the
    * per-id partial agg. At 100 TB this is one scan; for benchmark
    * sets too large to broadcast, fall back to `nearDupPairsAgainst`'s
    * bucketed form. Integer qdot end-to-end — the score crosses the
    * engine boundary exactly. */
  def semanticDecontaminate(
      emb: DataFrame,
      benchFilter: Column,
      idCol: String,
      vecCol: String,
      qdotThreshold: Long = 450000L): DataFrame = {
    val bench = emb.where(benchFilter)
      .select(col(idCol).as("__bid"), col(vecCol).as("__bv"))
    emb.where(!benchFilter)
      .crossJoin(broadcast(bench))
      .withColumn("__qd", quantizedDot(col(vecCol), col("__bv")))
      .where(col("__qd") >= qdotThreshold)
      .groupBy(idCol)
      .agg(max(struct(col("__qd"), (-col("__bid")).as("__nb"))).as("__m"))
      .select(col(idCol),
        col("__m.__qd").as("max_qdot"),
        (-col("__m.__nb")).as("bench_id"))
  }

  /** Brute-force top-k neighbors for each probe: the exact baseline.
    * Probes are broadcast (small side); the corpus is scanned once and
    * per-probe ranking runs through the bounded-heap `TopKPerKey`
    * physical operator — each input partition sends at most k rows per
    * probe across the shuffle (map-side partial heaps), instead of
    * shuffling all n·probes scored rows into one window sort. The
    * `row_number` that labels ranks afterwards only ever sees the
    * ≤ k·probes surviving rows. */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int): DataFrame = {
    rankTopK(scoreAllPairs(corpus, probes, idCol, vecCol, probeIdCol, probeVecCol),
      probeIdCol, idCol, k)
  }

  /** Hard-negative mining for embedding/retrieval training: for each
    * probe, the k MOST similar corpus vectors that are still BELOW the
    * near-duplicate band — `qdot < maxQdot`. Contrastive training
    * wants negatives as close to the decision boundary as possible,
    * but anything above the near-dup threshold is a POSITIVE in
    * disguise (a crawl duplicate or paraphrase of the anchor itself),
    * and training against it as a negative poisons the objective; the
    * default cap is exactly `nearDupPairs`' 450 000 threshold, so "too
    * similar to be a negative" and "flagged by the dedup screen" are
    * the same band by construction. Exact form — the probe batch
    * broadcasts, the corpus is scanned once, and ranking runs through
    * the bounded-heap `TopKPerKey` below the cap filter (≤ k rows per
    * probe per partition cross the shuffle). The IVF scale path is
    * `ivfTopK(..., maxQdot = cap)`: hard negatives are near-but-below
    * the band, so they live in the SAME probed lists as the top
    * neighbors, and the cap applies at the re-score scan — with
    * `nprobe = numCentroids` the two forms are bit-equal. */
  def hardNegativesTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      maxQdot: Long = 450000L): DataFrame = {
    rankTopK(scoreAllPairs(corpus, probes, idCol, vecCol, probeIdCol, probeVecCol)
      .where(col("qdot") < maxQdot), probeIdCol, idCol, k)
  }

  /** The built-ins-only window formulation — equivalence reference for
    * `bruteForceTopK` (all scored rows shuffle into the rank window;
    * correct, but every row of a probe lands on one task). */
  def bruteForceTopKWindow(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int): DataFrame = {
    val scored = scoreAllPairs(corpus, probes, idCol, vecCol, probeIdCol, probeVecCol)
    val w = Window.partitionBy(probeIdCol).orderBy(desc("qdot"), asc(idCol))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  private def scoreAllPairs(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String): DataFrame =
    corpus
      .crossJoin(broadcast(probes))
      .where(col(idCol) =!= col(probeIdCol))
      .select(
        col(probeIdCol),
        col(idCol),
        quantizedDot(col(probeVecCol), col(vecCol)).as("qdot"))

  /** All embedding pairs with qdot ≥ threshold — embedding-cosine
    * near-dup detection, exact O(n²) evaluated as a block-pair join:
    * each row is quantized once to a compact int64 vector, assigned to
    * one of `blocks` hash blocks, and replicated to the block pairs it
    * participates in; each (block_a, block_b) task then scores its
    * n/blocks × n/blocks tile in a primitive loop. Identical output to
    * the declarative crossJoin (`nearDupPairsCrossJoin`) but fully
    * distributed — nothing is ever collected or broadcast, task memory
    * is bounded by two blocks, and parallelism is blocks·(blocks+1)/2
    * tasks. At 100 TB, raise `blocks` so a block fits in executor
    * memory (shuffle volume is O(n·blocks/2) quantized vectors); pair
    * with the LSH bucketing front (`lshNearDupPairs`) before going
    * quadratic at all. */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minQdot: Long,
      blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = blocks
    val threshold = minQdot
    val quantized: Dataset[(Int, Long, Array[Long])] = df
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (math.floorMod(id, b).toInt, id, v.map(graft.functions.QuantizedDot.q))
      }
    // row in block i is the A side of tiles (i,j) j≥i and the B side of
    // tiles (h,i) h≤i: every unordered pair lands in exactly one tile
    val aSide = quantized.flatMap { case (blk, id, qv) =>
      Iterator.range(blk, b).map(j => (blk * b + j, id, qv))
    }
    val bSide = quantized.flatMap { case (blk, id, qv) =>
      Iterator.range(0, blk + 1).map(i => (i * b + blk, id, qv))
    }
    aSide
      .groupByKey(_._1)
      .cogroup(bSide.groupByKey(_._1)) { (tile, as, bs) =>
        val diag = tile / b == tile % b
        val aArr = as.map(t => (t._2, t._3)).toArray
        val bArr = bs.map(t => (t._2, t._3)).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var ai = 0
        while (ai < aArr.length) {
          val (idA, va) = aArr(ai)
          var bi = 0
          while (bi < bArr.length) {
            val (idB, vb) = bArr(bi)
            // on the diagonal both iterators hold the same rows: keep
            // the strictly-ordered half so each pair scores once
            if (!diag || idA < idB) {
              var dot = 0L
              var i = 0
              val n = math.min(va.length, vb.length)
              while (i < n) { dot += va(i) * vb(i); i += 1 }
              if (dot >= threshold) {
                out += ((math.min(idA, idB), math.max(idA, idB), dot))
              }
            }
            bi += 1
          }
          ai += 1
        }
        out.iterator
      }
      .toDF("id_a", "id_b", "qdot")
  }

  /** Declarative crossJoin formulation — validation reference for the
    * block-broadcast kernel. */
  def nearDupPairsCrossJoin(df: DataFrame, idCol: String, vecCol: String, minQdot: Long): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), quantizedDot(col("v_a"), col("v_b")).as("qdot"))
      .where(col("qdot") >= minQdot)
  }

  /** Corpus-size-derived hyperplane geometry: (planes, tables).
    *
    * Per-table candidate volume is Σ n_b² over buckets ≈ n²/2^planes
    * when balanced, so fixed planes (the old planes=6 → 64
    * buckets/table) turns quadratic as the corpus grows — the
    * measured 5.2×-time-for-4×-data last octave of the 64× scale
    * probe. The schedule holds bucket OCCUPANCY constant instead:
    * planes = smallest p with 2^p·64 ≥ n (floor 3, cap 16), making
    * candidate work ≈ n·64 per table — linear at any corpus size.
    * More planes cost per-table recall (a true neighbor must agree on
    * every sign bit), so tables grows with the schedule — 2 per plane
    * beyond the old default — buying recall back at linear (not
    * exponential) cost.
    *
    * Deterministic in the corpus count n, integer arithmetic only, so
    * the DuckDB oracles replay the derivation from their own
    * count(*) and the full hash oracles survive at any sf. */
  def rhpGeometry(n: Long): (Int, Int) = {
    val p = (rhpMinPlanes to rhpMaxPlanes)
      .find(q => (1L << q) * rhpTargetBucketRows >= n).getOrElse(rhpMaxPlanes)
    (p, 8 + 2 * math.max(0, p - rhpTableGrowthFrom))
  }

  /** The count-derived RHP schedule's constants — exposed (like
    * `defaultTrainRounds`/`defaultTrainSample`) so the DuckDB oracle
    * generator interpolates its enumeration bounds from HERE instead of
    * hardcoding them; changing the schedule re-derives the oracle. */
  val rhpMinPlanes: Int = 3
  val rhpMaxPlanes: Int = 16
  val rhpTargetBucketRows: Long = 64L
  val rhpTableGrowthFrom: Int = 6
  val rhpMaxTables: Int = 8 + 2 * (rhpMaxPlanes - rhpTableGrowthFrom)
  /** Embedding dimensionality of the test tables — the `dim` default
    * every ANN entry point uses and the oracle's plane-weight
    * enumeration bound. */
  val defaultDim: Int = 64

  /** Multiprobe table count — CONSTANT, the point of the multiprobe
    * schedule (see `rhpMpGeometry`). */
  val rhpMpTables: Int = 8

  /** Multiprobe RHP schedule (Lv et al., VLDB 2007): planes from the
    * same constant-occupancy rule as `rhpGeometry`, but the table count
    * FIXED at `rhpMpTables` — recall lost to the longer codes is bought
    * back by also probing, per table, every bucket at Hamming distance
    * 1 from the probe's home bucket (a PROBE-side enumeration of
    * `planes` flipped keys; the probe set is tiny). Corpus-side index
    * work becomes n·8 bucket rows — truly LINEAR in the corpus — where
    * `rhpGeometry`'s +2-tables-per-plane made it n·(8+2·(log₂(n/64)−6)),
    * the measured superlinear last octave of `ann_lsh_topk` in
    * `BENCH_scale.json`. For a close pair with per-plane agreement p,
    * per-table hit probability rises from p^m to p^m + m·p^(m−1)(1−p);
    * at p=0.9, m=13 that is 0.25 → 0.62, so 8 multiprobe tables
    * out-recall 22 home-bucket tables (miss 8·10⁻⁴ vs 1.5·10⁻³) while
    * shuffling 2.75× fewer corpus index rows. */
  def rhpMpGeometry(n: Long): (Int, Int) = {
    val p = (rhpMinPlanes to rhpMaxPlanes)
      .find(q => (1L << q) * rhpTargetBucketRows >= n).getOrElse(rhpMaxPlanes)
    (p, rhpMpTables)
  }

  /** Single-table random-hyperplane bucket id built from Column
    * expressions only — the didactic/validation form of
    * `functions.RhpBuckets` (which does all tables in one native loop
    * because this formulation's planes×dim expression nodes blow Janino
    * codegen up at real widths). SAME plane family as the native
    * expression — md5-derived integer weights, int64-quantized sign
    * test — so for any row this column equals
    * `element_at(rhpBuckets(vec, dim, planes, tables), table + 1)`. */
  def rhpBucket(vec: Column, dim: Int, planes: Int, table: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val dot = (0 until dim).map { i =>
        (round(element_at(vec, i + 1).cast("double") * 1000).cast("long")) *
          lit(graft.functions.RhpBuckets.planeWeight(table, p, i))
      }.reduce(_ + _)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((x: Column, y: Column) => x.bitwiseOR(y))
  }

  /** LSH-bucketed near-dup pairs — the scale path for
    * `nearDupPairs`: candidates only from shared hyperplane buckets
    * (linear-ish in corpus size), verified with the exact quantized dot,
    * so every emitted pair truly clears `minQdot`; recall (which pairs
    * are found) depends on the bucket geometry.
    *
    * Scaling knob: candidate work per table is Σ n_b² over buckets —
    * about n²/2^planes when buckets are balanced — so `planes` must
    * grow with the corpus to keep per-bucket occupancy, and with it
    * the candidate volume per row, bounded. planes/tables = 0 (the
    * default) derives both from a corpus-count pre-pass via
    * `rhpGeometry` — constant occupancy at any corpus size. */
  def lshNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minQdot: Long,
      dim: Int,
      tables: Int = 0,
      planes: Int = 0): DataFrame = {
    // a half-specified override must fail loudly, not be silently
    // replaced by the derived geometry the caller thought they pinned
    require((planes > 0) == (tables > 0),
      s"specify both planes and tables or neither, got planes=$planes tables=$tables")
    val (planesN, tablesN) =
      if (planes > 0 && tables > 0) (planes, tables) else rhpGeometry(df.count())
    // candidate generation carries ONLY ids — the bucket self-join and
    // pair dedup would otherwise shuffle both float vectors per
    // candidate row; vectors are re-attached afterwards by two joins
    // against the (small per bucket-key group) corpus
    val buckets = rhpBucketRows(df, col(idCol), vecCol, dim, planesN, tablesN)
    val a = buckets.select(col("tbl"), col("bkt"), col(idCol).as("id_a"))
    val b = buckets.select(col("tbl"), col("bkt"), col(idCol).as("id_b"))
    val cands = a.join(b, Seq("tbl", "bkt"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    cands.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), quantizedDot(col("v_a"), col("v_b")).as("qdot"))
      .where(col("qdot") >= minQdot)
  }

  /** Deterministic Lloyd-trained coarse quantizer shared by `ivfTopK`
    * and `ivfListSizes`: returns exactly `numCentroids` rows
    * (cent_id, cv: array<long>), centroid vectors in QUANTIZED int64
    * units.
    *
    * Seeds are the K corpus rows with the smallest engine-independent
    * hash of their id (15 hex chars of md5 → signed int64, id
    * tie-break); each of `trainRounds` Lloyd rounds then (a) assigns a
    * BOUNDED training sample — the `trainSample` smallest-hash rows —
    * to its EUCLIDEAN-nearest centroid (argmin |x−c|² = argmax
    * 2·x·c − |c|², all int64; id tie-break — assigning by max raw dot
    * instead degenerates: large-norm centroids swallow the corpus, and
    * measured max list size got WORSE than the untrained seeds) and
    * (b) recenters each centroid on the per-coordinate integer mean of
    * its assignees (truncating int64 division — Spark `div` and DuckDB
    * `//` truncate identically, so the oracle replays training
    * bit-for-bit). A centroid whose list goes empty keeps its previous
    * vector. Training cost is O(S·K·rounds) dot products — CONSTANT in
    * corpus size (a production quantizer also trains on a sample), and
    * both sample selections are distributed TakeOrdered merges of ids +
    * quantized vectors, never full-corpus collects.
    *
    * Returned columns: (cent_id, cv: array<long>, nrm = |cv|² — carried
    * so consumers score 2·dot − nrm without re-deriving the norm per
    * candidate row). */
  // test-only hooks for TrainerParitySpec (the trainers are private[ext])
  private[graft] def ivfCentroidsForTest(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, trainRounds: Int, trainSample: Int): DataFrame =
    ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      new graft.util.CacheScope)

  private[graft] def pqCodebookForTest(
      qdf: DataFrame, idCol: String,
      numSub: Int, subDim: Int, codebook: Int, trainSample: Int): DataFrame =
    pqCodebookFromQ(qdf, idCol, numSub, subDim, codebook, trainSample,
      new graft.util.CacheScope)

  private[ext] def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int,
      trainRounds: Int,
      trainSample: Int,
      scope: graft.util.CacheScope,
      who: String = "ivfCentroids"): DataFrame = {
    requireIntegralId(corpus, idCol, who)
    // The Lloyd loop runs on the DRIVER over the bounded training
    // sample: <= max(trainSample, numCentroids) rows BY CONTRACT,
    // constant in corpus size, so the collect is O(constant) and
    // replaces ~15 scheduler round-trips per trainer call (a broadcast,
    // two shuffles, a fallback join and a checkpoint per round).
    // Arithmetic is replicated EXACTLY in `LocalIvf` (int64 dots; `div`
    // = Java truncating division, probed in OPTIMIZATION_r13.md; argmax
    // ties to the smallest cent_id; vectors arrive PRE-QUANTIZED) and
    // the DuckDB oracle replay pins it. The corpus-wide passes
    // (assignment, encode, probe) remain fully distributed. ONE
    // TakeOrdered serves both the sample (first trainSample rows) and
    // the seeds (first numCentroids rows): both are prefixes of the
    // same (md5-hash, id) order.
    val rows = LocalIvf.sample(
      trainerSample(corpus, idCol, vecCol).limit(math.max(numCentroids, trainSample)).collect(),
      who, vecCol)
    coarseDF(corpus.sparkSession,
      LocalIvf.trainCoarse(rows, numCentroids, trainRounds, trainSample),
      corpus.schema(idCol).dataType)
  }

  /** The trainers' shared sample order over (sid = id as long, qv):
    * ascending (md5-hash of the id, id). Unlimited: every caller states
    * its own take, and the distributed engine runs the limit as one
    * TakeOrdered merge. */
  private def hashOrdered(df: DataFrame, idCol: String, qv: Column): DataFrame = {
    val idHash = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    df.select(col(idCol).cast("long").as("sid"), qv.as("qv"), idHash.as("__h"))
      .orderBy(asc("__h"), asc("sid"))
      .select("sid", "qv")
  }

  /** [[hashOrdered]] over the corpus's quantized vectors (quantized in
    * the ENGINE expression, identically for the IVF and PQ trainers). */
  private def trainerSample(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    hashOrdered(corpus, idCol, qvT(col(vecCol)))

  /** The bounded twins' one corpus read: the whole hash-ordered trainer
    * sample, when the corpus has at most `bound` rows and no duplicate
    * ids (the distributed `groupBy(id)` assignment would collapse
    * those). None sends the caller down its distributed path. */
  private def boundedSample(
      corpus: DataFrame, idCol: String, vecCol: String, who: String,
      bound: Long): Option[LocalIvf.Cents] = {
    requireIntegralId(corpus, idCol, who)
    Bounded.collect(trainerSample(corpus, idCol, vecCol), bound)
      .map(LocalIvf.sample(_, who, vecCol))
      .filter(uniqueIds)
  }

  private def uniqueIds(rows: LocalIvf.Cents): Boolean =
    rows.iterator.map(_._1).toSet.size == rows.length

  /** LocalRelation form of trained coarse centroids: (cent_id, cv, nrm),
    * broadcast into every consumer with no job, no cache entry, no
    * lineage. */
  private def coarseDF(
      spark: org.apache.spark.sql.SparkSession,
      cents: LocalIvf.Cents,
      idType: DataType): DataFrame =
    Bounded.relation(spark,
      cents.toSeq.map { case (cid, cv) => Row(cid, cv.toSeq, LocalIvf.dot(cv, cv)) },
      Seq("cent_id" -> LongType, "cv" -> Bounded.LongArray, "nrm" -> LongType),
      idType, Seq("cent_id"))

  /** The driver-local trainers order and collect the sample through
    * `cast(idCol, long)`: exact for every integral id, but a
    * non-numeric string id would silently null out. Fail loudly at
    * entry instead: every caller in the engine passes an int64 id, and
    * a deployment with string ids must hash them to int64 first (as the
    * fixtures do). */
  private def requireIntegralId(df: DataFrame, idCol: String, who: String): Unit =
    require(Bounded.integralId(df, idCol),
      s"$who: id column '$idCol' must be an integral type (the driver-local " +
        s"trainer orders the sample by cast($idCol as long)); got ${df.schema(idCol).dataType}")

  /** The (probe_id, id, qdot, rn) LocalRelation of a driver-local top-k,
    * ids cast back to the input's id type. */
  private def topKRelation(
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row],
      idCol: String,
      idType: DataType): DataFrame =
    Bounded.relation(spark, rows,
      Seq("probe_id" -> LongType, idCol -> LongType, "qdot" -> LongType, "rn" -> LongType),
      idType, Seq("probe_id", idCol))

  /** One probe's ranked (score, id) list as (probe_id, id, score, rn)
    * rows, rn from 1. */
  private def ranked(pid: Long, top: Seq[(Long, Long)]): Seq[Row] =
    top.zipWithIndex.map { case ((score, id), i) => Row(pid, id, score, (i + 1).toLong) }

  /** Euclidean-nearest-centroid list assignment: (idCol, list_id), one
    * row per corpus vector — a map-side broadcast join +
    * partial-aggregable max_by of 2·dot − |c|² (struct compare is
    * lexicographic; smallest-cent_id tie-break), ≤ 1 row per vector
    * reaches the shuffle. */
  private def ivfAssign(
      corpus: DataFrame, idCol: String, vecCol: String, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col("cent_id"),
        (lit(2L) * quantizedDot(col(vecCol), col("cv")) - col("nrm")).as("cd"))
      .groupBy(col(idCol))
      .agg(max_by(col("cent_id"),
        struct(col("cd"), (lit(0L) - col("cent_id")).as("nc"))).as("list_id"))

  /** Cluster-balanced prototype selection: the m most-central vectors
    * of every trained inverted list — the diversity-preserving coreset
    * a curation pipeline subsamples with when uniform sampling would
    * let dense regions drown sparse ones (the selection counterpart of
    * SemDeDup's within-list pruning; K·m representatives spread across
    * the corpus's cluster structure by construction).
    *
    * Scale shape: the same O(n·K) broadcast-centroid assignment every
    * IVF path pays (constant K, nothing broadcasts but the centroids),
    * then the per-list ranking runs through the bounded-heap
    * `TopKPerKey` — ≤ m rows per (list, partition) cross the shuffle,
    * and the rank window only ever sees the ≤ K·m survivors. Integer
    * affinity with id-broken ties, so the oracle replays the exact
    * selection. */
  def diversitySample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      perList: Int,
      numCentroids: Int = 64,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(perList > 0, s"need perList > 0, got $perList")
    val cents = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "diversitySample")
    val assigned = corpus.crossJoin(broadcast(cents))
      .select(col(idCol), col("cent_id"),
        (lit(2L) * quantizedDot(col(vecCol), col("cv")) - col("nrm")).as("cd"))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("cent_id"), col("cd")),
        struct(col("cd"), (lit(0L) - col("cent_id")).as("nc"))).as("w"))
      .select(col(idCol), col("w.cent_id").as("list_id"), col("w.cd").as("cd"))
    val top = graft.plans.TopKPerKey(
      assigned, Seq("list_id"), Seq(("cd", false), (idCol, true)), perList)
    val w = Window.partitionBy("list_id").orderBy(desc("cd"), asc(idCol))
    top.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` results from each probe's first-stage shortlist
    * balancing relevance against redundancy — pick r maximizes
    * `λ·rel(i) − (1−λ)·max_{s∈selected} sim(i,s)` (λ in permille, all
    * int64, ties to the smaller id) — so near-duplicate hits can't
    * crowd the result page the way a pure relevance sort lets them.
    *
    * Scale shape: the rerank NEVER touches the corpus — it runs on the
    * ≤ m-row-per-probe shortlist any first-stage retriever (brute /
    * LSH / IVF / hybrid) produced: pairwise sims are m² per probe
    * computed once, then k driver-scheduled rounds of
    * join-penalize-argmax over probes×m-bounded relations (selected
    * set `localCheckpoint`ed per round — the pageRank lineage rule).
    * Everything is shortlist-scale; corpus cost stays whatever the
    * first stage paid. */
  def mmrRerank(
      shortlist: DataFrame,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambdaPermille: Int = 700): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      s"lambda is permille in [0,1000], got $lambdaPermille")
    // internal scope, closed before returning: every round's selected
    // relation is localCheckpoint'ed (materialized), so the final
    // result carries no lineage into the cached intermediates
    val scope = new graft.util.CacheScope
    val cand = scope.cache(
      shortlist.select(col("probe_id"), col("vec_id"), col("qdot")))
    // The greedy rounds are k sequential join-penalize-argmax jobs over
    // a SHORTLIST-scale relation: pure scheduling latency at any corpus
    // size. A shortlist within the vector bound reranks driver-local off
    // one bounded read of it and one of its vectors; past the bound (or
    // on input outside the replica's assumptions) the distributed loop
    // below runs unchanged.
    if (cand.schema.forall(_.dataType == LongType) &&
        vectors.schema(idCol).dataType == LongType) {
      Bounded.collect(cand, Bounded.limit(Bounded.Vectors))
        .flatMap(localMmr(_, vectors, idCol, vecCol, k, lambdaPermille)) match {
        case Some(local) => scope.close(); return local
        case None =>
      }
    }
    val withVec = shortlist.select(col("probe_id"), col("vec_id"))
      .join(vectors.select(col(idCol).as("vec_id"), col(vecCol).as("__v")), "vec_id")
    val pa = withVec.select(col("probe_id"), col("vec_id").as("i"), col("__v").as("__va"))
    val pb = withVec.select(col("probe_id"), col("vec_id").as("j"), col("__v").as("__vb"))
    val sims = scope.cache(pa.join(pb, Seq("probe_id"))
      .where(col("i") =!= col("j"))
      .select(col("probe_id"), col("i"), col("j"),
        quantizedDot(col("__va"), col("__vb")).as("sim")))
    var selected = cand.groupBy("probe_id")
      .agg(max_by(struct(col("vec_id"), col("qdot")),
        struct(col("qdot"), (lit(0L) - col("vec_id")).as("nv"))).as("w"))
      .select(col("probe_id"), col("w.vec_id").as("vec_id"),
        col("w.qdot").as("qdot"), lit(1L).as("rn"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val pen = sims
        .join(selected.select(col("probe_id"), col("vec_id").as("j")),
          Seq("probe_id", "j"))
        .groupBy(col("probe_id"), col("i").as("vec_id"))
        .agg(max(col("sim")).as("pen"))
      val scoredRem = cand
        .join(selected.select("probe_id", "vec_id"),
          Seq("probe_id", "vec_id"), "left_anti")
        .join(pen, Seq("probe_id", "vec_id"))
        .select(col("probe_id"), col("vec_id"), col("qdot"),
          (lit(lambdaPermille.toLong) * col("qdot") -
            lit((1000 - lambdaPermille).toLong) * col("pen")).as("mmr"))
      selected = selected.unionByName(scoredRem
          .groupBy("probe_id")
          .agg(max_by(struct(col("vec_id"), col("qdot")),
            struct(col("mmr"), (lit(0L) - col("vec_id")).as("nv"))).as("w"))
          .select(col("probe_id"), col("w.vec_id").as("vec_id"),
            col("w.qdot").as("qdot"), lit(r.toLong).as("rn")))
        .localCheckpoint()
    }
    scope.close()
    selected
  }

  /** Driver-local exact replica of `mmrRerank`'s greedy rounds over a
    * bounded shortlist's (probe, vec, qdot) rows: collects the shortlist
    * ids' PRE-QUANTIZED vectors (the engine expression
    * quantizes — the driver never touches a float), then replays the
    * distributed trajectory bit-for-bit: round 1 argmax (qdot,
    * smaller-id tie); each later round penalizes a remaining candidate
    * by its max quantized dot against the selected set (pairs where
    * BOTH sides have a vector — the inner `sims` join), scores
    * λ·qdot − (1000−λ)·pen, argmax with smaller-id ties; candidates
    * without a computable penalty drop from that round exactly like
    * the distributed inner pen join. Returns None (caller falls back)
    * on null ids/qdots, null/ragged/duplicate vector rows. */
  private def localMmr(
      candRows: Array[Row],
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambdaPermille: Int): Option[DataFrame] = {
    val spark = vectors.sparkSession
    if (candRows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None
    val ids = candRows.map(_.getLong(1)).distinct
    val idRel = Bounded.relation(spark, ids.toSeq.map(Row(_)), Seq("__mid" -> LongType))
    // bounded by the shortlist's distinct ids (a duplicate vector row
    // bails below)
    val vecRows = vectors
      .join(broadcast(idRel), col(idCol) === col("__mid"))
      .select(col(idCol).as("vid"), qvT(col(vecCol)).as("qv"))
      .collect()
    if (vecRows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val vecMap = scala.collection.mutable.LongMap.empty[Array[Long]]
    var dim = -1
    for (r <- vecRows) {
      val vid = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      if (dim < 0) dim = qv.length
      if (qv.length != dim) return None
      if (vecMap.contains(vid)) return None // duplicate vector row
      vecMap(vid) = qv
    }
    // candidates grouped per probe, driver-side (probe order = collect
    // order for a deterministic output row order)
    val perProbe = new java.util.LinkedHashMap[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    for (r <- candRows) {
      val p = r.getLong(0)
      var buf = perProbe.get(p)
      if (buf == null) { buf = new scala.collection.mutable.ArrayBuffer; perProbe.put(p, buf) }
      buf += ((r.getLong(1), r.getLong(2)))
    }
    val lam = lambdaPermille.toLong
    val out = new scala.collection.mutable.ArrayBuffer[Row]
    perProbe.forEach { (probe, rows) =>
      val selected = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
      val selSet = new scala.collection.mutable.HashSet[Long]
      // round 1: argmax (qdot, smaller vec_id)
      var best = -1
      var i = 0
      while (i < rows.length) {
        if (best < 0 || rows(i)._2 > rows(best)._2 ||
            (rows(i)._2 == rows(best)._2 && rows(i)._1 < rows(best)._1)) best = i
        i += 1
      }
      if (best >= 0) { selected += rows(best); selSet += rows(best)._1 }
      for (_ <- 2 to k) {
        var bi = -1
        var bMmr = 0L
        i = 0
        while (i < rows.length) {
          val (v, q) = rows(i)
          if (!selSet.contains(v) && vecMap.contains(v)) {
            val qv = vecMap(v)
            var pen = Long.MinValue
            selected.foreach { case (sv, _) =>
              vecMap.get(sv).foreach { sq =>
                val s = LocalIvf.dot(qv, sq)
                if (s > pen) pen = s
              }
            }
            if (pen != Long.MinValue) {
              val mmr = lam * q - (1000L - lam) * pen
              if (bi < 0 || mmr > bMmr || (mmr == bMmr && v < rows(bi)._1)) {
                bi = i; bMmr = mmr
              }
            }
          }
          i += 1
        }
        if (bi >= 0) { selected += rows(bi); selSet += rows(bi)._1 }
      }
      out ++= ranked(probe, selected.toSeq.map(_.swap))
    }
    Some(Bounded.relation(spark, out.toSeq,
      Seq("probe_id", "vec_id", "qdot", "rn").map(_ -> LongType)))
  }

  /** Content-based ingest drift monitor: each group's (source's /
    * batch's) quantized embedding centroid against the CORPUS
    * centroid, cosine in integer micro units (`cos_micro` ∈
    * [-10⁶, 10⁶]) — the distribution-shift complement of the
    * count-based `TimeSeries.anomalyFlags`: a batch whose embedding
    * mass points somewhere NEW scores low even when its volume looks
    * normal. All arithmetic replays externally: exact int64 component
    * sums, centroids by truncating division (`s div n`, the
    * `ivfCentroids` mean — DuckDB `//` truncates toward zero
    * identically), norms via correctly-rounded IEEE sqrt on integers
    * far below 2⁵³ (floored — the `temperatureMixture` sqrt
    * discipline), final ratio a truncating div; a zero-norm centroid
    * yields null, never a division error.
    *
    * Scale shape: ONE data pass — posexplode to (group, dim) partial
    * sums, map-side combined into O(groups·dim) rows — then
    * metadata-scale aggs; the corpus centroid derives from the SAME
    * per-group sums (exact, no second pass), and the only broadcast
    * is the single corpus-centroid row. */
  def embeddingDrift(corpus: DataFrame, groupCol: String, vecCol: String): DataFrame =
    driftFromSums(componentSums(corpus, groupCol, vecCol), groupCol)

  /** Pairwise source-affinity matrix — the corpus-composition
    * diagnostic beside [[embeddingDrift]]: that compares each group's
    * centroid against the CORPUS, this compares every group pair
    * directly, surfacing which sources carry near-identical content
    * (mirror sites, re-crawls — mixture-weight double counting) and
    * which are genuinely complementary. One `(a, b)` row per unordered
    * group pair with both group sizes and the integer-micro centroid
    * cosine, the drift op's exact arithmetic.
    *
    * Scale shape: the ONE data pass is the shared `componentSums`
    * aggregate; everything after is O(|groups|·dim) metadata — the
    * pair join is a broadcast self-join of the |groups|-row centroid
    * relation (sources are dozens, never data-scale), so the matrix
    * costs nothing beyond the sums at any corpus size. */
  def centroidAffinity(
      corpus: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val gc = componentSums(corpus, groupCol, vecCol)
      .select(col("grp"), col("pos"), expr("s div n").as("qc"), col("n"))
      .groupBy("grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("qc")))).as("arr"),
        min(col("n")).as("n_vecs"))
      .select(col("grp"),
        transform(col("arr"), e => e.getField("qc")).as("gv"), col("n_vecs"))
    val a = gc.select(col("grp").as(s"${groupCol}_a"), col("gv").as("va"),
      col("n_vecs").as("n_a"))
    val b = gc.select(col("grp").as(s"${groupCol}_b"), col("gv").as("vb"),
      col("n_vecs").as("n_b"))
    a.join(broadcast(b), col(s"${groupCol}_a") < col(s"${groupCol}_b"))
      .select(col(s"${groupCol}_a"), col(s"${groupCol}_b"),
        col("n_a"), col("n_b"),
        quantizedDot(col("va"), col("vb")).as("dab"),
        quantizedDot(col("va"), col("va")).as("daa"),
        quantizedDot(col("vb"), col("vb")).as("dbb"))
      .select(col(s"${groupCol}_a"), col(s"${groupCol}_b"),
        col("n_a"), col("n_b"),
        when(col("daa") === 0L || col("dbb") === 0L, lit(null).cast("long"))
          .otherwise(expr("(dab * 1000000L) div (" +
            "cast(floor(sqrt(cast(daa as double))) as long) * " +
            "cast(floor(sqrt(cast(dbb as double))) as long))"))
          .as("cos_micro"))
  }

  /** The drift monitor's ONE data pass alone — (group, dim) quantized
    * component sums and counts. Split out because it is the exactly
    * streaming-legal half: a stream maintains these sums continuously
    * as a single Complete-mode aggregate (state = groups·dim rows of
    * two longs), while the centroid division and the corpus-centroid
    * comparison are a SECOND aggregation level streams can't chain —
    * the sunk sums finish batch-side via [[driftFromSums]], the
    * `constraintGate`/`constraintReport` split. */
  private[graft] def componentSums(
      corpus: DataFrame, groupCol: String, vecCol: String): DataFrame =
    corpus.select(col(groupCol).as("grp"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long"))).as(Seq("pos", "qx")))
      .groupBy("grp", "pos")
      .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))

  /** Finish the drift report from (possibly stream-sunk) component
    * sums — bit-identical to [[embeddingDrift]] on the same data. */
  private[graft] def driftFromSums(sums: DataFrame, groupCol: String): DataFrame = {
    val gc = sums
      .select(col("grp"), col("pos"), expr("s div n").as("qc"), col("n"))
      .groupBy("grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("qc")))).as("arr"),
        min(col("n")).as("n_vecs"))
      .select(col("grp"),
        transform(col("arr"), e => e.getField("qc")).as("gv"), col("n_vecs"))
    val global = sums.groupBy("pos")
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
      .select(col("pos"), expr("gs div gn").as("qc"))
      .agg(array_sort(collect_list(struct(col("pos"), col("qc")))).as("arr"))
      .select(transform(col("arr"), e => e.getField("qc")).as("cv"))
    gc.crossJoin(broadcast(global))
      .select(col("grp").as(groupCol), col("n_vecs"),
        quantizedDot(col("gv"), col("cv")).as("dgc"),
        quantizedDot(col("gv"), col("gv")).as("dgg"),
        quantizedDot(col("cv"), col("cv")).as("dcc"))
      .select(col(groupCol), col("n_vecs"),
        when(col("dgg") === 0L || col("dcc") === 0L, lit(null).cast("long"))
          .otherwise(expr("(dgc * 1000000L) div (" +
            "cast(floor(sqrt(cast(dgg as double))) as long) * " +
            "cast(floor(sqrt(cast(dcc as double))) as long))"))
          .as("cos_micro"))
  }

  /** Inverted-list sizes (list_id, n) of the trained quantizer — the
    * balance diagnostic reported by the scale probe (`BenchScale`):
    * max(n) bounds the worst probe-side task, so training exists
    * precisely to pull max/mean toward 1. */
  def ivfListSizes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 64,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "ivfListSizes")
    ivfAssign(corpus, idCol, vecCol, cents)
      .groupBy("list_id").agg(count(lit(1)).as("n"))
  }

  /** IVF-flat approximate top-k: the Lloyd-trained coarse quantizer
    * (`ivfCentroids`) partitions the corpus into inverted lists by
    * argmax quantized dot; each probe scans its `nprobe` nearest lists
    * and re-scores exactly. All arithmetic — including centroid
    * training — is int64 and every argmax/tie is id-broken, so the
    * result is bit-reproducible in any engine (full hash oracle).
    *
    * Scale shape: K is a CONSTANT independent of corpus size —
    * assignment work is O(n·K) dot products and the centroid broadcast
    * is K quantized vectors at any corpus scale; the probe-side scan
    * shuffles corpus vectors by list id — the inverted-list layout a
    * 100 TB deployment would have pre-materialized and bucketed on
    * disk. `trainRounds = 0` reproduces the untrained hashed-sample
    * quantizer (the round-3 behavior) exactly.
    *
    * `candidateFilter` is FILTERED vector search (the vector-store
    * "metadata filter"): the predicate restricts which corpus vectors
    * may be returned, applied as a PRE-filter at the candidate scan —
    * training, assignment, and probe-list selection stay on the FULL
    * corpus (pinned index geometry, shared across every predicate),
    * while the re-score scan reads only matching vectors, so a
    * selectivity-s predicate cuts re-score cost to s·(probed lists)
    * and never post-filters a found top-k down below k. Caveat at very
    * low selectivity: the probed lists may hold < k matching vectors —
    * raise `nprobe` to widen, exactly as with recall. */
  def ivfTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      numCentroids: Int = 64,
      nprobe: Int = 4,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      candidateFilter: Column = lit(true),
      maxQdot: Long = Long.MaxValue): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "ivfTopK")
    val lists = ivfAssign(corpus, idCol, vecCol, cents)
    val candidates = corpus.where(candidateFilter)
    val probes = probeRows(corpus, probeFilter, idCol, vecCol)
    val corpusLists = candidates.select(col(idCol), col(vecCol)).join(lists, Seq(idCol))
    val rescored = route(probes, cents, nprobe).join(corpusLists, "list_id")
      .where(col(idCol) =!= col("probe_id"))
      .join(broadcast(probes), "probe_id")
      .select(col("probe_id"), col(idCol),
        quantizedDot(col("pe"), col(vecCol)).as("qdot"))
    // hard-negative mode (`hardNegativesTopK`'s scale path): drop the
    // near-dup band at the re-score scan, BEFORE the heap — top-k of
    // the capped set, never a post-filtered top-k
    val capped =
      if (maxQdot == Long.MaxValue) rescored
      else rescored.where(col("qdot") < maxQdot)
    rankTopK(capped, "probe_id", idCol, k)
  }

  /** All-points k-nearest-neighbor GRAPH via the trained IVF coarse
    * quantizer: every corpus vector is a probe of every other — the
    * substrate graph-based pipeline steps (SemDeDup-style cluster
    * pruning, kNN-graph clustering, link-based quality propagation)
    * consume. Semantics are `ivfTopK` with probeFilter = every row,
    * but the dataflow is deliberately different: `ivfTopK` BROADCASTS
    * its probe batch (right for a small query set, impossible when
    * probes = the corpus), here NOTHING is broadcast but the K
    * centroids. Each point ships to its `nprobe` nearest lists
    * (affinity ranked through the bounded-heap `TopKPerKey`, ids-only
    * rows; the vector joins back afterwards and crosses the shuffle
    * `nprobe` times — the irreducible cost of visiting nprobe lists),
    * corpus rows sit in exactly ONE list (so no candidate pair is
    * generated twice), and scoring is a `list_id` equi-join — the
    * blocked self-join shape that replaces the O(n²) brute graph with
    * Σ(per-list probe×member) work bounded by the trained list
    * balance (`ivfListSizes`). All int64 id-broken arithmetic — an
    * external engine replays training, assignment, probe affinity,
    * and the graph bit-for-bit. */
  /** Count-derived centroid budget for the ALL-POINTS graph family:
    * the smallest power of two ≥ √n, floored at 64. A fixed K makes
    * every inverted list grow linearly with the corpus, and since the
    * graph build probes from EVERY point its cost is O(n·nprobe·n/K) =
    * O(n²/K) — measured as a 7.5× last-octave step (23 s → 176 s,
    * 16×→64×) in the round-8 scale probe. K ≈ √n bounds both the
    * assignment (n·K) and the probe (n·nprobe·n/K) at O(n^1.5) — the
    * same envelope `semDedup`'s √n rule rides, with the power-of-two
    * form keeping the derivation one integer bit-length both engines
    * replay exactly. Point queries (ivfTopK etc.) keep their constant
    * K: their probe side is O(probes·n/K), not O(n²/K). */
  def graphCentroidBudget(n: Long): Int = {
    if (n < 2) 64
    else {
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
      math.max(64, 1 << ((bitlen + 1) / 2))
    }
  }

  /** In-flight expansion of the embedding kernels' widest shuffle vs
    * the compressed source estimate (float→int64 quantization doubles
    * the vector bytes, each vector crosses the probe shuffle `nprobe`
    * times, and candidate rows pair two vectors) — the `inflate` the
    * advised embedding entry points hand `ShuffleBudget`. Far smaller
    * than `Dedup.gramShuffleInflate`: these kernels' scale killer was
    * the fixed centroid budget (fixed by the √n rule), not reduce-slot
    * starvation, so the advice here mostly matters at genuine
    * multi-GB corpus scale. */
  private[graft] val embShuffleInflate = 16L

  /** Default edgeFilter sentinel: the driver-local graph fast path is
    * only valid when it can evaluate the candidate filter itself, so it
    * engages only when the caller left the filter at this exact default
    * instance (reference equality — a caller-built `lit(true)` is
    * indistinguishable from a custom filter and conservatively takes
    * the distributed path) or supplied a matching `localEdgeFilter`. */
  private val noEdgeFilter: Column = lit(true)

  def knnGraphIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 0,
      nprobe: Int = 4,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      eager: Boolean = true,
      edgeFilter: Column = noEdgeFilter,
      localEdgeFilter: Option[(Long, Long) => Boolean] = None): DataFrame = {
    // advised-eager contract (see Dedup.nearDupPairs): the assignment,
    // probe, and scoring shuffles execute here under a
    // data-proportional budget; the returned graph is a checkpoint
    // leaf its consumers (pageRank's edge cache, SemDeDup-style
    // pruning) re-read for free
    if (eager) {
      // The corpus count is needed for the √n centroid budget anyway.
      // Within min(vector bound, trainSample) the ENTIRE derivation
      // (train + assign + probe + rescore + top-k) runs driver-local
      // over one bounded hash-ordered read: 2 jobs (count + read)
      // instead of ~10 scheduler-bound ones. A corpus past the bound
      // takes exactly the distributed path below.
      val n = corpus.count()
      val kCents =
        if (numCentroids > 0) numCentroids else graphCentroidBudget(n)
      val bound = math.min(Bounded.limit(Bounded.Vectors), trainSample.toLong)
      if (n <= bound && ((edgeFilter eq noEdgeFilter) || localEdgeFilter.isDefined)) {
        val local = localKnnGraph(corpus, idCol, vecCol, k, kCents, nprobe,
          trainRounds, trainSample, bound,
          localEdgeFilter.getOrElse((_: Long, _: Long) => true))
        // the graph stays a CHECKPOINT leaf like the distributed result:
        // join-heavy consumers (triangles' wedge self-join, linkpred)
        // reference the edges several times, and re-scanning a
        // LocalTableScan per reference measured ~0.2-0.4 s of task time
        // per task per scan — the checkpoint pays it once
        if (local.isDefined) return local.get.localCheckpoint(true)
      }
      return graft.util.ShuffleBudget.withAdvised(corpus, embShuffleInflate) {
        knnGraphIvf(corpus, idCol, vecCol, k, kCents, nprobe,
          trainRounds, trainSample, scope, eager = false, edgeFilter)
          .localCheckpoint(true)
      }
    }
    // numCentroids <= 0 → derive the √n budget from a corpus-count
    // pre-pass (the lshGeometry precedent; one count job, O(1) driver
    // state). The floor of 64 keeps fixture-scale corpora on the same
    // quantizer the fixed-K oracles replay.
    val kCents =
      if (numCentroids > 0) numCentroids else graphCentroidBudget(corpus.count())
    val cents = ivfCentroids(corpus, idCol, vecCol, kCents, trainRounds, trainSample,
      scope, "knnGraphIvf")
    val lists = ivfAssign(corpus, idCol, vecCol, cents)
    val aff = corpus.crossJoin(broadcast(cents))
      .select(col(idCol).as("probe_id"), col("cent_id"),
        (lit(2L) * quantizedDot(col(vecCol), col("cv")) - col("nrm")).as("cd"))
    val probeLists = graft.plans.TopKPerKey(
        aff, Seq("probe_id"), Seq(("cd", false), ("cent_id", true)), nprobe)
      .select(col("probe_id"), col("cent_id").as("list_id"))
      .join(corpus.select(col(idCol).as("probe_id"), col(vecCol).as("pe")), "probe_id")
    val corpusLists = corpus.select(col(idCol), col(vecCol)).join(lists, Seq(idCol))
    val rescored = probeLists.join(corpusLists, "list_id")
      .where(col(idCol) =!= col("probe_id"))
      // edgeFilter restricts CANDIDATES (before the rank cut), so a
      // caller gets "k nearest satisfying the predicate" — the
      // cross-side contract mineBitext needs — not a post-filtered
      // subset of the unconstrained top-k
      .where(edgeFilter)
      .select(col("probe_id"), col(idCol),
        quantizedDot(col("pe"), col(vecCol)).as("qdot"))
    rankTopK(rescored, "probe_id", idCol, k)
  }

  /** Driver-local exact replica of the distributed kNN-graph derivation
    * over the whole corpus, read once in the trainer's (md5-hash, id)
    * order: training, then per row ONE affinity sweep feeds both its
    * assignment and its `nprobe` probe lists (`LocalIvf.Coarse`),
    * candidates come from the probed inverted lists (each corpus row in
    * exactly one list, self-pairs excluded, `pred` applied BEFORE the
    * rank cut), and the top-k is `rankTopK`'s (qdot desc, id asc).
    * Returns None (distributed fallback) past `bound` rows or on
    * duplicate ids. */
  private def localKnnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      kCents: Int,
      nprobe: Int,
      trainRounds: Int,
      trainSample: Int,
      bound: Long,
      pred: (Long, Long) => Boolean): Option[DataFrame] =
    boundedSample(corpus, idCol, vecCol, "knnGraphIvf", bound).map { rows =>
      val n = rows.length
      val ids = rows.map(_._1)
      val vecs = rows.map(_._2)
      val q = new LocalIvf.Coarse(LocalIvf.trainCoarse(rows, kCents, trainRounds, trainSample))
      val np = math.min(nprobe, q.k)
      val out = if (n == 0 || q.k == 0) Seq.empty[Row] else {
        val swept = LocalIvf.chunks(n, 64) { (lo, hi) =>
          (lo until hi).map { r =>
            val cd = q.affinity(vecs(r))
            (q.assign(cd), q.route(cd, np))
          }
        }.flatten
        val listOf = (0 until n).groupBy(swept(_)._1)
        LocalIvf.chunks(n, 64) { (lo, hi) =>
          (lo until hi).flatMap { r =>
            val pid = ids(r)
            val cand = for (p <- swept(r)._2.toSeq; y <- listOf.getOrElse(p, Nil)
                if ids(y) != pid && pred(pid, ids(y)))
              yield (LocalIvf.dot(vecs(r), vecs(y)), ids(y))
            ranked(pid, LocalIvf.topK(cand, k, desc = true))
          }
        }.flatten
      }
      topKRelation(corpus.sparkSession, out, idCol, corpus.schema(idCol).dataType)
    }

  /** Margin-based parallel-pair (bitext) mining — the selection rule
    * behind large mined translation corpora (Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019; the CCMatrix recipe): a raw cosine
    * threshold over-fires in dense regions and under-fires in sparse
    * ones, so each candidate pair is scored by its similarity RELATIVE
    * to both endpoints' neighborhoods — margin(x,y) =
    * sim(x,y) / ((avgNN(x) + avgNN(y)) / 2) — and kept only when the
    * pair is each side's mutual neighbor above a margin threshold.
    *
    * Sides come from the id's parity (a stand-in for the two language
    * shards of an aligned id space; real corpora pass their own
    * side-keyed relations through the same kernel). Per side, each
    * point's k nearest CROSS-side neighbors come from the trained-IVF
    * blocked self-join (`knnGraphIvf` with a cross-side edge filter —
    * candidates restricted before the rank cut, so the neighborhood
    * statistic is computed over the other side only, as the paper
    * defines it). The margin is integer end-to-end: avgNN in
    * milli-qdot units via one truncating division, margin_milli =
    * (qdot·2'000'000) div (avg_a + avg_b) — so an external engine
    * replays training, the graph, and every kept pair bit-for-bit.
    *
    * Scale shape: the expensive step IS the kNN graph (O(n^1.5) under
    * the √n centroid budget, advised-eager); everything after it —
    * the per-probe neighborhood aggregate, the mutual join (two ≤ n·k
    * edge slivers on (id_a, id_b)), and the two stats joins — is
    * linear in edge count with map-side combines. Nothing broadcasts
    * but the centroids inside the graph build. */
  def mineBitext(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      minMarginMilli: Long = 1000L): DataFrame = {
    val crossSide =
      pmod(col("probe_id"), lit(2)) =!= pmod(col(idCol), lit(2))
    // the driver-local twin of crossSide (pmod = floorMod), so the
    // bounded-corpus fast path stays available to the mining kernel;
    // R9cOpsSpec pins both formulations equal
    val crossSideLocal = (a: Long, b: Long) =>
      java.lang.Math.floorMod(a, 2L) != java.lang.Math.floorMod(b, 2L)
    val g = knnGraphIvf(emb, idCol, vecCol, k, edgeFilter = crossSide,
        localEdgeFilter = Some(crossSideLocal))
      .select(col("probe_id"), col(idCol).as("__nb"), col("qdot"))
    // neighborhood statistic: average similarity of each point to its
    // k nearest other-side neighbors, in exact milli-qdot integers
    val stats = g.groupBy("probe_id")
      .agg(sum(col("qdot")).as("__sq"), count(lit(1)).as("__cnt"))
      .select(col("probe_id"), expr("(__sq * 1000) div __cnt").as("__avg"))
    val fwd = g.where(pmod(col("probe_id"), lit(2)) === 0)
      .select(col("probe_id").as("id_a"), col("__nb").as("id_b"), col("qdot"))
    val rev = g.where(pmod(col("probe_id"), lit(2)) === 1)
      .select(col("probe_id").as("id_b"), col("__nb").as("id_a"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .join(stats.select(col("probe_id").as("id_a"), col("__avg").as("__ma")), "id_a")
      .join(stats.select(col("probe_id").as("id_b"), col("__avg").as("__mb")), "id_b")
      // margin is a similarity RATIO — only meaningful on the positive
      // cone (both the pair score and the neighborhood averages > 0);
      // mutual top-k pairs sit there by construction on any corpus
      // where neighbors correlate, and the guard keeps the integer
      // division's domain identical across engines
      .where(col("qdot") >= 0 && (col("__ma") + col("__mb")) > 0)
      .withColumn("margin_milli", expr("(qdot * 2000000) div (__ma + __mb)"))
      .where(col("margin_milli") >= minMarginMilli)
      .select("id_a", "id_b", "qdot", "margin_milli")
  }

  /** Contrastive training-triple export: for each sampled anchor, its
    * nearest ABOVE-band neighbor as the positive (a crawl duplicate /
    * paraphrase — the self-supervised positive large retrieval models
    * mine) and the k nearest BELOW-band vectors as hard negatives —
    * `hardNegativesTopK`'s band discipline, packaged as the
    * (anchor, positive, negative, rank) relation a training job
    * exports directly. Anchors with no above-band neighbor are
    * DROPPED (no positive exists to contrast against); the band
    * threshold is `nearDupPairs`' 450 000 default, so "positive" and
    * "flagged by the dedup screen" are the same set by construction.
    *
    * Scale shape: anchors are a bounded SAMPLE by contract
    * (broadcast); the corpus is scanned once into a scored relation
    * cached for the two band cuts (O(n·|anchors|) rows — the
    * recallEval budget); both cuts rank through bounded heaps; the
    * final join pairs two ≤ anchors·k relations. */
  def trainingTriples(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      negatives: Int = 3,
      minPosQdot: Long = 450000L,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val probes = probeRows(emb, probeFilter, idCol, vecCol)
    val scored = scope.cache(
      scoreAllPairs(emb, probes, idCol, vecCol, "probe_id", "pe"))
    val pos = graft.plans.TopKPerKey(
        scored.where(col("qdot") >= minPosQdot),
        Seq("probe_id"), Seq(("qdot", false), (idCol, true)), 1)
      .select(col("probe_id"),
        col(idCol).as("pos_id"), col("qdot").as("pos_qdot"))
    val neg = rankTopK(scored.where(col("qdot") < minPosQdot), "probe_id", idCol, negatives)
      .select(col("probe_id"),
        col(idCol).as("neg_id"), col("qdot").as("neg_qdot"),
        col("rn").as("neg_rank"))
    pos.join(neg, "probe_id")
      .select(col("probe_id").as("anchor_id"),
        col("pos_id"), col("pos_qdot"), col("neg_id"), col("neg_qdot"),
        col("neg_rank"))
  }

  /** ANN recall evaluation as a first-class relation — the quality
    * gauge a deployment runs BEFORE trusting an approximate index:
    * per probe, how many of the exact top-k the IVF path returned
    * (recall@k in integer permille). SURVEY §9 records this measured
    * offline across regimes; this operator makes the same number a
    * queryable, externally-replayable relation over the production
    * corpus, so an ingest pipeline can gate an index rollout on it
    * (the `stats_constraints` admission-gate discipline, applied to
    * index quality).
    *
    * Scale shape: the truth leg is the brute baseline — probes
    * broadcast, corpus scanned once, bounded-heap `TopKPerKey` — so
    * the evaluation costs O(|probes|·n) dots; run it on a SAMPLED
    * probe set (the standard recall-audit practice), never all
    * probes. The approx leg is the served `ivfTopK` path itself; the
    * comparison joins two ≤ k·|probes| relations. */
  def recallEval(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int = 10,
      numCentroids: Int = 64,
      nprobe: Int = 4): DataFrame = {
    val probes = probeRows(emb, probeFilter, idCol, vecCol)
    val truth = bruteForceTopK(emb, probes, idCol, vecCol, "probe_id", "pe", k)
      .select(col("probe_id"), col(idCol))
    val approx = ivfTopK(emb, idCol, vecCol, probeFilter, k, numCentroids, nprobe)
      .select(col("probe_id").as("__ap"), col(idCol).as("__av"))
    truth
      .join(approx,
        col("probe_id") === col("__ap") && col(idCol) === col("__av"), "left")
      .groupBy("probe_id")
      .agg(count(col("__av")).as("n_hit"))
      .withColumn("recall_milli", expr(s"(n_hit * 1000) div $k"))
  }

  /** Out-of-distribution screen: each vector's affinity to its NEAREST
    * trained prototype — max over the Lloyd centroids of the integer
    * Euclidean-argmax score 2·qdot − |c|² — ranked ascending, bottom-k
    * returned. The vectors far from EVERY prototype are the encoder
    * failures, corrupt inputs, and genuine novelties a curation pass
    * routes to inspection (the complement of `diversitySample`, which
    * keeps each list's MOST central members). Same pinned training as
    * the point-query IVF family, so an external engine replays the
    * centroids and every affinity exactly.
    *
    * Scale shape: one O(n·K) map-side pass against the broadcast
    * constant-K centroid relation, a per-id partial-aggregated max,
    * and a TakeOrdered cut — k rows per partition cross the shuffle,
    * never the corpus; the trailing rank window sees only the ≤ k
    * survivors. */
  def oodScreen(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 50,
      numCentroids: Int = 64,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, numCentroids,
      defaultTrainRounds, defaultTrainSample, scope, "oodScreen")
    val best = emb.crossJoin(broadcast(cents))
      .select(col(idCol),
        (lit(2L) * quantizedDot(col(vecCol), col("cv")) - col("nrm")).as("cd"))
      .groupBy(col(idCol))
      .agg(max(col("cd")).as("best_cd"))
      .orderBy(asc("best_cd"), asc(idCol))
      .limit(k)
    val w = Window.orderBy(asc("best_cd"), asc(idCol))
    best.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** SemDeDup-style semantic deduplication (embedding-space near-dup
    * pruning): cluster the corpus with the SAME Lloyd-trained coarse
    * quantizer the IVF index uses, compare pairs only WITHIN a
    * cluster, and drop every vector that has a smaller-id neighbor at
    * or above the similarity threshold. Returns the kept rows
    * (id, list_id) — the keep-first rule over semantic duplicates.
    *
    * Scale shape: this is the practical answer to "embedding near-dup
    * at 100 TB" — the all-pairs comparison that is O(n²) globally
    * (`nearDupPairsCrossJoin`) is confined to one inverted list, whose
    * size the trained quantizer bounds (the balance metric
    * `ivfListSizes` reports). Per-list work is O(m²) in list size m
    * with K lists running in parallel; each vector crosses the shuffle
    * once (keyed by list), the centroid relation is a constant-size
    * broadcast, and the anti-join ships only the dropped-id sliver.
    * Semantic duplicates sit close in embedding space, so co-clustering
    * captures them; a pair split across cluster boundaries is missed —
    * the standard SemDeDup recall trade, bought for the n² → Σm² cost
    * drop. All arithmetic is the int64 quantized dot with id-broken
    * argmax, so an external engine replays training, assignment, and
    * the drop set bit-for-bit (full hash oracle). */
  def semDedupKeep(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minQdot: Long,
      numCentroids: Int = 64,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope,
      eager: Boolean = true): DataFrame = {
    // advised-eager contract (see Dedup.nearDupPairs): the list-keyed
    // self-join — the kernel's Σm² stage — executes here under a
    // data-proportional shuffle budget; the kept (id, list_id) rows
    // return as a checkpoint leaf
    if (eager) {
      // Within the vector bound the whole kernel (train + assign +
      // within-list pair scan + drop) runs driver-local off ONE bounded
      // hash-ordered read; see localSemDedupKeep.
      localSemDedupKeep(corpus, idCol, vecCol, minQdot, numCentroids,
        trainRounds, trainSample) match {
        case Some(df) => return df.localCheckpoint(true)
        case None =>
      }
      return graft.util.ShuffleBudget.withAdvised(corpus, embShuffleInflate) {
        semDedupKeep(corpus, idCol, vecCol, minQdot, numCentroids,
          trainRounds, trainSample, scope, eager = false).localCheckpoint(true)
      }
    }
    val cents = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "semDedupKeep")
    // (id, vec, list_id): consumed by both sides of the within-list
    // self-join and by the final anti-join — cache for the query's
    // lifetime (Verify/Bench clear per query)
    val lists = scope.cache(
      corpus.select(col(idCol), col(vecCol))
        .join(ivfAssign(corpus, idCol, vecCol, cents), Seq(idCol)))
    val a = lists.select(col("list_id"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = lists.select(col("list_id"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    val dropped = a.join(b, Seq("list_id"))
      .where(col("id_a") < col("id_b"))
      .where(quantizedDot(col("va"), col("vb")) >= minQdot)
      .select(col("id_b").as(idCol))
      .distinct()
    lists.select(col(idCol), col("list_id"))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Driver-local exact replica of [[semDedupKeep]] for a corpus within
    * min(trainer take, vector bound): the same trainer prefix, the
    * shared assignment, and a pair (a < b) in one list drops b iff
    * qdot ≥ minQdot (the distributed filter verbatim). Lists are
    * independent, so the Σm² scan runs chunk-parallel by list. Returns
    * None (distributed fallback) past the bound or on duplicate ids. */
  private def localSemDedupKeep(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minQdot: Long,
      numCentroids: Int,
      trainRounds: Int,
      trainSample: Int): Option[DataFrame] = {
    val bound = math.min(math.max(numCentroids, trainSample).toLong, Bounded.limit(Bounded.Vectors))
    boundedSample(corpus, idCol, vecCol, "semDedupKeep", bound).map { rows =>
      val q = new LocalIvf.Coarse(
        LocalIvf.trainCoarse(rows, numCentroids, trainRounds, trainSample))
      val kept = if (rows.isEmpty || q.k == 0) Seq.empty[Row] else {
        val assign = rows.map { case (_, v) => q.assign(q.affinity(v)) }
        // members per list, sorted by id so (a < b) is the upper triangle
        val lists = rows.indices.groupBy(assign(_)).values.toArray.map(_.sortBy(rows(_)._1))
        val dropped = new Array[Boolean](rows.length)
        LocalIvf.chunks(lists.length, 1) { (lo, hi) =>
          for (l <- lo until hi; i <- lists(l).indices; j <- i + 1 until lists(l).length)
            if (LocalIvf.dot(rows(lists(l)(i))._2, rows(lists(l)(j))._2) >= minQdot)
              dropped(lists(l)(j)) = true
        }
        rows.indices.filterNot(dropped).map(r => Row(rows(r)._1, q.ids(assign(r))))
      }
      Bounded.relation(corpus.sparkSession, kept,
        Seq(idCol -> LongType, "list_id" -> LongType),
        corpus.schema(idCol).dataType, Seq(idCol, "list_id"))
    }
  }

  /** Product-quantization encoder — the storage half of the IVF-PQ
    * design every billion-vector ANN deployment runs: each vector is
    * split into `numSub` subvectors and each subvector replaced by the
    * id of its nearest codebook centroid, compressing dim floats to
    * `numSub` small codes (64 × 4 B → 8 × 1 B here) plus a shared
    * `numSub · codebook` codebook. Returns one row per (vector,
    * subspace): (id, sub, code, qerr) with qerr = ‖x_sub − c_code‖²
    * in quantized int64 units — the reconstruction-error audit column.
    *
    * Training mirrors `ivfCentroids`: seeds are the `codebook`
    * smallest-md5-hash sample vectors (codes = their hash rank), one
    * deterministic Lloyd round per subspace over the bounded
    * `trainSample`, truncating-integer-division means, every argmin
    * id-broken — an external engine replays the whole codebook
    * bit-for-bit (full hash oracle).
    *
    * Scale shape: the codebook is `numSub·codebook` rows broadcast
    * once; encoding is a map-side broadcast join + partial-aggregable
    * min_by (≤ 1 row per (vector, subspace) reaches the shuffle), so
    * the encode pass is O(n · numSub · codebook) dot products of
    * length dim/numSub — linear in corpus size with a constant
    * codebook, like the IVF coarse pass above it. */
  private def qvT(c: Column) = transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer squared Euclidean distance between quantized int64
    * vectors, from three native dots. */
  private def qdist(x: Column, c: Column) =
    quantizedDot(x, x) - lit(2L) * quantizedDot(x, c) + quantizedDot(c, c)

  /** Explode each row's quantized vector column `vec` into `numSub`
    * (sub, sv) subvector rows. */
  private def pqSubspaces(df: DataFrame, vec: String, numSub: Int, subDim: Int): DataFrame = df
    .withColumn("sub", explode(sequence(lit(0), lit(numSub - 1))))
    .withColumn("sv", slice(col(vec), col("sub") * lit(subDim) + lit(1), lit(subDim)))
    .drop(vec)

  /** The trained PQ codebook: (sub, code, cv) — `numSub · codebook`
    * rows, cached into `scope`. Training mirrors `ivfCentroids`: seeds
    * are the `codebook` smallest-md5-hash sample vectors (codes =
    * their hash rank), one deterministic Lloyd round per subspace over
    * the bounded `trainSample`, truncating-integer-division means,
    * every argmin id-broken. */
  def pqCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    pqCodebookFromQ(corpus.select(col(idCol), qvT(col(vecCol)).as("q")),
      idCol, numSub, dim / numSub, codebook, trainSample, scope)
  }

  /** `pqCodebook` over an ALREADY-quantized (id, q: array<long>)
    * relation — the entry point residual encoding needs (residuals
    * are int64 differences, never floats). */
  private[ext] def pqCodebookFromQ(
      qdf: DataFrame,
      idCol: String,
      numSub: Int,
      subDim: Int,
      codebook: Int,
      trainSample: Int,
      scope: graft.util.CacheScope): DataFrame = {
    requireIntegralId(qdf, idCol, "pqCodebookFromQ")
    // driver-local Lloyd round over the bounded sample, the
    // ivfCentroids rationale verbatim (see there); codes = hash rank of
    // the first `codebook` sample rows, codeless cells keep their seed
    val rows = LocalIvf.sample(
      hashOrdered(qdf, idCol, col("q")).limit(trainSample).collect(), "pqCodebookFromQ", "q")
    bookDF(qdf.sparkSession, LocalIvf.trainBook(rows.map(_._2), numSub, subDim, codebook))
  }

  /** LocalRelation form of a trained PQ codebook: (sub, code, cv). */
  private def bookDF(
      spark: org.apache.spark.sql.SparkSession,
      book: Array[LocalIvf.Cents]): DataFrame =
    Bounded.relation(spark,
      for (sub <- book.indices; (code, cv) <- book(sub)) yield Row(sub, code, cv.toSeq),
      Seq("sub" -> org.apache.spark.sql.types.IntegerType, "code" -> LongType,
        "cv" -> Bounded.LongArray))

  /** Encode the corpus under a trained codebook: (id, sub, code, qerr)
    * — a map-side broadcast join + partial-aggregable min_by, ≤ 1 row
    * per (vector, subspace) reaches the shuffle. */
  def pqCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      numSub: Int,
      subDim: Int): DataFrame =
    pqCodesFromQ(corpus.select(col(idCol), qvT(col(vecCol)).as("q")),
      idCol, cents, numSub, subDim)

  private[ext] def pqCodesFromQ(
      qdf: DataFrame,
      idCol: String,
      cents: DataFrame,
      numSub: Int,
      subDim: Int): DataFrame =
    pqSubspaces(qdf, "q", numSub, subDim)
      .join(broadcast(cents), Seq("sub"))
      .select(col(idCol), col("sub"), col("code"), qdist(col("sv"), col("cv")).as("d"))
      .groupBy(idCol, "sub")
      .agg(min_by(struct(col("code"), col("d")), struct(col("d"), col("code"))).as("best"))
      .select(col(idCol), col("sub").cast("long").as("sub"),
        col("best.code").as("code"), col("best.d").as("qerr"))

  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val cents = pqCodebook(corpus, idCol, vecCol, dim, numSub, codebook, trainSample, scope)
    pqCodes(corpus, idCol, vecCol, cents, numSub, dim / numSub)
  }

  /** IVF-PQ approximate top-k — the search path that consumes
    * `pqEncode`'s codes, composing the two trained quantizers every
    * billion-vector ANN deployment pairs: the Lloyd-trained COARSE
    * quantizer routes each probe to its `nprobe` nearest inverted
    * lists, the PQ codebook turns each candidate into `numSub` small
    * codes, and candidates are scored by ADC (asymmetric distance
    * computation — the probe's exact subvector against each
    * candidate's code centroid, summed from a per-(probe, sub, code)
    * lookup table). The best `refine` candidates per probe by ADC are
    * then re-scored EXACTLY and ranked.
    *
    * PQ here encodes raw vectors, not coarse residuals — the
    * no-residual IVFADC variant (residual encoding couples the two
    * codebooks; raw-vector PQ keeps both trainers independently
    * replayable, which is what gives this query a full hash oracle).
    *
    * Scale shape: the candidate pass touches ONLY the codes relation
    * (numSub small ints per vector — the compressed store that is the
    * point of PQ), keyed by list id; the ADC table is
    * probes·numSub·codebook rows broadcast once; raw vectors are
    * fetched for just the ≤ refine·probes shortlist. All arithmetic
    * int64, every argmin/rank id-broken — bit-reproducible. */
  def ivfPqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      numCentroids: Int = 64,
      nprobe: Int = defaultNprobe,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      refine: Int = defaultRefine,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame =
    probeIndex(
      annIndex(corpus, idCol, vecCol, numCentroids, dim, numSub, codebook,
        trainRounds, trainSample, scope),
      corpus, idCol, vecCol, probeFilter, k, nprobe, numSub, dim / numSub, refine)

  /** The persistable ANN index of one corpus — IVFADC's build-time half,
    * the `dedupIndex` pattern for embeddings: the trained coarse
    * centroids, the corpus's inverted-list assignment, the trained PQ
    * codebook, and the corpus's PQ codes. `ivfPqTopK` rebuilds all four
    * per call only because oracle queries must stand alone; a production
    * deployment trains ONCE at build time, persists these four relations
    * (`writeAnnIndex`/`readAnnIndex` — all-int64 columns, so the parquet
    * round trip is exact), and serves every probe batch from them via
    * `probeIndex`. The raw-vector relation is NOT part of the index: the
    * candidate pass needs only codes (numSub small ints per vector — the
    * compressed store that is the point of PQ); raw vectors are fetched
    * from the corpus table for just the ≤ refine·probes shortlist. */
  final case class AnnIndex(
      coarse: DataFrame, // (cent_id, cv: array<long>, nrm)
      lists: DataFrame,  // (id, list_id)
      book: DataFrame,   // (sub, code, cv: array<long>)
      codes: DataFrame)  // (id, sub, code)

  /** Train both quantizers and encode the corpus — the once-per-corpus
    * cost. Parameters mirror `ivfPqTopK`. */
  def annIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 64,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): AnnIndex = {
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    requireIntegralId(corpus, idCol, "annIndex")
    val spark = corpus.sparkSession
    val idType = corpus.schema(idCol).dataType
    val subDim = dim / numSub
    // Both trainers read prefixes of the same hash-ordered sample (the
    // PQ sample is a prefix of the IVF take), so ONE bounded TakeOrdered
    // serves both. It asks for one row past the take: a short read
    // within the vector bound proves the whole corpus is on the driver,
    // and assignment and encode (normally the two distributed corpus
    // passes) then run locally over the same rows.
    val take = math.max(numCentroids, trainSample)
    val rows = LocalIvf.sample(
      trainerSample(corpus, idCol, vecCol).limit(take + 1).collect(), "annIndex", vecCol)
    val trainRows = rows.take(take)
    val cents = LocalIvf.trainCoarse(trainRows, numCentroids, trainRounds, trainSample)
    val coarse = coarseDF(spark, cents, idType)
    val bookArr = LocalIvf.trainBook(
      trainRows.map(_._2).take(trainSample), numSub, subDim, codebook)
    val book = bookDF(spark, bookArr)
    val bound = math.min(take.toLong, Bounded.limit(Bounded.Vectors))
    if (Bounded.fits(rows, bound).exists(all => uniqueIds(all) && all.forall(_._2.length == dim))) {
      val q = new LocalIvf.Coarse(cents)
      val lists = if (q.k == 0) Seq.empty[Row]
        else rows.toSeq.map { case (id, v) => Row(id, q.ids(q.assign(q.affinity(v)))) }
      val codes = rows.toSeq.flatMap { case (id, v) =>
        LocalIvf.encode(v, bookArr, subDim).map { case (sub, code) => Row(id, sub, code) }
      }
      // coalesce(1): LocalRelations otherwise parallelize to the
      // session default (32 slices), and writeAnnIndex would pay 32
      // parquet-writer inits per relation AND leave a 32-part-file
      // layout every downstream read reopens (guide §6 small files;
      // measured 3-5 s of task time PER WRITE at sf0.1 against the
      // distributed plans' AQE-coalesced single files)
      return AnnIndex(
        coarse,
        Bounded.relation(spark, lists, Seq(idCol -> LongType, "list_id" -> LongType),
          idType, Seq(idCol, "list_id")).coalesce(1),
        book,
        Bounded.relation(spark, codes,
          Seq(idCol -> LongType, "sub" -> LongType, "code" -> LongType),
          idType, Seq(idCol)).coalesce(1))
    }
    // the corpus-wide passes (assignment, encode) stay distributed
    AnnIndex(
      coarse,
      ivfAssign(corpus, idCol, vecCol, coarse),
      book,
      pqCodes(corpus, idCol, vecCol, book, numSub, subDim)
        .select(col(idCol), col("sub"), col("code")))
  }

  /** Persist the four index relations under `dir` (parquet), after
    * rolling forward a publish that a crash interrupted. They are
    * staged and swapped in through one `Sinks.rewriteAndSwap`, so a
    * rebuild over a live index leaves the old index or the new one,
    * never new centroids beside old lists. The four staged writes are
    * concurrent jobs (guide §2.6): each is a sub-second action whose
    * fixed scheduling latency dominated the sequential choreography. */
  def writeAnnIndex(index: AnnIndex, dir: String): Unit = {
    val spark = index.coarse.sparkSession
    graft.io.Sinks.recoverSwap(spark, graft.io.Sinks.swapJournal(dir))
    graft.io.Sinks.rewriteAndSwap(spark, dir)(Seq(
      "coarse" -> (() => index.coarse), "lists" -> (() => index.lists),
      "book" -> (() => index.book), "codes" -> (() => index.codes)))
  }

  /** The four index relations under `dir`, after rolling forward a
    * publish that a crash interrupted (`Sinks.recoverSwap`, under its
    * single-writer assumption). */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, dir: String): AnnIndex = {
    graft.io.Sinks.recoverSwap(spark, graft.io.Sinks.swapJournal(dir))
    AnnIndex(
      graft.io.Sinks.readParquet(spark, s"$dir/coarse"),
      graft.io.Sinks.readParquet(spark, s"$dir/lists"),
      graft.io.Sinks.readParquet(spark, s"$dir/book"),
      graft.io.Sinks.readParquet(spark, s"$dir/codes"))
  }

  /** Incremental ANN index maintenance — the daily-ingest twin of
    * `Search.updateTextIndex` for embeddings: encode a vector batch
    * with the PERSISTED quantizers and APPEND its list assignments and
    * PQ codes to the index directory. The coarse centroids and PQ
    * codebook are read (K + numSub·codebook rows — index metadata),
    * never retrained: pinned geometry is the same discipline
    * `nearDupPairsAgainst` applies to LSH band joins — codes are only
    * comparable when the SAME trained quantizers produced them, so a
    * per-batch retrain would silently desync the batch from the
    * corpus. Existing lists/codes files are never rewritten (parquet
    * append adds part files only — spec-pinned byte-identical), so
    * per-batch cost is O(batch · (K + numSub·codebook)) dot products:
    * flat in the indexed corpus size. New ids must not collide with
    * indexed ones (CDC key discipline). `probeIndex` over the updated
    * artifact is bit-identical to a full re-encode of old ∪ batch
    * under the same pinned quantizers (`ann_index_update`'s oracle
    * replays exactly that: training restricted to the original slice,
    * encode over everything).
    *
    * The accuracy trade is the standard one every production IVF
    * deployment makes between retrains: a drifting vector distribution
    * degrades list balance and codebook fit gradually (recall, never
    * correctness — candidate routing and ADC stay exact w.r.t. the
    * pinned quantizers), and a periodic full rebuild re-centers, like
    * `compactTextIndex` folding deltas.
    *
    * A purge or rebuild that a crash interrupted is rolled forward
    * first: appending into a half-swapped index would put the batch's
    * codes in a `codes` directory that the recovery then replaces. The
    * append itself is two concurrent in-place writes, not one atomic
    * publish: when one fails, the batch may be in one relation and not
    * the other, and must be purged by id before it is re-sent. */
  def updateAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int = 8,
      subDim: Int = 8): Unit = {
    graft.io.Sinks.recoverSwap(spark, graft.io.Sinks.swapJournal(dir))
    val coarse = graft.io.Sinks.readParquet(spark, s"$dir/coarse")
    val book = graft.io.Sinks.readParquet(spark, s"$dir/book")
    // two independent appends — concurrent jobs (guide §2.6)
    graft.util.Par.jobs(Seq(
      () => ivfAssign(batch, idCol, vecCol, coarse)
        .write.mode("append").parquet(s"$dir/lists"),
      () => pqCodes(batch, idCol, vecCol, book, numSub, subDim)
        .select(col(idCol), col("sub"), col("code"))
        .write.mode("append").parquet(s"$dir/codes")))
  }

  /** Right-to-be-forgotten propagation into the persisted ANN index —
    * the deletion twin of `updateAnnIndex`, same pinned-quantizer
    * discipline: `lists` and `codes` are rewritten WITHOUT the deleted
    * ids (one pass each), while `coarse` and `book` are untouched —
    * quantizers are index metadata, not per-document state, and
    * retraining them on the retained slice would silently desync every
    * surviving code. `probeIndex` over the
    * purged artifact is therefore bit-identical to an index whose
    * assignment/encode ran only over the retained corpus under the SAME
    * pinned quantizers (`privacy_purge_ann`'s oracle replays exactly
    * that), and a purged id can never surface: it is absent from every
    * inverted list and every code row. The two rewrites publish through
    * `Sinks.rewriteAndSwap` (staged siblings, then one journaled swap —
    * no window ever holds the only copy of a relation). The rewrite
    * also folds accumulated append-part files, so a purge doubles as
    * the small-file compaction pass.
    *
    * Cost: the delete ids are read once (`Bounded.Keys`: one job, none
    * for a LocalRelation) and dropped by an `IN` filter; an empty set
    * is a no-op that runs no job and leaves the index files as they
    * are (no rewrite, so no compaction either). Past `Bounded.Vectors`
    * ids the distributed `distinct` is broadcast into anti-joins
    * instead. Then two concurrent rewrites and the swap. */
  def purgeAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      deleteIds: DataFrame,
      idCol: String): Unit = {
    val del = new Bounded.Keys(deleteIds, idCol, idCol)
    if (del.isEmpty) return
    // roll forward (or clear) any crash-interrupted rewrite first —
    // the same mixed-relation hazard as the text-index purge
    graft.io.Sinks.recoverSwap(spark, dir, Seq("lists", "codes"))
    graft.io.Sinks.rewriteAndSwap(spark, dir)(Seq("lists", "codes").map(rel =>
      rel -> (() => del.anti(graft.io.Sinks.readParquet(spark, s"$dir/$rel")))))
  }

  /** Serve one probe batch from a prebuilt index — the per-query cost a
    * production IVFADC deployment actually pays: route each probe to its
    * `nprobe` nearest lists (centroids broadcast), ADC-score candidates
    * from their codes alone, exact re-rank of the `refine`-deep
    * shortlist against raw corpus vectors. No training, no encode pass.
    * `numSub`/`subDim` must match the index's build geometry (a
    * persisted deployment versions them with the index, as
    * `dedupIndex` does its LSH geometry). */
  def probeIndex(
      index: AnnIndex,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nprobe: Int = defaultNprobe,
      numSub: Int = 8,
      subDim: Int = 8,
      refine: Int = defaultRefine): DataFrame = {
    // a bounded index serves driver-locally (see localProbeServe);
    // anything outside the replica's assumptions (index or probe batch
    // past the bound, non-integral ids, nulls, duplicates, ragged dims)
    // falls through to the distributed serve below, unchanged
    localProbeServe(index, corpus, idCol, vecCol, probeFilter, k,
      nprobe, numSub, subDim, refine) match {
      case Some(df) => return df
      case None =>
    }
    val probes = probeRows(corpus, probeFilter, idCol, vecCol)
    // ADC lookup table: probes × numSub × codebook distances — tiny,
    // broadcast into the code-keyed candidate join
    val adc = pqSubspaces(probes.select(col("probe_id"), qvT(col("pe")).as("q")),
        "q", numSub, subDim)
      .join(broadcast(index.book), Seq("sub"))
      .select(col("probe_id"), col("sub").cast("long").as("sub"), col("code"),
        qdist(col("sv"), col("cv")).as("d"))
    // candidates carry CODES only (8 small ints), never raw vectors:
    // each (probe, candidate) sums its numSub table distances
    val cand = route(probes, index.coarse, nprobe).join(index.lists, "list_id")
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol))
      .join(index.codes, idCol)
      .join(broadcast(adc), Seq("probe_id", "sub", "code"))
      .groupBy("probe_id", idCol)
      .agg(sum(col("d")).as("adc"))
    rerank(cand, "adc", ascending = true, probes, corpus, idCol, vecCol, refine, k)
  }

  /** Driver-local exact replica of [[probeIndex]]'s serve leg for an
    * index of at most `Bounded.Vectors` indexed vectors: the four index
    * relations and the probe batch arrive through bounded reads (five
    * independent jobs, overlapped per guide §2.6), routing / ADC /
    * shortlist run in `LocalIvf`, and ONE more distributed pass fetches
    * raw vectors for just the ≤ probes·refine shortlist ids (so the
    * fast path never assumes the CORPUS is small — only the index and
    * the probe batch). The shortlist is top-refine by (adc asc, id asc);
    * rescore drops shortlist ids absent from the corpus (inner join).
    * The index relations come from outside, so every null, duplicate
    * or ragged row in them bails to the distributed serve. At sf0.1
    * this replaces the serve leg's ~10 scheduler-bound jobs with 6
    * bounded ones. */
  private def localProbeServe(
      index: AnnIndex,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nprobe: Int,
      numSub: Int,
      subDim: Int,
      refine: Int): Option[DataFrame] = {
    val bound = Bounded.limit(Bounded.Vectors)
    if (bound <= 0 || !Bounded.integralId(corpus, idCol)) return None
    val spark = corpus.sparkSession
    val idType = corpus.schema(idCol).dataType
    val codesBound = numSub * bound + 1
    // five bounded independent reads — overlap them (guide §2.6)
    val reqs = Seq(
      index.lists.select(col(idCol).cast("long"), col("list_id").cast("long")) -> bound,
      index.codes.select(col(idCol).cast("long"), col("sub").cast("long"),
        col("code").cast("long")) -> codesBound,
      index.coarse.select(col("cent_id").cast("long"), col("cv"), col("nrm").cast("long")) -> bound,
      index.book.select(col("sub").cast("long"), col("code").cast("long"), col("cv")) -> codesBound,
      corpus.where(probeFilter).select(col(idCol).cast("long"), qvT(col(vecCol))) -> bound)
    val got = new Array[Option[Array[Row]]](reqs.length)
    graft.util.Par.jobs(reqs.indices.map(i =>
      () => got(i) = Bounded.collect(reqs(i)._1, reqs(i)._2)))
    if (got.exists(_.isEmpty)) return None
    val Array(listsRaw, codesRaw, coarseRaw, bookRaw, probesRaw) = got.map(_.get)
    if (got.exists(_.get.exists(r => (0 until r.length).exists(r.isNullAt)))) return None
    val probes = probesRaw.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val lists = listsRaw.map(r => (r.getLong(0), r.getLong(1)))
    val coarse = coarseRaw.map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val book = bookRaw.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def unique[T](keys: Seq[T]): Boolean = keys.distinct.length == keys.length
    // every probe/centroid vector spans exactly numSub·subDim coordinates
    // and every book cell subDim; duplicate cent_ids would double-visit
    // a list and duplicate (sub, code) cells sum per cell in the
    // distributed plan — none occurs from clean training
    val dim = numSub * subDim
    if (!unique(probes.map(_._1)) || !unique(lists.map(_._1)) ||
        !unique(coarse.map(_._1)) || !unique(book.map(b => (b._1, b._2))) ||
        probes.exists(_._2.length != dim) || coarse.exists(_._2.length != dim) ||
        book.exists(_._3.length != subDim)) return None
    val empty = Some(topKRelation(spark, Nil, idCol, idType))
    if (probes.isEmpty || coarse.isEmpty) return empty

    val q = new LocalIvf.Coarse(coarse.map(_._1), coarse.map(_._2), coarse.map(_._3))
    // book cells by subspace; a cell outside [0, numSub) never joins a
    // probe subvector in the distributed plan
    val bookArr: Array[LocalIvf.Cents] = Array.tabulate(numSub)(s =>
      book.collect { case (sub, code, cv) if sub == s => (code, cv) })
    val membersOf = lists.groupMap(_._2)(_._1)
    val codesOf = codesRaw.groupMap(_.getLong(0))(r => (r.getLong(1), r.getLong(2)))
    val np = math.min(nprobe, q.k)
    val shortlists = probes.map { case (pid, pq) =>
      val table = LocalIvf.adcTable(pq, bookArr, subDim)
      val cand = q.route(q.affinity(pq), np).toSeq.flatMap { c =>
        membersOf.getOrElse(q.ids(c), Array.empty[Long]).toSeq.filter(_ != pid).flatMap(cid =>
          codesOf.get(cid).flatMap(LocalIvf.adcScore(table, _)).map((_, cid)))
      }
      (pid, pq, LocalIvf.topK(cand, refine, desc = false).map(_._2))
    }
    val shortIds = shortlists.iterator.flatMap(_._3).toSet
    if (shortIds.isEmpty) return empty
    // ONE distributed pass fetches raw vectors for just the shortlist
    // (at most one row per shortlist id unless the corpus repeats ids,
    // which bails below) — the corpus itself is never assumed bounded
    val fetched = corpus
      .select(col(idCol).cast("long").as("__sid"), qvT(col(vecCol)).as("__qv"))
      .where(col("__sid").isin(shortIds.toSeq: _*))
      .collect()
    if (fetched.exists(r => r.isNullAt(1))) return None
    val vecOf = new scala.collection.mutable.LongMap[Array[Long]]
    fetched.foreach { r =>
      val sid = r.getLong(0)
      if (vecOf.contains(sid)) return None // duplicate corpus ids: bail
      val v = r.getSeq[Long](1).toArray
      if (v.length != dim) return None // ragged corpus vector: bail
      vecOf(sid) = v
    }
    Some(topKRelation(spark, shortlists.toSeq.flatMap { case (pid, pq, short) =>
      ranked(pid, LocalIvf.topK(
        short.flatMap(cid => vecOf.get(cid).map(v => (LocalIvf.dot(pq, v), cid))), k, desc = true))
    }, idCol, idType))
  }

  /** The join-ready serving form of a persisted index's corpus half:
    * one row per indexed vector, `(list_id, idCol, codes)` with the
    * numSub PQ codes packed into a single array (ordered by subspace).
    * Built once per index epoch and persisted next to the index — the
    * in-RAM replica every IVFADC serving node keeps (PQ exists so the
    * whole corpus compresses to numSub bytes/vector; at 8 codes per
    * vector a billion-vector list fits executor memory, which is why
    * [[annScreenScored]] can broadcast it). */
  def annServingView(index: AnnIndex, idCol: String): DataFrame = {
    val packed = index.codes.groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    index.lists.join(packed, idCol)
  }

  /** ADC-score one batch of arriving vectors against a prebuilt index
    * WITHOUT any probe-side shuffle — the ingest-screen form of
    * [[probeIndex]], safe to apply to a STREAMING DataFrame (the
    * embedding twin of `StreamOps.nearDupScreen`): flag semantic
    * near-dups / contamination at arrival instead of in a nightly
    * batch.
    *
    * [[probeIndex]] routes probes to lists with a window rank and
    * sums ADC terms through a grouped aggregation — both shuffles,
    * and windows are unsupported over streams. Here both collapse to
    * ROW-LOCAL expressions by pulling the index METADATA (K coarse
    * centroids + numSub·codebook PQ centroids — a few thousand
    * int64[8..64]s, independent of corpus size) to the driver as
    * array literals, exactly the in-RAM posture a FAISS-style serving
    * node keeps:
    *  - routing: per probe row, distances to all K centroids via a
    *    `transform` over the centroid literal, top-nprobe by
    *    (2·q·c − |c|² DESC, cent_id) from one row-local `sort_array`;
    *  - the probe's full ADC lookup table: a numSub·codebook int64
    *    array column (`‖q_sub − cv‖²` per (sub, code)) built by one
    *    nested `transform`;
    *  - candidate scoring: after the broadcast join against the
    *    serving view, a candidate's ADC distance is a zip_with/
    *    aggregate over its packed codes into the probe's table — no
    *    per-(probe, sub) rows ever exist.
    * So the arriving stream's plan is scan → projections → ONE
    * broadcast hash join → projection: zero exchanges, zero state
    * (spec-pinned). Arithmetic is bit-identical to [[probeIndex]]'s
    * candidate stage (same quantization, same tie-breaks), so the
    * batch finish ([[annScreenFinish]]) lands on the same rows as a
    * batch [[probeIndex]] over the same arrivals — which is what lets
    * `stream_ann_screen` share `ann_index_probe`'s oracle replay.
    *
    * Scale: per-probe cost is O(K·dim + numSub·codebook·subDim +
    * nprobe·avg_list·numSub) — flat in corpus size for the routing
    * and table halves; the candidate half touches only the broadcast
    * codes replica. An index too large even in PQ form splits by
    * list_id range into per-executor replicas (bucketed static side,
    * arrival batch repartitioned — batch-bounded, still no
    * corpus-side shuffle). */
  def annScreenScored(
      vecs: DataFrame,
      index: AnnIndex,
      servingView: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int = defaultNprobe,
      numSub: Int = 8,
      subDim: Int = 8,
      codebook: Int = 16): DataFrame = {
    val coarseRows = index.coarse.select("cent_id", "cv", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2)))
      .sortBy(_._1)
    require(coarseRows.nonEmpty, "annScreenScored: empty coarse codebook")
    val k0 = coarseRows.length
    val centIds = typedLit(coarseRows.map(_._1).toSeq)
    val centVecs = typedLit(coarseRows.map(_._2).toSeq)
    val centNrms = typedLit(coarseRows.map(_._3).toSeq)
    val bookArr = new Array[Seq[Long]](numSub * codebook)
    index.book.select("sub", "code", "cv").collect().foreach { r =>
      val slot = r.getAs[Number]("sub").intValue() * codebook +
        r.getAs[Number]("code").intValue()
      bookArr(slot) = r.getSeq[Long](2).toSeq
    }
    require(!bookArr.contains(null),
      s"annScreenScored: PQ codebook incomplete for numSub=$numSub codebook=$codebook")
    val bookLit = typedLit(bookArr.toSeq)

    val base = vecs.select(col(idCol).as("probe_id"), qvT(col(vecCol)).as("q"))
    val cds = transform(sequence(lit(0), lit(k0 - 1)), i =>
      struct(
        (lit(0L) - (lit(2L) * quantizedDot(col("q"), element_at(centVecs, i + 1))
          - element_at(centNrms, i + 1))).as("negcd"),
        element_at(centIds, i + 1).as("cent_id")))
    val routedLists = transform(
      slice(sort_array(cds), 1, math.min(nprobe, k0)),
      s => s.getField("cent_id"))
    val adcTable = flatten(transform(sequence(lit(0), lit(numSub - 1)), sub =>
      transform(sequence(lit(0), lit(codebook - 1)), code =>
        qdist(
          slice(col("q"), sub * lit(subDim) + lit(1), lit(subDim)),
          element_at(bookLit, sub * lit(codebook) + code + lit(1))))))
    val routed = base
      .withColumn("adc_t", adcTable)
      .select(col("probe_id"), col("adc_t"), explode(routedLists).as("list_id"))
    routed
      .join(broadcast(servingView.withColumnRenamed(idCol, "__cand")), "list_id")
      .where(col("__cand") =!= col("probe_id"))
      .select(col("probe_id"), col("__cand").as(idCol),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(numSub - 1)),
            (code, sub) => element_at(col("adc_t"),
              (sub * lit(codebook) + code + lit(1)).cast("int"))),
          lit(0L), (acc, v) => acc + v).as("adc"))
  }

  /** Batch-side finish of the sunk screen rows — the
    * `constraintGate`/`constraintReport` split applied to ANN serving:
    * the stream maintains (probe, candidate, adc) statelessly, the
    * per-trigger (or nightly) batch pass takes the refine-deep ADC
    * shortlist per probe through the bounded-heap TopKPerKey, exact
    * re-rank against raw corpus vectors, top-k — identical arithmetic
    * and tie-breaks to [[probeIndex]]'s tail, which is the shared
    * oracle contract. `probes` is the arrival batch with raw vectors
    * as (probe_id, pe) — batch-bounded, broadcast. */
  def annScreenFinish(
      scored: DataFrame,
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refine: Int = defaultRefine): DataFrame =
    rerank(scored, "adc", ascending = true, probes, corpus, idCol, vecCol, refine, k)

  /** Residual IVF-PQ top-k — true IVFADC (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search"): PQ encodes
    * each vector's RESIDUAL against its coarse centroid (x − c), not
    * the raw vector. Residuals concentrate near the origin, so a
    * shared codebook spends its 16 codes per subspace on much smaller
    * displacements — the reconstruction-error win that is the reason
    * production IVFADC couples the two quantizers. The coupling is
    * what `ivfPqTopK` deliberately avoids; here it is paid in full
    * and kept replayable: residuals are exact int64 differences of
    * already-quantized vectors, so training, encode, and the
    * per-(probe, list) ADC tables (the probe's residual against EACH
    * probed list's centroid) all replay in the oracle.
    *
    * Scale shape matches `ivfPqTopK`: candidates carry codes only,
    * the ADC relation grows to probes·nprobe·numSub·codebook rows
    * (still a broadcast), raw vectors appear only in the ≤ refine
    * shortlist re-rank. */
  /** The coupled residual quantizer's parts: (coarse centroids, list
    * assignment, residual-trained PQ codebook, residual codes). */
  private def residualParts(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int,
      dim: Int,
      numSub: Int,
      codebook: Int,
      trainRounds: Int,
      trainSample: Int,
      scope: graft.util.CacheScope): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val subDim = dim / numSub
    val coarse = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "ivfPqResidualTopK")
    // cached: consumed by the residual computation AND candidate
    // generation
    val lists = scope.cache(ivfAssign(corpus, idCol, vecCol, coarse))
    val resid = scope.cache(corpus
      .select(col(idCol), qvT(col(vecCol)).as("q"))
      .join(lists, idCol)
      .join(broadcast(coarse.select(col("cent_id").as("list_id"), col("cv"))), "list_id")
      .select(col(idCol), zip_with(col("q"), col("cv"), (a, b) => a - b).as("q")))
    val book = pqCodebookFromQ(resid, idCol, numSub, subDim, codebook, trainSample, scope)
    (coarse, lists, book, pqCodesFromQ(resid, idCol, book, numSub, subDim))
  }

  /** Residual PQ codes (id, sub, code, qerr) — what an IVFADC
    * deployment stores: each vector's residual against its coarse
    * centroid, quantized under the residual-trained codebook. qerr is
    * the residual reconstruction error; `ExtSpec` asserts it beats
    * raw-vector `pqEncode`'s — the measured justification for
    * coupling the quantizers. */
  def pqEncodeResidual(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 64,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame =
    residualParts(corpus, idCol, vecCol, numCentroids, dim, numSub, codebook,
      trainRounds, trainSample, scope)._4

  def ivfPqResidualTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      numCentroids: Int = 64,
      nprobe: Int = defaultNprobe,
      dim: Int = 64,
      numSub: Int = 8,
      codebook: Int = 16,
      refine: Int = defaultRefine,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    // a bounded corpus runs the WHOLE coupled-quantizer pipeline
    // driver-local (see localIvfPqResidual); anything else takes the
    // distributed pipeline below, unchanged
    localIvfPqResidual(corpus, idCol, vecCol, probeFilter, k, numCentroids,
      nprobe, dim, numSub, codebook, refine, trainRounds, trainSample) match {
      case Some(df) => return df
      case None =>
    }
    val subDim = dim / numSub
    val (coarse, lists, book, codesFull) = residualParts(
      corpus, idCol, vecCol, numCentroids, dim, numSub, codebook,
      trainRounds, trainSample, scope)
    val codes = codesFull.select(col(idCol), col("sub"), col("code"))
    val probes = probeRows(corpus, probeFilter, idCol, vecCol)
    val probeLists = route(probes, coarse, nprobe)
    // the probe's residual differs PER PROBED LIST — the ADC table is
    // keyed (probe, list, sub, code), still a tiny broadcast
    val pres = probeLists
      .join(broadcast(probes), "probe_id")
      .join(broadcast(coarse.select(col("cent_id").as("list_id"), col("cv").as("lcv"))),
        "list_id")
      .select(col("probe_id"), col("list_id"),
        zip_with(qvT(col("pe")), col("lcv"), (a, b) => a - b).as("q"))
    val adc = pqSubspaces(pres, "q", numSub, subDim)
      .join(broadcast(book), Seq("sub"))
      .select(col("probe_id"), col("list_id"), col("sub").cast("long").as("sub"),
        col("code"), qdist(col("sv"), col("cv")).as("d"))
    val cand = probeLists.join(lists, "list_id")
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col("list_id"), col(idCol))
      .join(codes, idCol)
      .join(broadcast(adc), Seq("probe_id", "list_id", "sub", "code"))
      .groupBy("probe_id", idCol)
      .agg(sum(col("d")).as("adc"))
    rerank(cand, "adc", ascending = true, probes, corpus, idCol, vecCol, refine, k)
  }

  /** Driver-local exact replica of [[ivfPqResidualTopK]] for a corpus
    * within min(trainer take, vector bound): ONE bounded hash-ordered
    * read feeds coarse training, assignment, residuals, residual-book
    * training (the residual sample IS the residual of the sample
    * prefix, same order), residual encode and the rescore vectors; one
    * more bounded read evaluates the probe filter distributedly and
    * brings back the probe ids. Each probed list gets the probe's own
    * residual ADC table against that list's centroid. Returns None
    * (distributed fallback) past the bound, on duplicate ids, or when
    * the vectors do not span `dim` coordinates. */
  private def localIvfPqResidual(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      numCentroids: Int,
      nprobe: Int,
      dim: Int,
      numSub: Int,
      codebook: Int,
      refine: Int,
      trainRounds: Int,
      trainSample: Int): Option[DataFrame] = {
    val subDim = dim / numSub
    val bound = Bounded.limit(Bounded.Vectors)
    // two bounded independent reads — overlap them (guide §2.6)
    var sampled: Option[LocalIvf.Cents] = None
    var probeRaw: Option[Array[Row]] = None
    graft.util.Par.jobs(Seq(
      () => sampled = boundedSample(corpus, idCol, vecCol, "ivfPqResidualTopK",
        math.min(math.max(numCentroids, trainSample).toLong, bound)),
      () => probeRaw = Bounded.collect(
        corpus.where(probeFilter).select(col(idCol).cast("long")), bound)))
    // the probes are corpus rows, so a whole, validated, unique-id
    // corpus leaves them non-null and unique too
    val (rows, probeIds) = (sampled, probeRaw) match {
      case (Some(rs), Some(ps)) if rs.forall(_._2.length == dim) => (rs, ps.map(_.getLong(0)))
      case _ => return None
    }
    val n = rows.length
    val cents = LocalIvf.trainCoarse(rows, numCentroids, trainRounds, trainSample)
    if (n == 0 || cents.isEmpty || probeIds.isEmpty)
      return Some(topKRelation(corpus.sparkSession, Nil, idCol, corpus.schema(idCol).dataType))
    val q = new LocalIvf.Coarse(cents)
    def minus(a: Array[Long], b: Array[Long]) = Array.tabulate(dim)(i => a(i) - b(i))
    val assign = rows.map { case (_, v) => q.assign(q.affinity(v)) }
    val resid = Array.tabulate(n)(r => minus(rows(r)._2, q.vecs(assign(r))))
    val bookArr = LocalIvf.trainBook(resid.take(trainSample), numSub, subDim, codebook)
    val codes = resid.map(LocalIvf.encode(_, bookArr, subDim))
    val idxOf = scala.collection.mutable.LongMap(rows.map(_._1).zipWithIndex.toSeq: _*)
    val listOf = (0 until n).groupBy(assign(_))
    val np = math.min(nprobe, q.k)
    val out = probeIds.toSeq.flatMap { pid =>
      val pq = rows(idxOf(pid))._2
      val cand = q.route(q.affinity(pq), np).toSeq.flatMap { c =>
        val table = LocalIvf.adcTable(minus(pq, q.vecs(c)), bookArr, subDim)
        listOf.getOrElse(c, Nil).filter(rows(_)._1 != pid).flatMap(y =>
          LocalIvf.adcScore(table, codes(y)).map((_, rows(y)._1)))
      }
      ranked(pid, LocalIvf.topK(LocalIvf.topK(cand, refine, desc = false).map { case (_, cid) =>
        (LocalIvf.dot(pq, rows(idxOf(cid))._2), cid)
      }, k, desc = true))
    }
    Some(topKRelation(corpus.sparkSession, out, idCol, corpus.schema(idCol).dataType))
  }

  /** Per-probe top-k of a scored candidate relation through the
    * bounded-heap `TopKPerKey` operator (≤ k rows per probe per input
    * partition cross the shuffle — a probe whose inverted lists /
    * buckets hold millions of candidates never funnels them all into
    * one window task), then rank labels over the ≤ k·probes
    * survivors. */
  private def rankTopK(
      scored: DataFrame, probeCol: String, idCol: String, k: Int): DataFrame = {
    val top = graft.plans.TopKPerKey(
      scored, Seq(probeCol), Seq(("qdot", false), (idCol, true)), k)
    val w = Window.partitionBy(probeCol).orderBy(desc("qdot"), asc(idCol))
    top.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** The probe batch as (probe_id, pe): the `probeFilter` rows of the
    * corpus with their raw vectors. */
  private def probeRows(
      corpus: DataFrame, probeFilter: Column, idCol: String, vecCol: String): DataFrame =
    corpus.where(probeFilter).select(col(idCol).as("probe_id"), col(vecCol).as("pe"))

  /** (probe_id, list_id): each probe's `nprobe` Euclidean-nearest
    * coarse lists by (2·pe·cv − |c|² desc, cent_id asc) — the metric
    * that assigned the corpus, so a probe's neighbors live in the lists
    * it scans. `coarse` is (cent_id, cv, nrm), broadcast. */
  private def route(probes: DataFrame, coarse: DataFrame, nprobe: Int): DataFrame = {
    val wp = Window.partitionBy("probe_id").orderBy(desc("cd"), asc("cent_id"))
    probes.crossJoin(broadcast(coarse))
      .select(col("probe_id"), col("cent_id"),
        (lit(2L) * quantizedDot(col("pe"), col("cv")) - col("nrm")).as("cd"))
      .withColumn("pr", row_number().over(wp))
      .where(col("pr") <= nprobe)
      .select(col("probe_id"), col("cent_id").as("list_id"))
  }

  /** The quantized serves' tail: the `refine` best candidates per probe
    * by `scoreCol` (bounded heap, id-broken ties), re-scored exactly
    * against raw corpus vectors, ranked top-k by qdot. `probes` is
    * (probe_id, pe), broadcast. */
  private def rerank(
      scored: DataFrame,
      scoreCol: String,
      ascending: Boolean,
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      refine: Int,
      k: Int): DataFrame = {
    val short = graft.plans.TopKPerKey(
      scored, Seq("probe_id"), Seq((scoreCol, ascending), (idCol, true)), refine)
      .select(col("probe_id"), col(idCol))
    val rescored = short
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(probes), "probe_id")
      .select(col("probe_id"), col(idCol),
        quantizedDot(col("pe"), col(vecCol)).as("qdot"))
    rankTopK(rescored, "probe_id", idCol, k)
  }

  /** (id, tbl, bkt): one row per hyperplane table of each row of `df`,
    * `id` being its id column under the name the caller joins on. */
  private def rhpBucketRows(
      df: DataFrame, id: Column, vecCol: String, dim: Int, planes: Int, tables: Int): DataFrame =
    df.select(id,
        posexplode(graft.functions.RhpBuckets.rhpBuckets(col(vecCol), dim, planes, tables)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bkt")

  /** LSH-bucketed approximate top-k: candidates come only from buckets
    * the probe shares in one of `tables` independent hyperplane tables,
    * then are re-scored exactly. Replaces the per-probe corpus scan with
    * a bucket equi-join — the shape that survives a 1000-executor corpus.
    * Recall depends on data geometry (multi-table probing raises it;
    * uniform-random corpora are the worst case); results are always a
    * subset of the exact ranking because re-scoring is exact. The same
    * occupancy rule as `lshNearDupPairs` applies: planes/tables = 0
    * (the default) derives both from a corpus-count pre-pass via
    * `rhpGeometry`, keeping a probe's candidate set (≈ n/2^planes per
    * table) bounded at any corpus size. */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      tables: Int = 0,
      planes: Int = 0): DataFrame =
    lshServe(corpus, idCol, vecCol, probeFilter, k, dim, tables, planes, flips = false)

  /** Multiprobe LSH top-k (Lv et al., VLDB 2007 — the step-wise probing
    * sequence restricted to Hamming distance ≤ 1, which keeps the
    * enumeration deterministic and oracle-replayable): the corpus is
    * indexed into a CONSTANT `rhpMpTables` tables (n·8 index rows —
    * linear at any corpus size, vs `lshTopK`'s corpus-count-grown table
    * count), and each probe joins against its home bucket PLUS the
    * `planes` buckets that differ in exactly one hyperplane sign — the
    * buckets a near neighbor that narrowly missed one sign test lands
    * in. The flip enumeration is probe-side only: probes·tables·(1+m)
    * bucket keys against the corpus's n·tables, so the extra recall is
    * bought with O(probes·m) work, not O(n·m). Exact re-score and
    * bounded-heap ranking as `lshTopK`. */
  def lshTopKMp(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      tables: Int = 0,
      planes: Int = 0): DataFrame =
    lshServe(corpus, idCol, vecCol, probeFilter, k, dim, tables, planes, flips = true)

  /** The LSH serve: ids-only candidate generation (see
    * `lshNearDupPairs`) from the (table, bucket) keys a probe shares
    * with the corpus, vectors re-attached for the exact re-score. With
    * `flips` a probe also joins, per table, the `planes` buckets at
    * Hamming distance 1 from its home bucket, and the geometry derives
    * from `rhpMpGeometry` instead of `rhpGeometry`. */
  private def lshServe(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      tables: Int,
      planes: Int,
      flips: Boolean): DataFrame = {
    require((planes > 0) == (tables > 0),
      s"specify both planes and tables or neither, got planes=$planes tables=$tables")
    val (planesN, tablesN) =
      if (planes > 0) (planes, tables)
      else if (flips) rhpMpGeometry(corpus.count())
      else rhpGeometry(corpus.count())
    val home = rhpBucketRows(corpus.where(probeFilter), col(idCol).as("probe_id"),
      vecCol, dim, planesN, tablesN)
    // home bucket + one key per flipped plane; flips are pairwise
    // distinct (bkt ⊕ 2^a ≠ bkt ⊕ 2^b), so no within-probe dedup needed
    val probeBuckets = if (!flips) home else home
      .select(col("probe_id"), col("tbl"),
        explode(array(
          col("bkt") +: (0 until planesN).map(j =>
            col("bkt").bitwiseXOR(lit(1L << j))): _*)).as("bkt"))
    val cands = probeBuckets
      .join(rhpBucketRows(corpus, col(idCol), vecCol, dim, planesN, tablesN), Seq("tbl", "bkt"))
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol))
      .distinct()
    val scored = cands
      .join(broadcast(probeRows(corpus, probeFilter, idCol, vecCol)), "probe_id")
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .select(col("probe_id"), col(idCol), quantizedDot(col("pe"), col(vecCol)).as("qdot"))
    rankTopK(scored, "probe_id", idCol, k)
  }

  /** Per-dimension SQ8 bounds — the scalar quantizer's entire trained
    * state: ONE (mnl, mxl) row of dim-length int64 arrays, from a
    * single posexplode scan map-combined to `dim` rows (partial agg
    * state = 2 longs per dimension) and packed by the
    * collect-and-sort-a-struct discipline. O(dim) metadata; broadcast
    * into the encode and scoring passes, never collected. */
  private[ext] def sq8Bounds(q: DataFrame): DataFrame = q
    .select(posexplode(col("q")).as(Seq("pos", "v")))
    .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
    .agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        e => e.getField("mn")).as("mnl"),
      transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        e => e.getField("mx")).as("mxl"))

  /** SQ8 encode: dim 8-bit codes per vector, map-only once the one-row
    * bounds are broadcast alongside (`mnl`/`mxl` columns in scope). */
  private def sq8EncodeExpr = expr(
    """transform(q, (v, i) ->
      |  ((v - element_at(mnl, i + 1)) * 256)
      |    div (element_at(mxl, i + 1) - element_at(mnl, i + 1) + 1))""".stripMargin)

  /** SQ8 asymmetric score: the probe's exact quantized vector (`pq`)
    * against the candidate's bucket-midpoint decode — one codegen'd
    * HOF chain over the `codes` column, bounds in scope as above. */
  private def sq8ScoreExpr = expr(
    """aggregate(
      |  transform(codes, (c, i) ->
      |    element_at(pq, i + 1) *
      |      (element_at(mnl, i + 1) +
      |       ((2 * c + 1) *
      |        (element_at(mxl, i + 1) - element_at(mnl, i + 1) + 1)) div 512)),
      |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)

  /** Scalar-quantization (SQ8) approximate top-k — the third quantizer
    * family next to PQ (subspace codebooks) and LSH (sign buckets),
    * FAISS's `IndexScalarQuantizer` shape: every dimension is squeezed
    * INDEPENDENTLY into an 8-bit code against per-dimension corpus
    * bounds, so the serving store is dim bytes per vector (4× under
    * float32) and, unlike PQ, decoding is a two-multiply affine map
    * with no codebook lookup — the cheapest compressed store that
    * still preserves per-dimension resolution. Candidates are scored
    * asymmetrically (probe exact, candidate decoded to its bucket
    * MIDPOINT), the best `refine` per probe re-scored exactly, ranked.
    *
    * Training is the smallest in the family — no Lloyd rounds, no
    * sample bound: exact per-dimension (min, max) costs the one scan a
    * sample would ([[sq8Bounds]]). All arithmetic is int64 floor
    * division with non-negative numerators (where Spark `div` and
    * DuckDB `//` provably agree): code = ((v − mn)·256) div
    * (mx − mn + 1) ∈ [0, 255], decode = mn + ((2·code + 1)·
    * (mx − mn + 1)) div 512 — so the oracle rebuilds the identical
    * index from scratch.
    *
    * Scale shape: bounds scan + map-only encode produce the compressed
    * artifact a deployment persists; scoring follows the brute-force
    * discipline over CODES (probes broadcast, corpus scanned once,
    * decode-and-dot fused in one codegen'd HOF chain, bounded-heap
    * shortlist ≤ refine rows per probe per partition); raw vectors are
    * fetched only for the ≤ refine·probes re-rank sliver. When a
    * corpus outgrows the flat scan, SQ8 composes with IVF routing
    * exactly as PQ does (encode per inverted list, probe nprobe
    * lists). */
  def sq8TopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      refine: Int = defaultRefine,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val q = corpus.select(col(idCol), qvT(col(vecCol)).as("q"))
    // cached: the one-row bounds broadcast into BOTH the encode and the
    // scoring branch — uncached, each broadcast re-runs the full
    // posexplode bounds scan of the corpus
    val bnd = scope.cache(sq8Bounds(q))
    // the persisted artifact: dim 8-bit codes per vector (int64-typed
    // here — the engine's array element contract — but range-bounded
    // to [0, 255] by construction)
    val codes = q.crossJoin(broadcast(bnd))
      .select(col(idCol), sq8EncodeExpr.as("codes"))
    val probes = probeRows(corpus, probeFilter, idCol, vecCol)
    val probesQ = probes.select(col("probe_id"), qvT(col("pe")).as("pq"))
    val scored = codes.crossJoin(broadcast(bnd)).crossJoin(broadcast(probesQ))
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol), sq8ScoreExpr.as("sq8"))
    rerank(scored, "sq8", ascending = false, probes, corpus, idCol, vecCol, refine, k)
  }

  /** IVF + SQ8 — the composed big-corpus serving recipe (FAISS
    * "IVF<K>,SQ8"): the Lloyd-trained coarse quantizer routes each
    * probe to its `nprobe` inverted lists, candidates inside those
    * lists are scored from their 8-bit SQ codes (asymmetric midpoint
    * decode, as [[sq8TopK]]), and the best `refine` per probe are
    * re-scored exactly. Where flat [[sq8TopK]] pays O(n·probes)
    * decode-dots, routing cuts the candidate pass to
    * O(probes·nprobe·n/K) over the SAME compressed store — the two
    * knobs (nprobe for recall, SQ8 for memory) compose independently,
    * which is why this pairing is the deployment default when PQ's
    * deeper compression isn't needed.
    *
    * Scale shape: both trainers are bounded (Lloyd on the
    * `trainSample`; SQ8 bounds are one scan of O(dim) state); the
    * corpus pass is the one-list assignment plus the map-only encode;
    * candidate scoring joins codes by `list_id` with the O(probes·
    * nprobe) routing sliver; only the ≤ refine·probes shortlist
    * touches raw vectors. All int64 id-broken arithmetic — training,
    * routing, codes, and ranks replay externally. */
  def ivfSq8TopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      numCentroids: Int = 64,
      nprobe: Int = defaultNprobe,
      refine: Int = defaultRefine,
      trainRounds: Int = defaultTrainRounds,
      trainSample: Int = defaultTrainSample,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, numCentroids, trainRounds, trainSample,
      scope, "ivfSq8TopK")
    val lists = ivfAssign(corpus, idCol, vecCol, cents)
    val q = corpus.select(col(idCol), qvT(col(vecCol)).as("q"))
    // cached for the same two-broadcast reason as sq8TopK
    val bnd = scope.cache(sq8Bounds(q))
    val codes = q.crossJoin(broadcast(bnd))
      .select(col(idCol), sq8EncodeExpr.as("codes"))
    val probes = probeRows(corpus, probeFilter, idCol, vecCol)
    val probesQ = probes.select(col("probe_id"), qvT(col("pe")).as("pq"))
    // candidates carry CODES only; the probed-list join bounds them at
    // probes·nprobe·avg_list rows before any scoring work
    val scored = route(probes, cents, nprobe).join(lists, "list_id")
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol))
      .join(codes, idCol)
      .join(broadcast(probesQ), "probe_id")
      .crossJoin(broadcast(bnd))
      .select(col("probe_id"), col(idCol), sq8ScoreExpr.as("sq8"))
    rerank(scored, "sq8", ascending = false, probes, corpus, idCol, vecCol, refine, k)
  }
}
