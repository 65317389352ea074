package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.ops.TextOps

class ExtSpec extends SparkSpec {
  import spark.implicits._

  test("quantizedDot: exact integer arithmetic") {
    val df = Seq((Array(1.0f, 0.5f), Array(2.0f, 0.25f))).toDF("a", "b")
    val got = df.select(Similarity.quantizedDot(col("a"), col("b"))).as[Long].head()
    assert(got == 1000L * 2000 + 500L * 250)
  }

  test("cosine of identical unit vectors is 1") {
    val df = Seq((Array(0.6f, 0.8f), Array(0.6f, 0.8f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-9)
  }

  test("jaccard on distinct arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val got = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head()
    assert(got == 2.0 / 4.0)
  }

  test("minhash LSH recovers all exact-jaccard pairs (vs brute force, sf0.001)") {
    val docs = io.Tables(spark, sf, "documents")
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("ws"))
      .where(size(col("ws")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("ws").as("wa"))
    val b = sh.select(col("doc_id").as("id_b"), col("ws").as("wb"))
    val brute = a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .where(Dedup.jaccard(col("wa"), col("wb")) >= 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute)
    assert(brute.nonEmpty)
  }

  test("connectedComponents labels chains and separate components correctly") {
    // chain 1-2-3-...-8 (diameter 7, forces multiple propagation
    // rounds) plus a separate pair 100-101
    val pairs = ((1L to 7L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    (1L to 8L).foreach(i => assert(got(i) == 1L, s"node $i"))
    assert(got(100L) == 100L && got(101L) == 100L)
    assert(got.size == 10)
  }

  test("driver-local union-find CC == distributed min-label loop") {
    // the fast path folds small pair graphs on the driver; pin it
    // against the distributed loop (graft.local.max=0 disables the fast
    // path) and at the switch point of the fixture's 12 edges, on a
    // graph with a long chain (multi-round diameter), an isolated pair,
    // a cycle, and a self-loop
    val pairs = (((1L to 7L).map(i => (i, i + 1)) :+ (100L, 101L)) ++
      Seq((200L, 202L), (202L, 204L), (204L, 200L), (300L, 300L)))
      .toDF("id_a", "id_b")
    def run() = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val fast = run()
    val loop = withLocalMax(0)(run())
    assert(fast == loop, "union-find fast path diverges from the loop")
    assert(fast(204L) == 200L && fast(300L) == 300L && fast(8L) == 1L)
    for (b <- Seq(11L, 12L, 13L))
      assert(withLocalMax(b)(run()) == loop, s"CC labels change at graft.local.max=$b")
  }

  test("minhash signature of an empty hash array is null, not all-MaxValue") {
    val df = Seq(Seq.empty[Long], Seq(1L, 2L)).toDF("h")
    val rows = df.select(Dedup.minHashSignature(col("h"), 8)).collect()
    assert(rows(0).isNullAt(0))
    assert(!rows(1).isNullAt(0))
  }

  test("salted candidate generation equals unsalted on a skewed corpus") {
    // 300 near-identical docs (a pathological hot LSH bucket) plus a
    // handful of distinct ones: salting must change the task layout,
    // never the answer
    val skewed = ((1 to 300).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog every single day")) ++
      Seq((900L, "completely different text about mathematics and topology here today"),
          (901L, "completely different text about mathematics and topology here tomorrow")))
      .toDF("doc_id", "text")
    val unsalted = Dedup.nearDupPairs(skewed, "doc_id", "text", salts = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // hotThreshold below the cluster size so the 300-doc buckets
    // actually take the salted path (default 1024 would leave them cold)
    val salted = Dedup.nearDupPairs(skewed, "doc_id", "text", salts = 8, hotThreshold = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted == unsalted)
    // every identical-doc pair must be present: 300 choose 2
    assert(salted.count { case (a, b) => a <= 300 && b <= 300 } == 300 * 299 / 2)
  }

  test("simhash pairs: identical-doc corpus collapses to one index row per value") {
    val dup = (1 to 200).map(i => (i.toLong, "boilerplate header shared across every page of the site"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(dup, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.length == 200 * 199 / 2)
    assert(pairs.forall(_._3 == 0))
    assert(pairs.forall { case (a, b, _) => a < b })
  }

  test("native SimHash60 equals the HOF bit-vote formulation on real docs") {
    val docs = io.Tables(spark, sf, "documents")
    val hashes = docs.select(
      col("doc_id"),
      Dedup.wordHashes(TextOps.tokens(col("text"))).as("wh"))
      .where(size(col("wh")) > 0)
    val diff = hashes.select(
        graft.functions.SimHash60.simhash60(col("wh")).as("native"),
        Dedup.simHashFromHashes(col("wh")).as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("simhash: near-identical texts collide, unrelated texts don't") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy cat again and again today"),
      (3L, "completely different subject matter entirely unrelated words everywhere")
    ).toDF("id", "text")
    val pairs = Dedup.simHashPairs(df, "id", "text", maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("rhp bucket is stable and separates orthogonal vectors sometimes") {
    val df = Seq(
      (1L, Array.fill(64)(0.125f)),
      (2L, Array.fill(64)(0.125f))).toDF("id", "v")
    val buckets = df.select(Similarity.rhpBucket(col("v"), 64, 16)).as[Long].collect()
    assert(buckets(0) == buckets(1))
  }

  test("declarative rhpBucket equals the native RhpBuckets expression per table") {
    val emb = io.Tables(spark, sf, "embeddings").limit(20)
    (0 until 3).foreach { t =>
      val mismatches = emb.select(
          Similarity.rhpBucket(col("embedding"), 64, 6, table = t).as("hof"),
          element_at(
            graft.functions.RhpBuckets.rhpBuckets(col("embedding"), 64, 6, 8), t + 1).as("native"))
        .where(col("hof") =!= col("native"))
        .count()
      assert(mismatches == 0, s"table $t: HOF and native buckets diverge")
    }
  }

  test("langId picks marker language with alphabetical tie-break") {
    val df = Seq(
      "der hund ist nicht hier",
      "the cat is of the house",
      "el gato y la casa que",
      "zzz qqq xxx").toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("de", "en", "es", "und"))
  }

  test("rolling hash: known value, incremental-extension property") {
    val df = Seq("hello world").toDF("t")
    val got = df.select(TextAnalysis.rollingFingerprint(col("t"))).as[Long].head()
    // independently computed: h = fold((h,b) => (h*131+b) mod 2^31-1)
    val expect = "hello world".getBytes("UTF-8")
      .foldLeft(0L)((h, b) => (h * 131 + (b & 0xffL)) % 2147483647L)
    assert(got == expect)
    // extending the document extends the hash from the prefix value
    val ext = df.select(TextAnalysis.rollingFingerprint(concat(col("t"), lit("!")))).as[Long].head()
    assert(ext == (expect * 131 + '!'.toLong) % 2147483647L)
  }

  test("fingerprint is whitespace/punct-normalization invariant") {
    val df = Seq("Hello,  World!", "hello world").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("quality metrics sane on known text") {
    val df = Seq("the cat sat on the mat").toDF("text")
    val r = df.select(
      TextAnalysis.nTokens(col("text")),
      TextAnalysis.stopwordRatio(col("text")),
      TextAnalysis.meanTokenLen(col("text"))).head()
    assert(r.getInt(0) == 6)
    assert(r.getDouble(1) == 3.0 / 6.0) // the, on, the
    assert(r.getDouble(2) == 17.0 / 6.0)
  }

  test("prefix-filtered containment equals brute force (incl. a doc-inside-doc pair LSH misses)") {
    val docs = io.Tables(spark, sf, "documents")
    // a small doc quoted inside a much larger host: containment 1.0,
    // Jaccard tiny — exactly the pair the Jaccard-LSH family cannot see
    val small = "the quick brown fox jumps over the lazy dog again and again"
    val host = small + " " + Seq.tabulate(120)(i => s"filler$i token$i").mkString(" ")
    val augmented = docs.select("doc_id", "text")
      .unionByName(Seq((900001L, small), (900002L, host)).toDF("doc_id", "text"))
    val got = Dedup.containmentPairs(augmented, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = augmented
      .select(col("doc_id"), Dedup.shingleHashSet(col("text"), 3).as("ws"))
      .where(size(col("ws")) > 0)
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .where(col("a.doc_id") =!= col("b.doc_id") &&
        size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(col("a.ws")) >= 0.9)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    assert(got == brute)
    assert(got.contains((900001L, 900002L)), "the quoted doc must be found inside its host")
    assert(!got.contains((900002L, 900001L)), "containment is asymmetric")
    spark.catalog.clearCache()
  }

  test("exact-Jaccard PPJoin equals brute force, including boundary-threshold pairs") {
    val docs = io.Tables(spark, sf, "documents")
    // two docs engineered to land EXACTLY on the 0.5 boundary: shingle
    // sets of sizes 12 and 12 sharing 8 shingles → J = 8/16 = 0.5 —
    // the pair a float-unsafe prefix/length bound drops first
    val base = Seq.tabulate(14)(i => s"w$i").mkString(" ")   // shingles w0..w11 (12)
    val shifted = (Seq.tabulate(10)(i => s"w${i + 4}") ++ Seq.tabulate(4)(i => s"x$i")).mkString(" ")
    val augmented = docs.select("doc_id", "text")
      .unionByName(Seq((900001L, base), (900002L, shifted)).toDF("doc_id", "text"))
    val got = Dedup.jaccardPairs(augmented, "doc_id", "text", shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = augmented
      .select(col("doc_id"), Dedup.shingleHashSet(col("text"), 3).as("ws"))
      .where(size(col("ws")) > 0)
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .where(col("a.doc_id") < col("b.doc_id") &&
        Dedup.jaccard(col("a.ws"), col("b.ws")) >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    assert(got == brute)
    assert(got.contains((900001L, 900002L)), "the exact-boundary J=0.5 pair must survive")
    spark.catalog.clearCache()
  }

  test("round-7 plan guards: no window sort in PPJoin kernels; CCNet bucket map broadcasts") {
    val docs = io.Tables(spark, sf, "documents")
    // the PPJoin prefix selection must never plan a Window (the global
    // gram sort spilled 10x superlinear at the 64x probe factor) —
    // per-doc ranking is a hash agg + per-row bounded array_sort
    // eager = false: the guard inspects the kernel's own plan — the
    // advised-eager default would hand back a checkpoint leaf whose
    // trivial scan vacuously contains no Window
    for ((name, df) <- Seq(
      ("jaccardPairs", ext.Dedup.jaccardPairs(docs, "doc_id", "text", eager = false)),
      ("containmentPairs", ext.Dedup.containmentPairs(docs, "doc_id", "text", eager = false)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a window sort:\n$plan")
    }
    spark.catalog.clearCache()
    // the (lang, score) -> bucket map joins back as a broadcast — the
    // corpus side never shuffles for the bucketing step
    val ccnet = ext.TextAnalysis.ccnetBuckets(docs, "doc_id", "text", "lang")
    assert(ccnet.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "ccnet bucket map must broadcast")
    spark.catalog.clearCache()
  }

  test("incremental screening equals the cross-corpus slice of the full self-join") {
    val docs = io.Tables(spark, sf, "documents")
    val isNew = (id: Long) => id % 5 == 0
    val full = Dedup.nearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // full emits id_a < id_b; reorient to (new, old) and keep only
    // pairs that cross the corpus split
    val expected = full.flatMap { case (a, b) =>
      if (isNew(a) && !isNew(b)) Some((a, b))
      else if (isNew(b) && !isNew(a)) Some((b, a))
      else None
    }.toSet
    val got = Dedup.nearDupPairsAgainst(
        docs.where(pmod(col("doc_id"), lit(5)) === 0),
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(got == expected)
    spark.catalog.clearCache()
  }

  test("contaminationScreen flags only docs sharing a 5-gram, counting distinct shared grams") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // one shared 5-gram ("alpha beta gamma delta epsilon"); its other
      // two 5-grams are novel
      (1L, "xx alpha beta gamma delta epsilon yy"),
      // verbatim copy of the benchmark doc: shares BOTH its 5-grams
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "too short")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationScreen(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("semDedupKeep drops the larger id of a co-clustered duplicate pair, keeps the rest") {
    val vs = Seq(
      (1L, Array.fill(4)(1.0f)), // identical to 2 → same list (id tie-break)
      (2L, Array.fill(4)(1.0f)), // qdot(1,2) = 4e6 ≥ τ → dropped
      (3L, Array(1.0f, -1.0f, 1.0f, -1.0f)),  // qdot vs 1/2 = 0
      (4L, Array(-1.0f, 1.0f, -1.0f, 1.0f))). // qdot vs 3 = -4e6
      toDF("vec_id", "embedding")
    val kept = Similarity.semDedupKeep(vs, "vec_id", "embedding", minQdot = 3000000L)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
    spark.catalog.clearCache()
  }

  test("contaminationScreen plans a broadcast join — the corpus grams never shuffle") {
    val docs = io.Tables(spark, sf, "documents")
    val plan = ext.TextAnalysis.contaminationScreen(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("corpus_chunks reassembles every doc exactly: concatenated chunks == token stream") {
    val docs = io.Tables(spark, sf, "documents")
    val chunks = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(expr("sequence(0, (size(tk) - 1) div 32)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("tk"), col("chunk_id") * lit(32) + lit(1), lit(32)).as("ck"))
    // per-doc: chunk sizes sum to the token count, all chunks but the
    // last are exactly 32, and re-concatenation restores the stream
    val re = chunks
      .groupBy("doc_id")
      .agg(
        sum(size(col("ck"))).as("n_re"),
        max(col("chunk_id")).as("last"),
        sum(when(size(col("ck")) =!= 32, 1).otherwise(0)).as("n_short"),
        concat_ws(" ", flatten(array_sort(
          collect_list(struct(col("chunk_id"), col("ck")))).getField("ck"))).as("glued"))
    val orig = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).as("n_tok"),
      concat_ws(" ", TextOps.tokens(col("text"))).as("stream"))
    val bad = re.join(orig, "doc_id")
      .where(col("n_re") =!= col("n_tok") || col("n_short") > 1 ||
        col("glued") =!= col("stream"))
      .count()
    assert(bad == 0)
  }

  test("repetitionStats: hand-checked top-word/top-bigram/dup fractions") {
    // "aa aa aa b": tokens 4, chars 2+2+2+1 = 7; top word "aa" (3×2=6
    // chars) → 1000*6/7 = 857; top bigram "aa aa" (2 occurrences × 4
    // chars = 8) → 1000*8/7 = 1142; dup tokens 3 → 1000*3/4 = 750
    val docs = Seq((1L, "aa aa aa b"), (2L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "top_word_permille", "top_bigram_permille", "dup_word_permille")
      .as[(Long, Long, Long, Long)].collect()
    assert(got(0) == ((1L, 857L, 1142L, 750L)))
    // all-distinct doc: top word = any 1-char token (1000*1/3 = 333),
    // every bigram unique (2 chars → 666), no dup tokens
    assert(got(1) == ((2L, 333L, 666L, 0L)))
    spark.catalog.clearCache()
  }

  test("repetitionStats argmax ties: (count DESC, token ASC) binary order, both engines") {
    // Pins the min_by(struct(-c, w)) contract against the oracle's
    // row_number() OVER (ORDER BY c DESC, w): on a count tie the
    // lexicographically SMALLEST token wins, on a bigram tie the
    // smallest (w1, w2). Each doc is built so the tie loser has a
    // different char length — a wrong tie-break changes the permille.
    val docs = Seq(
      // doc 1: "bb" ×2 and "a" ×2 tie on count; "a" < "bb" → top word
      // chars = 2×1 = 2 of 2+2+1+1+1 = 7 → 1000*2/7 = 285. Wrong
      // winner ("bb") would give 2×2 = 4 → 571.
      (1L, "bb bb a a c"),
      // doc 2: bigrams ("a b") ×1, ("b a") ×1 … all bigrams of
      // "a b a z" are (a b), (b a), (a z) — each once, tie on count;
      // smallest is (a,b) → 2 chars → 1000*2/4 = 500 (chars 1+1+1+1).
      (2L, "a b a z"),
      // doc 3: prefix-vs-longer tie: "x" ×2, "xy" ×2 — binary order
      // puts "x" < "xy" → top chars 2×1 → 1000*2/6 = 333, not 666.
      (3L, "x xy x xy")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "top_word_permille", "top_bigram_permille", "dup_word_permille")
      .as[(Long, Long, Long, Long)].collect()
    assert(got(0)._2 == 285L, s"count-tie must pick smallest token: ${got(0)}")
    assert(got(1)._3 == 500L, s"bigram tie must pick smallest (w1,w2): ${got(1)}")
    assert(got(2)._2 == 333L, s"prefix tie must pick shorter token: ${got(2)}")
    spark.catalog.clearCache()
  }

  test("stripDupSpans removes exactly the tokens under corpus-duplicated windows") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta unique2 tail2"),
      (3L, "totally different words here nothing repeats at all okay")).toDF("doc_id", "text")
    val out = TextAnalysis.stripDupSpans(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()
    // docs 1/2 share ONE 8-token window (their other windows differ in
    // the unique suffix) → its 8 tokens removed from both; doc 3 intact
    assert(out(0).getAs[Long]("n_removed") == 8)
    assert(out(1).getAs[Long]("n_removed") == 8)
    assert(out(2).getAs[Long]("n_removed") == 0)
    val kept = TextAnalysis.stripDupSpansKept(docs, "doc_id", "text", 8)
      .orderBy("doc_id").select("kept").as[Seq[String]].collect()
    assert(kept(0) == Seq("unique1", "tail1"))
    assert(kept(1) == Seq("unique2", "tail2"))
    assert(kept(2).size == 9)
    spark.catalog.clearCache()
  }

  test("stripDupSpans invariant: no corpus-duplicated window survives in any stripped doc (sf0.001)") {
    val docs = io.Tables(spark, sf, "documents")
    val n = 8
    // the duplicated-gram set of the ORIGINAL corpus
    val dupGrams = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(explode(TextOps.wordNgramsFromTokens(col("tk"), n)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select("g").as[String].collect().toSet
    assert(dupGrams.nonEmpty)
    // windows of the STRIPPED corpus never hit that set
    val survivors = TextAnalysis.stripDupSpansKept(docs, "doc_id", "text", n)
      .select(col("doc_id"), explode(TextOps.wordNgramsFromTokens(col("kept"), n)).as("g"))
      .as[(Long, String)].collect()
      .filter { case (_, g) => dupGrams.contains(g) }
    assert(survivors.isEmpty, s"surviving duplicated windows: ${survivors.take(5).toSeq}")
    spark.catalog.clearCache()
  }

  test("pqCodes argmin tie: equidistant codebook entries resolve to the smallest code") {
    // hand-built codebook, 4-dim vectors as numSub=2 × subDim=2: the
    // vector's sub-slices sit exactly midway between codes 0 and 1 in
    // both subspaces → qerr ties → (qerr, code) ordering must pick 0.
    // The asymmetric row pins that non-ties still pick the nearer code.
    val book = Seq(
      (0, 0L, Seq(1000L, 0L)), (0, 1L, Seq(-1000L, 0L)),
      (1, 0L, Seq(0L, 0L)), (1, 1L, Seq(0L, 2000L)))
      .toDF("sub", "code", "cv")
    val vs = Seq(
      (1L, Array(0f, 0f, 0f, 1f)),   // both subs equidistant → code 0
      (2L, Array(0.5f, 0f, 0f, 1.9f)) // strict: sub0 → code 0 (500² < 1500²), sub1 → code 1 (100² < 1900²)
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(vs, "vec_id", "embedding", book, numSub = 2, subDim = 2)
      .select("vec_id", "sub", "code").as[(Long, Long, Long)].collect()
      .map { case (id, s, c) => (id, s) -> c }.toMap
    assert(codes((1L, 0L)) == 0L && codes((1L, 1L)) == 0L,
      s"equidistant ties must resolve to code 0, got $codes")
    assert(codes((2L, 0L)) == 0L && codes((2L, 1L)) == 1L)
    spark.catalog.clearCache()
  }

  test("ivfAssign tie: identical centroids cannot split the corpus") {
    // every vector identical → the 2 seed centroids are identical → every
    // assignment ties on score; the (score, −cent_id) max_by must send
    // ALL rows to the same (smaller) cent_id — a nondeterministic
    // tie-break would split them and desync the oracle's replay
    val vs = (1L to 8L).map(i => (i, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val sizes = Similarity.ivfListSizes(vs, "vec_id", "embedding",
        numCentroids = 2, trainRounds = 0, trainSample = 8)
      .as[(Long, Long)].collect()
    assert(sizes.length == 1 && sizes.head._2 == 8L,
      s"tied assignments must all land on one list, got ${sizes.toSeq}")
    spark.catalog.clearCache()
  }

  test("exactKeepFirst tie contract: smallest id survives among byte-identical docs") {
    val docs = Seq((5L, "same text here"), (2L, "same text here"),
      (9L, "same text here"), (7L, "other text")).toDF("doc_id", "text")
    val kept = Dedup.exactKeepFirst(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 7L), s"got $kept")
    spark.catalog.clearCache()
  }

  test("persisted ANN index: parquet round trip serves probes identical to the inline path") {
    // the production train-once shape: annIndex → writeAnnIndex →
    // readAnnIndex → probeIndex must equal ivfPqTopK (which builds the
    // same index inline per call) bit-for-bit — the index is all-int64,
    // so persistence must be exact, not approximately-equal
    val emb = io.Tables(spark, sf, "embeddings")
    val pf = col("vec_id") < 5
    val inline = Similarity.ivfPqTopK(emb, "vec_id", "embedding", pf, k = 10)
      .orderBy("probe_id", "rn").collect()
    withTempDir("ann_rt") { dir =>
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), dir)
      val viaIndex = Similarity.probeIndex(Similarity.readAnnIndex(spark, dir),
          emb, "vec_id", "embedding", pf, k = 10)
        .orderBy("probe_id", "rn").collect()
      assert(inline.nonEmpty)
      assert(viaIndex.sameElements(inline))
      spark.catalog.clearCache()
    }
  }

  test("pqEncode: identical vectors get identical codes, zero qerr on a seed vector") {
    // 4 distinct 16-dim vectors (dim divisible by numSub=8 → subDim 2),
    // duplicated ids 10/11 → identical codes per subspace
    val base = (0 until 16).map(i => (i % 5) * 0.25f - 0.5f).toArray
    val vs = Seq(
      (10L, base), (11L, base),
      (12L, base.map(x => -x)),
      (13L, Array.fill(16)(0.125f))).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(vs, "vec_id", "embedding",
        dim = 16, numSub = 8, codebook = 2, trainSample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(codes.size == 4 * 8)
    (0L until 8L).foreach { s =>
      assert(codes((10L, s)) == codes((11L, s)), s"sub $s codes differ for identical vectors")
    }
    // every qerr is a squared distance → non-negative
    assert(codes.values.forall(_._2 >= 0L))
    spark.catalog.clearCache()
  }

  test("ivfPqTopK with full probe width and full refine equals the exact brute force (sf0.001)") {
    // nprobe = numCentroids makes the coarse stage a no-op (every list
    // scanned) and refine >= corpus makes the ADC shortlist total, so
    // the exact re-rank must reproduce bruteForceTopK bit-for-bit —
    // the PQ approximation can only ever act through the SHORTLIST cut
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val pq = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5,
        numCentroids = 8, nprobe = 8, refine = n)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pq == exact)
    assert(exact.nonEmpty)
    spark.catalog.clearCache()
  }

  test("ivfPqTopK plans bounded-heap ranking and keeps the exact re-rank off the candidate pass") {
    val emb = io.Tables(spark, sf, "embeddings")
    // pin the DISTRIBUTED serve's plan shape (what a production-scale
    // index runs): the r14 bounded driver-local serve replaces the
    // whole plan with a LocalTableScan, so disable it for this test
    // (KnnLocalSpec pins the two paths row-identical)
    val plan = withLocalMax(0)(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5, numCentroids = 8)
      .queryExecution.executedPlan.toString)
    // the ADC shortlist and the final ranking both run through the
    // bounded-heap operator — never a full window sort over candidates
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    // the ADC table reaches the code-keyed candidate join as a
    // broadcast, so candidate rows never shuffle vectors or distances
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("BPE piece chunks reassemble every doc's piece stream exactly") {
    val docs = io.Tables(spark, sf, "documents")
    val merges = graft.ext.Bpe.trainMerges(docs, "text")
    import graft.ops.TextOps
    // expected piece stream per doc, computed independently in Scala
    val expected = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, tk) => id -> tk.flatMap(w => graft.ext.Bpe.encode(w, merges)) }
      .toMap
    val got = graft.ext.Bpe.pieceChunks(docs, "doc_id", "text", merges)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_pieces", "chunk_md5")
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1)
    for ((id, chunks) <- got) {
      val stream = expected(id)
      // chunk sizes tile the stream: all 32 except possibly the last
      val sizes = chunks.sortBy(_._2).map(_._3)
      assert(sizes.init.forall(_ == 32L) || sizes.length == 1)
      assert(sizes.sum == stream.length, s"doc $id piece count")
      // each chunk's md5 matches the corresponding stream slice
      chunks.sortBy(_._2).zipWithIndex.foreach { case ((_, cid, _, m), ix) =>
        assert(cid == ix)
        val slice = stream.slice(ix * 32, ix * 32 + 32).mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(slice.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        assert(md == m, s"doc $id chunk $cid md5")
      }
    }
    assert(got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("ivfPqResidualTopK with full probe width and full refine equals the exact brute force (sf0.001)") {
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val pq = Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5,
        numCentroids = 8, nprobe = 8, refine = n)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pq == exact)
    spark.catalog.clearCache()
  }

  test("residual PQ reconstructs better than raw-vector PQ (sf0.001)") {
    // the entire point of coupling the quantizers: residuals
    // concentrate near the origin, so the same 16 codes per subspace
    // reconstruct with less total squared error
    val emb = io.Tables(spark, sf, "embeddings")
    val rawErr = Similarity.pqEncode(emb, "vec_id", "embedding")
      .agg(sum(col("qerr"))).as[Long].head()
    val resErr = Similarity.pqEncodeResidual(emb, "vec_id", "embedding")
      .agg(sum(col("qerr"))).as[Long].head()
    assert(resErr < rawErr, s"residual qerr $resErr !< raw qerr $rawErr")
    spark.catalog.clearCache()
  }

  test("BPE: merges apply left-to-right, segmentation reassembles the word, counts monotone") {
    // left-scan semantics on the classic alternating case
    assert(graft.ext.Bpe.applyMerge(Array("a", "b", "a", "b", "a"), "a", "b").toSeq
      == Seq("ab", "ab", "a"))
    // identical-pair case merges non-overlapping from the left
    assert(graft.ext.Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq
      == Seq("aa", "a"))
    val docs = io.Tables(spark, sf, "documents")
    val merges = graft.ext.Bpe.trainMerges(docs, "text")
    assert(merges.nonEmpty && merges.size <= graft.ext.Bpe.defaultMerges)
    import graft.ops.TextOps
    val words = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .distinct().as[String].collect()
    for (w <- words) {
      val pieces = graft.ext.Bpe.encode(w, merges)
      assert(pieces.mkString == w, s"pieces of '$w' don't reassemble")
      assert(pieces.length >= 1 && pieces.length <= w.length)
    }
    // each successive merge never increases any word's piece count
    for (w <- words.take(5)) {
      val counts = merges.inits.toSeq.reverse.map(ms => graft.ext.Bpe.encode(w, ms).length)
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"piece count not monotone for '$w': $counts")
    }
    spark.catalog.clearCache()
  }

  test("semDedupKeep partitions the corpus and never drops a vector without a smaller-id near neighbor (sf0.001)") {
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count()
    val kept = Similarity.semDedupKeep(emb, "vec_id", "embedding", minQdot = 450000L)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    assert(keptIds.size == kept.count().toInt) // no dup rows
    // soundness: every dropped id has a smaller-id neighbor above the
    // threshold in the EXACT all-pairs relation (clustering can only
    // shrink the drop set, never invent a drop)
    val exactTargets = Similarity.nearDupPairsCrossJoin(emb, "vec_id", "embedding", 450000L)
      .select("id_b").as[Long].collect().toSet
    val dropped = emb.select("vec_id").as[Long].collect().toSet -- keptIds
    assert(dropped.subsetOf(exactTargets), s"over-dropped: ${dropped -- exactTargets}")
    assert(keptIds.size + dropped.size == n)
    spark.catalog.clearCache()
  }
}
