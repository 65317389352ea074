package graft

import org.apache.spark.sql.functions._

import graft.ext.{Sampling, Search}

/** Units for the retrieval + composition-sampling operators: exact
  * hand-checked arithmetic (the same integer formulas the DuckDB
  * oracles replay), tie contracts, and the bounded-plan guards. */
class SearchSamplingSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK: rare term outranks common term; idf/tf arithmetic exact") {
    // 4-doc corpus: 'rare' in 1 doc, 'common' in all 4; equal lengths
    // so the length norm is identical (dl = avgdl → norm = 1000,
    // k_x1000 = 1200)
    val docs = Seq(
      (1L, "rare common aaa bbb"),
      (2L, "common common aaa bbb"),
      (3L, "common aaa bbb ccc"),
      (4L, "common aaa bbb ccc")).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, "doc_id", "text",
        Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // idf(rare) = floor(log2(8/1)) = 3; idf(common) = floor(log2(8/4)) = 1
    // sat(tf=1) = 2200*1000 div (1000+1200) = 1000
    // sat(tf=2) = 2*2200*1000 div (2000+1200) = 1375
    // doc1 = 3*1000 + 1*1000 = 4000; doc2 = 1*1375; doc3 = doc4 = 1000
    assert(got.toSeq == Seq((1L, 4000L, 2L), (2L, 1375L, 1L),
      (3L, 1000L, 1L), (4L, 1000L, 1L)))
  }

  test("bm25TopK: (score, id) tie contract and k cut") {
    // byte-identical docs tie on score — ascending id must decide, and
    // the cut must keep exactly k
    val docs = (1L to 6L).map(i => (i, "term filler words here"))
      .toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, "doc_id", "text", Seq("term"), k = 4)
      .select("doc_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("bm25TopK: plan is TakeOrdered, never a global sort or window") {
    // input must exceed k: EliminateLimits strips the limit when the
    // child's maxRows is provably below it, leaving a bare global Sort
    // that no real corpus would ever plan
    val docs = (1L to 20L).map(i => (i, "a b")).toDF("doc_id", "text")
    val df = Search.bm25TopK(docs, "doc_id", "text", Seq("b"), k = 5)
    df.collect() // AQE: the final physical plan exists only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("temperatureMixture: derived rates follow the sqrt schedule exactly") {
    // sources A(4 docs) / B(16 docs): w = floor(sqrt(n·10^6)) gives
    // 2000/4000; budget 10 → rate_A = (1000·10·2000) div (6000·4) = 833,
    // rate_B = (1000·10·4000) div (6000·16) = 416 — the α=1/2 tilt:
    // the small source keeps a 2× higher rate
    val docs = ((1L to 4L).map(i => (i, "A")) ++ (11L to 26L).map(i => (i, "B")))
      .toDF("doc_id", "source")
    val out = Sampling.temperatureMixture(docs, "doc_id", "source", budget = 10L)
    val rates = out.select("source", "rate").distinct()
      .as[(String, Long)].collect().toMap
    assert(rates("A") == 833L && rates("B") == 416L, s"got $rates")
    // every kept doc's md5 per-mille is below its source's rate
    val h = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long"), lit(1000L))
    assert(out.where(h >= col("rate")).isEmpty)
  }

  test("temperatureMixture: budget >= corpus keeps everything (rate caps at 1000)") {
    val docs = (1L to 8L).map(i => (i, if (i <= 2) "A" else "B"))
      .toDF("doc_id", "source")
    val out = Sampling.temperatureMixture(docs, "doc_id", "source", budget = 1000L)
    assert(out.count() == 8L)
    assert(out.select("rate").distinct().as[Long].collect().toSet == Set(1000L))
  }

  test("prioritySample: equals the brute-force (u div w, id) order; zero weights excluded") {
    val docs = (1L to 50L).map(i => (i, if (i % 9 == 0) 0L else i % 7 + 1))
      .toDF("doc_id", "n_chars")
    val got = Sampling.prioritySample(docs, "doc_id", "n_chars", k = 10)
      .select("doc_id").as[Long].collect()
    // brute-force reference: same hash arithmetic through a plain sort
    val ref = docs.where(col("n_chars") > 0)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint) div n_chars").as("p"))
      .orderBy("p", "doc_id").limit(10)
      .select("doc_id").as[Long].collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("prioritySample: heavier rows are kept proportionally more often") {
    // weight 10 vs weight 1 at 200 rows each: priority = u div w makes
    // the heavy stratum ~10× denser in any prefix of the order — in a
    // k=110 sample the heavy side must dominate
    val docs = ((1L to 200L).map(i => (i, 10L)) ++ (201L to 400L).map(i => (i, 1L)))
      .toDF("doc_id", "n_chars")
    val kept = Sampling.prioritySample(docs, "doc_id", "n_chars", k = 110)
      .where(col("weight") === 10L).count()
    assert(kept >= 90L, s"heavy stratum kept only $kept of 110")
  }

  test("prioritySample plan: TakeOrdered, never a global sort") {
    val docs = Seq((1L, 5L), (2L, 3L)).toDF("doc_id", "n_chars")
    val plan = Sampling.prioritySample(docs, "doc_id", "n_chars", k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("persisted text index serves bit-identical to the scan form; term filter pushed") {
    val docs = io.Tables(spark, sf, "documents")
    withTempDir("txtidx_spec") { path =>
      Search.writeTextIndex(docs, "doc_id", "text", path)
      // two different term sets, both must equal the corpus-scan form
      for (terms <- Seq(Search.defaultTerms, Seq("table", "merge"))) {
        val scan = Search.bm25TopK(docs, "doc_id", "text", terms, 25)
          .orderBy(desc("score"), col("doc_id"))
          .as[(Long, Long, Long)].collect().toSeq
        val served = Search.indexTopK(spark, path, terms, 25)
          .orderBy(desc("score"), col("doc_id"))
          .as[(Long, Long, Long)].collect().toSeq
        assert(served == scan, s"terms=$terms")
      }
      // the whole point of the index: the query's IN(term) predicate
      // reaches the postings scan as a pushed filter (row-group pruning
      // at 100 TB), instead of filtering after a full read
      val q = Search.indexTopK(spark, path, Seq("dup"), 5)
      q.collect()
      val scan = q.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(scan).map(_.group(1)).mkString(";")
      assert(pushed.contains("In(term") || pushed.contains("EqualTo(term"),
        s"term filter not pushed (pushed=[$pushed])")
    }
  }

  test("updateTextIndex appends O(batch) deltas; base untouched; serves equal to full build") {
    val docs = io.Tables(spark, sf, "documents")
    withTempDir("txtidx_u0") { p0 => withTempDir("txtidx_full") { pFull =>
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", p0)
      Search.writeTextIndex(docs, "doc_id", "text", pFull)
      // fingerprint every base file (all three relations) BEFORE the
      // fold-in: (path, length, modification time) — a fold-in that
      // rewrites or even re-opens-for-write any base file is a rebuild
      // with extra steps, the exact defect the delta design removes
      def baseFiles(): Map[String, (Long, Long)] = {
        val fs = new org.apache.hadoop.fs.Path(p0)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq("postings", "term_df", "meta").flatMap { rel =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$p0/$rel")).toSeq
            .filter(_.isFile)
            .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime))
        }.toMap
      }
      val before = baseFiles()
      Search.updateTextIndex(spark, p0,
        docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      assert(baseFiles() == before,
        "fold-in touched base index files — the update is not append-only")
      // serve equality on term sets spanning both the old and new slices
      def served(path: String, terms: Seq[String]) =
        Search.indexTopK(spark, path, terms, 25)
          .orderBy(desc("score"), col("doc_id")).as[(Long, Long, Long)].collect().toSeq
      for (terms <- Seq(Search.defaultTerms, Seq("table", "merge")))
        assert(served(p0, terms) == served(pFull, terms), s"terms=$terms")
      // second fold-in gets its own generation (delta_1), still equal
      // overall? No — the corpus would double; just assert the listing
      // discipline: one delta per relation after one fold-in
      for (rel <- Seq("postings", "term_df", "meta"))
        assert(Search.deltaDirs(spark, p0, rel).size == 1, rel)
      // compaction folds deltas into the base: no delta dirs remain, the
      // merged relations equal the full build's, and serving is unchanged
      Search.compactTextIndex(spark, p0)
      for (rel <- Seq("postings", "term_df", "meta"))
        assert(Search.deltaDirs(spark, p0, rel).isEmpty, rel)
      for (terms <- Seq(Search.defaultTerms, Seq("table", "merge")))
        assert(served(p0, terms) == served(pFull, terms), s"post-compact terms=$terms")
      val dfInc = spark.read.parquet(s"$p0/term_df").orderBy("term")
        .as[(String, Long)].collect().toSeq
      val dfFull = spark.read.parquet(s"$pFull/term_df").orderBy("term")
        .as[(String, Long)].collect().toSeq
      assert(dfInc == dfFull)
    }}
  }

  test("bm25TopK/indexTopK reject a repeated query term (scan form would double-count it)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Search.bm25TopK(docs, "doc_id", "text", Seq("a", "a"), 5)
    }
    withTempDir("txtidx_dup") { path =>
      Search.writeTextIndex(docs, "doc_id", "text", path)
      intercept[IllegalArgumentException] {
        Search.indexTopK(spark, path, Seq("a", "a"), 5)
      }
    }
  }
}
