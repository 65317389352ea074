package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.ops.{Skew, TimeSeries}

/** Round-9 hardening: the advised-eager shuffle-budget contract of the
  * heavy dedup/graph kernels (conf restored, results unchanged), the
  * content-derived saltedJoin salt, the gapFill key-cardinality guard,
  * and the graphCentroidBudget/oracle-SQL boundary equivalence. */
class R9OpsSpec extends SparkSpec {
  import spark.implicits._

  test("advised kernels restore the caller's shuffle-partition conf (success and failure)") {
    val docs = io.Tables(spark, sf, "documents")
    val emb = io.Tables(spark, sf, "embeddings")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // every advised entry point: run on the fixture, conf must come back
    Dedup.nearDupPairs(docs, "doc_id", "text").count()
    assert(spark.conf.get(key) == before, "nearDupPairs leaked conf")
    Dedup.jaccardPairs(docs, "doc_id", "text").count()
    assert(spark.conf.get(key) == before, "jaccardPairs leaked conf")
    Dedup.containmentPairs(docs, "doc_id", "text").count()
    assert(spark.conf.get(key) == before, "containmentPairs leaked conf")
    Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), "id_a", "id_b").count()
    assert(spark.conf.get(key) == before, "connectedComponents leaked conf")
    Similarity.semDedupKeep(emb, "vec_id", "embedding", minQdot = 450000L).count()
    assert(spark.conf.get(key) == before, "semDedupKeep leaked conf")
    Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 3).count()
    assert(spark.conf.get(key) == before, "knnGraphIvf leaked conf")
    spark.catalog.clearCache()
    // failure path: withAdvised restores even when the body throws
    intercept[RuntimeException] {
      graft.util.ShuffleBudget.withAdvised(docs) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) == before, "withAdvised leaked conf on failure")
  }

  test("advised-eager kernels return the same rows as their lazy plans") {
    val docs = io.Tables(spark, sf, "documents")
    val eager = Dedup.jaccardPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val lazyRows = Dedup.jaccardPairs(docs, "doc_id", "text", eager = false)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(eager == lazyRows)
    spark.catalog.clearCache()
  }

  test("graphCentroidBudget equals the oracle's bit-length SQL replay across power-of-two boundaries") {
    // the DuckDB kgeo CTE computes greatest(64, 1 << ((length(bin(n-1)) + 1) // 2));
    // length(bin(x)) for a positive BIGINT is the binary digit count,
    // i.e. java.lang.Long.toBinaryString(x).length. Fixture corpora
    // (n <= 2048) never leave the 64 floor, so the derived branch needs
    // this unit pin at values straddling every boundary of interest.
    def sqlReplay(n: Long): Int = {
      val bitlen = java.lang.Long.toBinaryString(n - 1).length
      math.max(64, 1 << ((bitlen + 1) / 2))
    }
    val probes = Seq(2L, 3L, 63L, 64L, 65L,
      2048L, 2049L, 4096L, 4097L, 16384L, 16385L,
      (1L << 20) - 1, 1L << 20, (1L << 20) + 1,
      (1L << 31) - 1, 1L << 31, (1L << 31) + 1,
      (1L << 40) + 7)
    for (n <- probes)
      assert(Similarity.graphCentroidBudget(n) == sqlReplay(n),
        s"n=$n: scala=${Similarity.graphCentroidBudget(n)} sql=${sqlReplay(n)}")
    // and the √n envelope it exists to provide: K² within [n, 4n) above the floor
    for (n <- Seq(16385L, 1L << 20, (1L << 31) + 1)) {
      val k = Similarity.graphCentroidBudget(n).toLong
      assert(k * k >= n && k * k < 4 * n, s"n=$n K=$k breaks the sqrt envelope")
    }
  }

  test("gapFillCounts fails loud on a high-cardinality key instead of building the grid") {
    val wide = (1L to 500L)
      .map(i => (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), s"user_$i"))
      .toDF("ts", "uid")
    val e = intercept[IllegalArgumentException] {
      TimeSeries.gapFillCounts(wide, "ts", "uid", maxKeys = 100)
    }
    assert(e.getMessage.contains("distinct values"))
    // under the cap the same call works
    assert(TimeSeries.gapFillCounts(wide, "ts", "uid", maxKeys = 500).count() == 500L)
  }

  test("updateAnnIndex appends only (existing files untouched) and equals a pinned-quantizer full encode") {
    val emb = io.Tables(spark, sf, "embeddings")
    val base = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    withTempDir("annu_spec") { dir =>
      val scope = new graft.util.CacheScope
      Similarity.writeAnnIndex(
        Similarity.annIndex(base, "vec_id", "embedding", scope = scope), dir)
      scope.close()
      // fingerprint the persisted lists/codes BEFORE the update: the
      // append must add part files, never rewrite or reopen existing ones
      def files(rel: String): Map[String, (Long, Long)] = {
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel")).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
      }
      val before = Seq("coarse", "lists", "book", "codes").map(r => r -> files(r)).toMap
      Similarity.updateAnnIndex(spark, dir, batch, "vec_id", "embedding")
      for (rel <- Seq("coarse", "book"))
        assert(files(rel) == before(rel), s"$rel changed — quantizers must stay pinned")
      for (rel <- Seq("lists", "codes")) {
        val after = files(rel)
        assert(before(rel).forall { case (p, sig) => after.get(p).contains(sig) },
          s"$rel rewrote existing part files — update must be append-only")
        assert(after.size > before(rel).size, s"$rel gained no part files")
      }
      // reference: the SAME pinned quantizers encoding the FULL corpus in
      // one append (copy coarse+book to a fresh dir, update once with
      // everything) — the updated index must serve bit-identically
      withTempDir("annu_ref") { ref =>
        spark.read.parquet(s"$dir/coarse").write.parquet(s"$ref/coarse")
        spark.read.parquet(s"$dir/book").write.parquet(s"$ref/book")
        Similarity.updateAnnIndex(spark, ref, emb, "vec_id", "embedding")
        def serve(d: String) =
          Similarity.probeIndex(Similarity.readAnnIndex(spark, d), emb,
              "vec_id", "embedding",
              probeFilter = col("vec_id") < 10, k = 5)
            .select("probe_id", "vec_id", "qdot", "rn")
            .as[(Long, Long, Long, Long)].collect().sorted.toSeq
        assert(serve(dir) == serve(ref))
        spark.catalog.clearCache()
      }
    }
  }

  test("saltedJoin: content-derived salt spreads a single-partition hot key; result is still the plain join") {
    // all hot rows in ONE partition — the exact regime where the old
    // partition-id salt collapsed to one value
    val left = (1L to 200L).map(i => ("hot", i))
      .toDF("k", "v").repartition(1)
    val right = Seq(("hot", 10L), ("hot", 20L), ("cold", 30L)).toDF("k", "w")
    val salted = Skew.saltedJoin(left, right, "k", saltBuckets = 8, hotThreshold = 50L)
      .as[(String, Long, Long)].collect().sorted.toSeq
    val plain = left.join(right, "k")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(salted == plain)
    // the mechanism: a row-content salt takes every bucket value even
    // inside one partition (the partition-id form took exactly one)
    val spread = left
      .select(pmod(monotonically_increasing_id(), lit(8L)).as("s"))
      .select(countDistinct(col("s"))).as[Long].head()
    assert(spread == 8L, s"salt only took $spread of 8 values in one partition")
  }

  test("softDedupWeights: every doc once, weight = 1000 div cluster size, consistent with CC labels") {
    val docs = io.Tables(spark, sf, "documents")
    val w = Dedup.softDedupWeights(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(w.map(_._1).distinct.size == w.size, "a doc appeared twice")
    assert(w.size == docs.count(), "a doc was dropped")
    assert(w.forall { case (_, size, wt) => size >= 1 && wt == 1000L / size },
      "weight is not 1000 div cluster_size")
    // sizes must be exactly the CC component sizes
    val cc = Dedup.connectedComponents(
      Dedup.nearDupPairs(docs, "doc_id", "text"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSeq
    val ccSize = cc.groupBy(_._2).flatMap { case (_, m) => m.map(r => r._1 -> m.size.toLong) }
    val bySpark = w.map(r => r._1 -> r._2).toMap
    ccSize.foreach { case (id, n) =>
      assert(bySpark(id) == n, s"doc $id: softDedupWeights size ${bySpark(id)} != CC size $n")
    }
    // docs outside any cluster are singletons at full weight
    val inCc = cc.map(_._1).toSet
    w.filterNot(r => inCc(r._1)).foreach { case (id, size, wt) =>
      assert(size == 1L && wt == 1000L, s"uncclustered doc $id got size=$size wt=$wt")
    }
    spark.catalog.clearCache()
  }

  test("canonicalBestQuality: keeper is the max-quality member, ties to min id, singletons map to self") {
    val docs = io.Tables(spark, sf, "documents")
    val got = Dedup.canonicalBestQuality(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got.size == docs.count(), "a doc was dropped or duplicated")
    val cc = Dedup.connectedComponents(
      Dedup.nearDupPairs(docs, "doc_id", "text"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSeq
    val q = graft.ext.TextAnalysis.qualityMicroScores(
        docs.withColumn("__src", lit("_")), "doc_id", "text", "__src")
      .select(col("doc_id"), col("q_micro"))
      .as[(Long, Long)].collect().toMap
    val clusters = cc.groupBy(_._2).values.map(_.map(_._1))
    assert(clusters.nonEmpty, "fixture produced no clusters — test is vacuous")
    clusters.foreach { members =>
      val expected = members.maxBy(id => (q(id), -id))
      members.foreach { id =>
        assert(got(id) == expected,
          s"doc $id → ${got(id)}, expected keeper $expected of cluster $members " +
            s"(scores ${members.map(m => m -> q(m))})")
      }
    }
    val inCc = cc.map(_._1).toSet
    got.filterNot(kv => inCc(kv._1)).foreach { case (id, can) =>
      assert(can == id, s"singleton $id mapped to $can")
    }
    spark.catalog.clearCache()
  }

  test("decontaminateStrip: verbatim copy fully stripped, clean doc untouched, quoted snippet surgically removed") {
    def m(s: String) = spark.sql(s"SELECT md5('$s')").as[String].head()
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "intro words here alpha beta gamma delta epsilon outro tail"))
      .toDF("doc_id", "text")
    val r = graft.ext.TextAnalysis
      .decontaminateStrip(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r(0) == ((1L, 5L, 5L, m(""))), s"verbatim copy survived: ${r(0)}")
    assert(r(1) == ((2L, 6L, 0L, m("one two three four five six"))),
      s"clean doc was touched: ${r(1)}")
    assert(r(2) == ((3L, 10L, 5L, m("intro words here outro tail"))),
      s"surgery removed the wrong span: ${r(2)}")
    spark.catalog.clearCache()
  }

  test("decontaminateStrip plan: the gram join broadcasts the bench set, never shuffle-joins on the gram key") {
    val docs = io.Tables(spark, sf, "documents")
    val df = graft.ext.TextAnalysis.decontaminateStrip(
      docs.where(col("doc_id") % 7 =!= 0),
      docs.where(col("doc_id") % 7 === 0),
      "doc_id", "text", n = 5)
    df.write.format("noop").mode("overwrite").save() // AQE: final plan exists only after an action
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [h#"),
      s"bench hot set not broadcast into the gram join:\n$plan")
    assert(!plan.contains("SortMergeJoin [h#") && !plan.contains("ShuffledHashJoin [h#"),
      s"corpus grams shuffled into the gram join:\n$plan")
    spark.catalog.clearCache()
  }

  test("semanticDecontaminate: equals the window argmax form; ties break to the smaller bench id; bench broadcasts") {
    val emb = io.Tables(spark, sf, "embeddings")
    val bf = col("vec_id") % 7 === 0
    val got = Similarity.semanticDecontaminate(emb, bf, "vec_id", "embedding", 400000L)
    // window-formulation twin: score all corpus×bench, argmax per id
    val bench = emb.where(bf).select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val twin = emb.where(!bf).crossJoin(bench)
      .withColumn("qd", Similarity.quantizedDot(col("embedding"), col("bv")))
      .where(col("qd") >= 400000L)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(desc("qd"), asc("bid"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("qd").as("max_qdot"), col("bid").as("bench_id"))
    assert(got.as[(Long, Long, Long)].collect().sorted.toSeq ==
      twin.as[(Long, Long, Long)].collect().sorted.toSeq)
    // tie-break: one corpus vector equidistant from bench ids 7 and 14
    val tie = Seq(
      (7L, Seq(1f, 0f)), (14L, Seq(1f, 0f)), (3L, Seq(2f, 0f)))
      .toDF("vec_id", "embedding")
    val t = Similarity.semanticDecontaminate(
      tie, col("vec_id") % 7 === 0, "vec_id", "embedding", 1000000L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(t == Seq((3L, 2000000L, 7L)), s"tie-break picked $t")
    // scale shape: the bench side broadcasts (nested-loop under the
    // threshold condition), the corpus side never sort-merge joins
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"bench not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled into a join:\n$plan")
  }
}
