package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.io.Sinks

class IoLshSpec extends SparkSpec {
  import spark.implicits._

  test("csv round trip preserves data") {
    withTempDir("csv") { dir =>
      val df = io.Tables(spark, sf, "nation")
      Sinks.writeCsv(df, dir)
      val back = Sinks.readCsv(spark, dir)
      assert(back.count() == df.count())
      assert(back.columns.toSeq == df.columns.toSeq)
      assert(back.as[(Int, String, Int)].collect().toSet ==
        df.as[(Int, String, Int)].collect().toSet)
    }
  }

  test("json lines round trip preserves data") {
    withTempDir("json") { dir =>
      val df = io.Tables(spark, sf, "region")
      Sinks.writeJsonLines(df, dir)
      val back = Sinks.readJsonLines(spark, dir)
      assert(back.count() == df.count())
      assert(back.select("r_regionkey", "r_name").as[(Long, String)].collect().toSet ==
        df.select("r_regionkey", "r_name").as[(Int, String)].collect().map { case (k, n) => (k.toLong, n) }.toSet)
    }
  }

  test("writePartitioned emits out_<j> files in every format") {
    withTempDir("partd") { dir =>
      Sinks.writePartitioned(io.Tables(spark, sf, "nation"), dir, 3, "n_nationkey", "csv")
      val names = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("out_"))
      assert(names.map(_.takeWhile(_ != '.')).sorted.toSeq == Seq("out_0", "out_1", "out_2"))
    }
  }

  test("writePartitioned throws when the filesystem refuses an out_<j> rename") {
    // Hadoop reports a failed rename by returning false, not by throwing
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.refuseout.impl", classOf[RefuseOutRenameFs].getName)
    conf.setBoolean("fs.refuseout.impl.disable.cache", true)
    withTempDir("partr") { dir =>
      try {
        val e = intercept[IllegalArgumentException](Sinks.writePartitioned(
          io.Tables(spark, sf, "nation"), s"refuseout://$dir", 3, "n_nationkey", "csv"))
        assert(e.getMessage.contains("out_"))
      } finally {
        conf.unset("fs.refuseout.impl")
        conf.unset("fs.refuseout.impl.disable.cache")
      }
    }
  }

  test("bruteForceTopK (bounded-heap operator) equals the window formulation") {
    val emb = io.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "qdot", "rn")
        .as[(Long, Long, Long, Long)].collect().toSet
    val heap = rows(Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10))
    val window = rows(Similarity
      .bruteForceTopKWindow(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10))
    assert(heap.nonEmpty && heap == window)
  }

  test("CacheScope releases the dedup pipeline's cached intermediates") {
    val docs = io.Tables(spark, sf, "documents")
    // eager = false: the advised-eager default adds a localCheckpoint
    // leaf for the RESULT, which is deliberately NOT scope-owned (it
    // must survive scope.close(); the ContextCleaner reaps it on GC) —
    // this test pins the lifecycle of the scope-owned intermediates
    val before = spark.sparkContext.getPersistentRDDs.size
    val scope = new graft.util.CacheScope
    val n = graft.ext.Dedup
      .nearDupPairs(docs, "doc_id", "text", scope = scope, eager = false).count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "pipeline should have cached its shingle relation")
    scope.close()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"scope.close() must unpersist what the pipeline cached (pairs=$n)")
    // and the eager default's checkpointed answer outlives its scope:
    // no recompute path back through the released caches is needed
    val scope2 = new graft.util.CacheScope
    val pairs = graft.ext.Dedup.nearDupPairs(docs, "doc_id", "text", scope = scope2)
    scope2.close()
    assert(pairs.count() == n, "eager result must survive scope.close()")
  }

  test("IVF top-k is an exact-scored subset of brute force with nonzero recall") {
    val emb = io.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val brute = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect()
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    val ivf = Similarity
      .ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 10, numCentroids = 16)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect()
    assert(ivf.nonEmpty)
    val hits = ivf.count { case (p, v, q) => bruteTop.get(p).exists(_.get(v).contains(q)) }
    val pairsChecked = ivf.count { case (p, v, _) => bruteTop.get(p).exists(_.contains(v)) }
    assert(hits == pairsChecked, "IVF re-scores must match exact scores")
    assert(hits > 0, "recall@10 must be nonzero")
  }

  test("IVF Lloyd training: lists partition the corpus and the trained run is deterministic") {
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count()
    val sizes = Similarity.ivfListSizes(emb, "vec_id", "embedding", numCentroids = 16)
      .as[(Long, Long)].collect()
    assert(sizes.map(_._2).sum == n, "every corpus vector lands in exactly one inverted list")
    def run() = Similarity
      .ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 5, numCentroids = 16)
      .select("probe_id", "vec_id", "qdot", "rn").as[(Long, Long, Long, Long)].collect().toSet
    val r1 = run()
    spark.catalog.clearCache()
    val r2 = run()
    spark.catalog.clearCache()
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("quantizedDot treats an array<long> side as pre-quantized") {
    val df = Seq((Seq(0.5f, -1.2f, 0.0015f), Seq(2.0f, 3.0f, -4.0f))).toDF("a", "b")
    val q = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x.cast("double") * 1000).cast("long"))
    val got = df.select(
      Similarity.quantizedDot(col("a"), col("b")).as("ff"),
      Similarity.quantizedDot(q(col("a")), col("b")).as("lf"),
      Similarity.quantizedDot(q(col("a")), q(col("b"))).as("ll"))
      .as[(Long, Long, Long)].head()
    assert(got._1 == got._2 && got._2 == got._3)
  }

  test("LSH top-k is an exact-scored subset of brute force with nonzero recall") {
    val emb = io.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val brute = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect()
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    val lsh = Similarity
      .lshTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 10, dim = 64)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every LSH score must equal the exact score for that pair (re-score
    // is exact), and overall recall must be nonzero
    val hits = lsh.count { case (p, v, q) => bruteTop.get(p).exists(_.get(v).contains(q)) }
    val pairsChecked = lsh.count { case (p, v, _) => bruteTop.get(p).exists(_.contains(v)) }
    assert(hits == pairsChecked, "LSH re-scores must match exact scores")
    assert(hits > 0, "recall@10 must be nonzero")
  }

  test("multiprobe LSH: recall at least plain LSH's with a quarter of the tables") {
    val emb = io.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val bruteSet = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 10)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Int = {
      val r = df.select("probe_id", "vec_id").as[(Long, Long)].collect()
        .count(bruteSet.contains)
      spark.catalog.clearCache(); r
    }
    // equal planes; multiprobe runs 2 tables against plain LSH's 8 —
    // the Hamming-1 flips must buy back at least what 4x tables bought
    val plain = recallOf(Similarity.lshTopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 10, dim = 64, tables = 8, planes = 8))
    val mp = recallOf(Similarity.lshTopKMp(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 10, dim = 64, tables = 2, planes = 8))
    assert(mp >= plain, s"multiprobe recall $mp below plain $plain")
    assert(mp > 0)
  }

  test("multiprobe LSH at equal geometry is a candidate superset of plain LSH") {
    // same (planes, tables): every home-bucket match is also a
    // multiprobe match (f = 0 is the home key), so the top-k sets can
    // only improve toward brute force
    val emb = io.Tables(spark, sf, "embeddings")
    val plain = Similarity.lshTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 10, dim = 64, tables = 4, planes = 10)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect().toSet
    spark.catalog.clearCache()
    val mp = Similarity.lshTopKMp(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 10, dim = 64, tables = 4, planes = 10)
      .select("probe_id", "vec_id", "qdot").as[(Long, Long, Long)].collect()
    spark.catalog.clearCache()
    // per-probe, positionwise: the multiprobe j-th best score >= the
    // plain j-th best (a superset candidate pool dominates at every
    // rank; robust to probes with fewer than k candidates)
    val plainSorted = plain.groupBy(_._1).view
      .mapValues(_.map(_._3).toSeq.sorted(Ordering[Long].reverse)).toMap
    val mpSorted = mp.groupBy(_._1).view
      .mapValues(_.map(_._3).toSeq.sorted(Ordering[Long].reverse)).toMap
    for ((p, ps) <- plainSorted) {
      val ms = mpSorted.getOrElse(p, Seq.empty)
      assert(ms.size >= ps.size, s"probe $p: multiprobe kept fewer rows")
      ps.zip(ms).zipWithIndex.foreach { case ((pv, mv), j) =>
        assert(mv >= pv, s"probe $p rank $j: multiprobe $mv below plain $pv")
      }
    }
  }
}

/** Local filesystem under the `refuseout://` scheme whose rename returns
  * false for every destination named `out_*`. */
class RefuseOutRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuseout:///")
  override def getScheme: String = "refuseout"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("out_") && super.rename(src, dst)
}
