package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Graph}
import graft.ops.FuzzyJoin

/** Round-9 additions: label propagation (community detection), the
  * deletion-neighborhood fuzzy join, and log-structured versioned
  * snapshots (merge-on-read time travel). Each op gets a semantic twin
  * (local replay / brute force) plus the structural guarantee its
  * scaladoc claims (append-only commits, exact candidate superset). */
class R9bOpsSpec extends SparkSpec {
  import spark.implicits._

  test("labelPropagation matches a local synchronous-argmax replay on a known graph") {
    // two triangles bridged by one edge: LPA must keep the families
    // apart (bridge ties never outvote two in-family neighbors)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
      .toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id") // 7 is isolated
    val got = Graph.labelPropagation(edges, "src", "dst", nodes, "id")
      .as[(Long, Long)].collect().toMap

    // local replay of the exact contract: symmetrized distinct edges,
    // 4 rounds, winner = max count then min label, isolated keeps own
    val und = edges.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var labs = (1L to 7L).map(i => i -> i).toMap
    for (_ <- 1 to Graph.defaultLpaIters) {
      val byDst = und.groupBy(_._2)
      labs = labs.map { case (id, old) =>
        byDst.get(id) match {
          case None => id -> old
          case Some(es) =>
            val counts = es.map(e => labs(e._1))
              .groupBy(identity).map { case (l, g) => (l, g.size) }
            val maxC = counts.values.max
            id -> counts.collect { case (l, c) if c == maxC => l }.min
        }
      }
    }
    assert(got == labs, s"got $got, local replay $labs")
    // the semantic point: the two triangles end in different communities,
    // the isolated node keeps its own label
    assert(Set(1L, 2L, 3L).map(got).size == 1, "left triangle split")
    assert(Set(4L, 5L, 6L).map(got).size == 1, "right triangle split")
    assert(got(1L) != got(4L), "bridge merged the two families")
    assert(got(7L) == 7L, "isolated node lost its label")
  }

  test("labelPropagation is deterministic across runs and linear-plan per round (no lineage growth)") {
    val emb = io.Tables(spark, sf, "embeddings").limit(64)
    val edges = emb.select(col("vec_id").as("src"), (col("vec_id") / 2).cast("long").as("dst"))
    def run() = Graph.labelPropagation(edges, "src", "dst", emb, "vec_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run() == run(), "two runs disagreed — argmax tie-break is not total")
    spark.catalog.clearCache()
  }

  test("editDist1SelfPairs equals the brute-force levenshtein join (recall 1.0 by construction)") {
    val rows = Seq(
      (1L, "smith"), (2L, "smyth"),   // substitution
      (3L, "smithh"),                 // insertion vs 1
      (4L, "smith"),                  // exact dup of 1
      (5L, "mith"),                   // deletion vs 1
      (6L, "jones"),                  // far from everything
      (7L, ""),                       // empty string edge case
      (8L, "a"))                      // dist(«», «a») = 1
      .toDF("id", "nm")
    val got = FuzzyJoin.editDist1SelfPairs(rows, "id", "nm")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val brute = rows.as("a")
      .crossJoin(rows.withColumnRenamed("id", "id2").withColumnRenamed("nm", "nm2"))
      .where(col("id") < col("id2") && levenshtein(col("nm"), col("nm2")) <= 1)
      .select(col("id"), col("id2"), levenshtein(col("nm"), col("nm2")).cast("long"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == brute, s"blocked join missed or invented pairs:\ngot   $got\nbrute $brute")
    assert(got.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("editDist1SelfPairs on the supplier fixture equals brute force") {
    val sup = io.Tables(spark, sf, "supplier")
    val got = FuzzyJoin.editDist1SelfPairs(sup, "s_suppkey", "s_name")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val names = sup.select(col("s_suppkey"), col("s_name"))
    val brute = names.as("a")
      .crossJoin(names.select(col("s_suppkey").as("k2"), col("s_name").as("n2")))
      .where(col("s_suppkey") < col("k2") && levenshtein(col("s_name"), col("n2")) <= 1)
      .select(col("s_suppkey"), col("k2"), levenshtein(col("s_name"), col("n2")).cast("long"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == brute)
    spark.catalog.clearCache()
  }

  test("versioned snapshots: commits are append-only, time travel resolves last-writer-wins incl. tombstone revival") {
    withTempDir("ttspec") { tmp =>
      val dir = tmp + "/tbl"
      val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      io.Sinks.writeVersion(v0, dir, 0)
      assert(io.Sinks.nextVersion(spark, dir) == 1L)
      def files(): Map[String, (Long, Long)] = {
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(root).filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath))
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
      }
      val before = files()
      // v1: update k=1, tombstone k=2, insert k=4
      io.Sinks.writeVersion(
        Seq((1L, "a2", false), (2L, "b", true), (4L, "d", false))
          .toDF("k", "s", "__deleted"),
        dir, io.Sinks.nextVersion(spark, dir))
      // v2: revive k=2 over its tombstone, tombstone k=4
      io.Sinks.writeVersion(
        Seq((2L, "b3", false), (4L, "d", true)).toDF("k", "s", "__deleted"),
        dir, io.Sinks.nextVersion(spark, dir))
      val after = files()
      assert(before.forall { case (p, sig) => after.get(p).contains(sig) },
        "a commit rewrote an earlier version's files — commits must be append-only")
      def read(asOf: Long) = io.Sinks.readSnapshotAt(spark, dir, asOf, "k")
        .as[(Long, String)].collect().sorted.toSeq
      assert(read(0) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      assert(read(1) == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
      assert(read(2) == Seq((1L, "a2"), (2L, "b3"), (3L, "c")),
        "v2 must revive k=2 over the v1 tombstone and delete k=4")
      // a version-pruned read never lists newer commit directories: the
      // partition filter must remove __v=2 from the v1 scan
      val scan = io.Sinks.readSnapshotAt(spark, dir, 1, "k")
        .queryExecution.executedPlan.toString
      assert(!scan.contains("__v=2"), s"asOf=1 read still scans __v=2:\n$scan")
    }
  }

  test("triangleCounts matches hand counts on a known graph and a local recompute on the fixture") {
    // K4 minus one edge on {1,2,3,4} (missing 1-4): triangles {1,2,3}
    // and {2,3,4}; nodes 2,3 in both, 1 and 4 in one, 5 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val nodes = (1L to 5L).toDF("id")
    val got = Graph.triangleCounts(edges, "src", "dst", nodes, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L), s"got $got")

    // fixture twin: local adjacency-set recompute over the kNN edges
    val emb = io.Tables(spark, sf, "embeddings")
    val kEdges = graft.ext.Similarity.knnGraphIvf(emb, "vec_id", "embedding", k = 3)
    val es = kEdges.select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2).distinct
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ids = emb.select(col("vec_id")).as[Long].collect().sorted
    val local = ids.map { v =>
      val nb = adj.getOrElse(v, Set.empty).toSeq
      v -> nb.combinations(2).count(p => adj(p(0)).contains(p(1))).toLong
    }.toMap
    val spark2 = Graph.triangleCounts(kEdges, "probe_id", "vec_id", emb, "vec_id")
      .as[(Long, Long)].collect().toMap
    assert(spark2 == local, "distributed triangle counts diverge from local recompute")
    assert(spark2.values.sum > 0, "fixture graph has no triangles — test is vacuous")
    spark.catalog.clearCache()
  }

  test("anomalyFlags: spike over a full baseline flags, series head and proportional growth never do") {
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-${1 + h / 24}%02d ${h % 24}%02d:00:00")
    // key A: 2/hour for 24h, then a 10x spike at hour 24
    // key B: constant 5/hour — must never flag
    val rows =
      (0 until 24).flatMap(h => Seq.fill(2)(("A", ts(h)))) ++
        Seq.fill(20)(("A", ts(24))) ++
        (0 until 25).flatMap(h => Seq.fill(5)(("B", ts(h))))
    val df = rows.toDF("k", "t")
    val got = graft.ops.TimeSeries.anomalyFlags(df, "t", "k")
      .select(col("bucket_ts"), col("k"), col("n"), col("base_n"), col("is_anom"))
      .as[(java.sql.Timestamp, String, Long, Long, Long)].collect()
    val flagged = got.filter(_._5 == 1L).toSeq
    assert(flagged.map(r => (r._2, r._1)) == Seq(("A", ts(24))),
      s"expected exactly A@h24 to flag, got $flagged")
    val spike = flagged.head
    assert(spike._3 == 20L && spike._4 == 48L, s"spike row carries wrong counts: $spike")
    // hours 0..23 have partial baselines — none may flag even though
    // hour 0's trailing sum is 0
    assert(got.filter(r => r._1.before(ts(24))).forall(_._5 == 0L),
      "a partial-baseline bucket flagged")
  }

  test("qualityPercentiles: permille law vs a local recompute; bounds, tie-sharing, monotonicity") {
    val docs = io.Tables(spark, sf, "documents")
    val got = graft.ext.TextAnalysis.qualityPercentiles(docs, "doc_id", "text", "source")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got.size == docs.count(), "a doc was dropped or duplicated")
    // local recompute of (strictly-below * 1000) div max(n-1, 1)
    got.groupBy(_._2).foreach { case (src, rows) =>
      val n = rows.size.toLong
      rows.foreach { case (id, _, q, p) =>
        val below = rows.count(_._3 < q).toLong
        val want = below * 1000L / math.max(n - 1, 1L)
        assert(p == want, s"doc $id in $src: pctl $p != $want (below=$below n=$n)")
      }
      // ties share a percentile; ranks are monotone in the score
      val byScore = rows.groupBy(_._3).view.mapValues(_.map(_._4).distinct).toMap
      assert(byScore.values.forall(_.size == 1), s"$src: tied scores got distinct permilles")
      val sorted = byScore.toSeq.sortBy(_._1).map(_._2.head)
      assert(sorted == sorted.sorted, s"$src: permille not monotone in score")
    }
    assert(got.forall(r => r._4 >= 0 && r._4 <= 1000), "permille out of [0, 1000]")
    spark.catalog.clearCache()
  }

  test("Constraints.check: engineered violations count exactly; null predicates violate; one job") {
    val d = Seq(
      (1L, "ok", 10L),
      (2L, null.asInstanceOf[String], 5L),
      (2L, "dup", 5L),
      (3L, "x", 99L))
      .toDF("id", "s", "v")
    val got = graft.ops.Constraints.check(d,
        rowRules = Seq(
          "s_not_null" -> col("s").isNull,
          "v_max_50" -> (col("v") > 50L),
          // length(null) is null → predicate null → must COUNT (an
          // unexpected null is never silently compliant)
          "v_within_len" -> (col("v") > length(col("s")))),
        uniqueKeys = Seq(
          "id_unique" -> Seq("id"),
          "id_s_unique" -> Seq("id", "s")))
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "s_not_null" -> 1L,
      "v_max_50" -> 1L,
      "v_within_len" -> 4L, // 10>2, null→violation, 5>3, 99>1
      "id_unique" -> 1L,    // id 2 twice
      "id_s_unique" -> 0L))
    // duplicate rule names and empty rule sets fail loud
    intercept[IllegalArgumentException] {
      graft.ops.Constraints.check(d, Seq("a" -> col("id").isNull, "a" -> col("s").isNull))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Constraints.check(d, Nil, Nil)
    }
    // FD rules: id→v holds on this data (each id maps to one v);
    // v→s is violated once (v=5 maps to both null and "dup"... null
    // and "dup" are two distinct (v,s) combos for v=5)
    val fd = graft.ops.Constraints.check(d,
        rowRules = Seq("s_not_null" -> col("s").isNull),
        fdRules = Seq(
          "id_determines_v" -> ((Seq("id"), Seq("v"))),
          "v_determines_s" -> ((Seq("v"), Seq("s")))))
      .as[(String, Long)].collect().toMap
    assert(fd("id_determines_v") == 0L)
    assert(fd("v_determines_s") == 1L)
  }

  test("budgetFill: local replay of the cap/cutoff law; kept prefix is maximal under the cap") {
    val rows = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) "a" else "b", "x" * ((i % 17) + 1).toInt))
    val docs = rows.toDF("id", "src", "text")
    val budget = 2000L
    val got = graft.ext.Sampling.budgetFill(docs, "id", "src",
        length(col("text")), budget)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // scalar replay: md5-60-bit hash, √n caps, 12-bit bucket prefix
    def h60(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val bySrc = rows.groupBy(_._2)
    val w = bySrc.map { case (s, rs) =>
      s -> math.floor(math.sqrt(rs.size.toDouble * 1000000L)).toLong
    }
    val sumW = w.values.sum
    val expected = bySrc.map { case (s, rs) =>
      val cap = budget * w(s) / sumW
      val hist = rs.groupBy(r => h60(r._1) / 281474976710656L)
        .map { case (b, g) => (b, g.map(_._3.length.toLong).sum, g.size.toLong) }
        .toSeq.sortBy(_._1)
      // true PREFIX: stop at the first bucket whose cumulative
      // overflows — later small buckets must not sneak back in
      var (cum, cutoff, nK, cK, open) = (0L, -1L, 0L, 0L, true)
      for ((b, bc, bn) <- hist) {
        if (open && cum + bc <= cap) {
          cum += bc; cutoff = b; nK += bn; cK += bc
        } else open = false
      }
      s -> ((cap, cutoff, nK, cK))
    }
    assert(got == expected)
    // maximality: the kept mass is under the cap and the NEXT bucket
    // would overflow it (when a next bucket exists)
    got.foreach { case (s, (cap, cutoff, _, kept)) =>
      assert(kept <= cap, s"$s keeps beyond its cap")
      val next = bySrc(s).groupBy(r => h60(r._1) / 281474976710656L)
        .toSeq.sortBy(_._1).find(_._1 > cutoff)
      next.foreach { case (_, g) =>
        assert(kept + g.map(_._3.length.toLong).sum > cap,
          s"$s could have kept one more bucket")
      }
    }
  }

  test("decayedTopK: recency outranks raw volume; top-k plans TakeOrderedAndProject") {
    val base = java.sql.Timestamp.valueOf("2025-01-10 12:00:00")
    def at(hoursAgo: Int) =
      new java.sql.Timestamp(base.getTime - hoursAgo * 3600000L)
    // user 1: 10 events now (shift 0 → 10); user 3: 16 events one
    // half-life ago (shift 1 → 8); user 2: 100 events ten half-lives
    // ago (shift 10 → 0) — raw volume loses to recency
    val events = ((1 to 10).map(_ => (at(0), 1L)) ++
      (1 to 100).map(_ => (at(240), 2L)) ++
      (1 to 16).map(_ => (at(24), 3L))).toDF("ts", "user_id")
    val top = graft.ops.TimeSeries.decayedTopK(events, "ts", "user_id",
      k = 2, halfLifeHours = 24)
    val got = top.select("user_id", "score", "rn")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 1L), (3L, 8L, 2L)))
    // the k cut is TakeOrderedAndProject, not a global sort (AQE:
    // executedPlan read after the action above)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected take-ordered in:\n$plan")
  }

  test("leakageSafeSplit: no near-dup pair straddles splits; singletons reduce to the doc-hash law") {
    val docs = io.Tables(spark, sf, "documents")
    val split = graft.ext.Dedup.leakageSafeSplit(docs, "doc_id", "text")
    val sp = split.select(col("doc_id"), col("split"))
    val pairs = graft.ext.Dedup
      .nearDupPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.6)
      .select("id_a", "id_b")
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    val straddle = pairs
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .where(col("sa") =!= col("sb")).count()
    assert(straddle == 0L, "a near-dup pair must never straddle the split boundary")
    // docs whose canonical is themselves follow the plain doc-hash law
    val h = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long"), lit(100L))
    val docLaw = docs.select(col("doc_id"),
      when(h < 80, "train").when(h < 90, "validation").otherwise("test").as("law"))
    val mismatch = split.where(col("canon") === col("doc_id"))
      .join(docLaw, "doc_id").where(col("split") =!= col("law")).count()
    assert(mismatch == 0L)
    spark.catalog.clearCache()
  }

  test("writeAudited: violation blocks publish and preserves staging; clean batch publishes atomically") {
    withTempDir("wapt") { base =>
      val bad = Seq((1L, "x"), (1L, "y")).toDF("id", "s") // duplicate id
      val dst = base + "/tbl"
      val ex = intercept[IllegalStateException] {
        io.Sinks.writeAudited(bad, dst, rowRules = Seq("s_not_null" -> col("s").isNull),
          uniqueKeys = Seq("id_unique" -> Seq("id")))
      }
      assert(ex.getMessage.contains("id_unique=1"))
      // published path untouched, staging left for inspection
      assert(!new java.io.File(dst).exists())
      assert(new java.io.File(dst + ".staging").exists())
      // clean batch publishes; staging is consumed by the rename
      val good = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      val report = io.Sinks.writeAudited(good, dst,
        rowRules = Seq("s_not_null" -> col("s").isNull),
        uniqueKeys = Seq("id_unique" -> Seq("id")))
      assert(report.toMap == Map("s_not_null" -> 0L, "id_unique" -> 0L))
      assert(spark.read.parquet(dst).count() == 2)
      assert(!new java.io.File(dst + ".staging").exists())
    }
  }

  test("scd2History: tombstone closes the interval, revival reopens, current rows have null eff_to") {
    withTempDir("scd2t") { tmp =>
      val dir = tmp + "/tbl"
      io.Sinks.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, 0)
      io.Sinks.writeVersion(
        Seq((1L, "a2", false), (2L, "b", true)).toDF("k", "s", "__deleted"), dir, 1)
      io.Sinks.writeVersion(
        Seq((2L, "b2", false)).toDF("k", "s", "__deleted"), dir, 2)
      val got = io.Sinks.scd2History(spark, dir, "k")
        .select(col("k"), col("s"), col("eff_from"), col("eff_to"))
        .as[(Long, String, Long, Option[Long])].collect().toSet
      assert(got == Set(
        (1L, "a", 0L, Some(1L)), (1L, "a2", 1L, None),
        (2L, "b", 0L, Some(1L)), (2L, "b2", 2L, None)))
    }
  }

  test("estimateEquiJoin: exact branch by hand, null keys excluded, empty side estimates 0") {
    val a = Seq(Some(1L), Some(1L), Some(2L), Some(2L), Some(3L), None).toDF("ka")
    val b = Seq(Some(1L), Some(2L), Some(2L), None, None).toDF("kb")
    // n_a=5 non-null, ndv_a=3 (exact, < k); n_b=3, ndv_b=2
    // est = 5*3 div max(3,2) = 5; true join = 2 + 4 = 6
    val got = graft.ops.Sketches.estimateEquiJoin(a, "ka", b, "kb")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((5L, 3L, 3L, 2L, 5L)))
    val empty = graft.ops.Sketches.estimateEquiJoin(a, "ka", b.where(lit(false)), "kb")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(empty == ((5L, 0L, 3L, 0L, 0L)))
    val bothEmpty = graft.ops.Sketches.estimateEquiJoin(
        a.where(lit(false)), "ka", b.where(lit(false)), "kb")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(bothEmpty == ((0L, 0L, 0L, 0L, 0L)), "zero ndv must not divide")
  }

  test("mmrRerank: local greedy replay; duplicate hit demoted below the diverse one") {
    def q(x: Float): Long = math.round(x.toDouble * 1000)
    def qdot(u: Seq[Float], v: Seq[Float]): Long =
      u.zip(v).map { case (a, b) => q(a) * q(b) }.sum
    // candidates: a and b identical (near-dup pair), c orthogonal and
    // less relevant, d weakly relevant; probe aligned with a/b
    val vecs = Map(
      1L -> Seq(2f, 0f, 0f), 2L -> Seq(2f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f), 4L -> Seq(0.5f, 0.5f, 0.5f))
    val probe = Seq(1f, 0.25f, 0f)
    val lam = 500
    val sl = vecs.toSeq.map { case (id, v) => (100L, id, qdot(probe, v)) }
      .toDF("probe_id", "vec_id", "qdot")
    val vdf = vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.mmrRerank(sl, vdf, "vec_id", "embedding", k = 4,
        lambdaPermille = lam)
      .orderBy("rn").as[(Long, Long, Long, Long)].collect()
      .map { case (_, v, _, _) => v }.toSeq
    // independent scalar replay of the documented greedy law
    var selected = Seq.empty[Long]
    val rel = vecs.map { case (id, v) => id -> qdot(probe, v) }
    for (_ <- 1 to 4) {
      val rem = vecs.keySet -- selected
      val pick = rem.toSeq.map { id =>
        val pen = if (selected.isEmpty) 0L
          else selected.map(s => qdot(vecs(id), vecs(s))).max
        val score = if (selected.isEmpty) rel(id)
          else lam * rel(id) - (1000 - lam) * pen
        (id, score)
      }.maxBy { case (id, sc) => (sc, -id) }._1
      selected = selected :+ pick
    }
    assert(got == selected)
    // the duplicate of the first pick cannot be second — the diverse
    // candidate must outrank it despite lower raw relevance
    assert(got.head == 1L && got(1) != 2L,
      s"duplicate must be demoted, got order $got")
  }

  test("streaming drift sums fold across micro-batches; finished report == batch embeddingDrift") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Seq[Float])]
    val sums = streaming.StreamOps.driftSums(
      input.toDS().toDF("src", "embedding"), "src", "embedding")
    val q = sums.writeStream.outputMode("complete").format("memory")
      .queryName("drift_sink").start()
    try {
      val b1 = Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(0.0f, 1.0f)))
      val b2 = Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(-0.5f, 0.5f)))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = streaming.StreamOps.driftReport(spark.table("drift_sink"), "src")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      val batch = graft.ext.Similarity.embeddingDrift(
        (b1 ++ b2).toDF("src", "embedding"), "src", "embedding")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("embeddingDrift: local integer replay incl. zero-norm null, negative components, truncating div") {
    val df = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)),
      ("b", Seq(0.0f, 1.0f)),
      ("c", Seq(0.0f, 0.0f)),      // zero centroid → cos_micro null
      ("d", Seq(-1.0f, -0.5f)))    // negative mass → negative cosine
      .toDF("src", "embedding")
    // independent scalar replay of the documented law (quantize ×1000,
    // truncating-div centroids, floored sqrt norms, truncating ratio)
    val data = Map(
      "a" -> Seq(Seq(1000L, 0L), Seq(1000L, 0L)),
      "b" -> Seq(Seq(0L, 1000L)),
      "c" -> Seq(Seq(0L, 0L)),
      "d" -> Seq(Seq(-1000L, -500L)))
    def centroid(vs: Seq[Seq[Long]]) = vs.transpose.map(c => c.sum / vs.size)
    val all = data.values.flatten.toSeq
    val glob = all.transpose.map(c => c.sum / all.size)
    def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x * y }.sum
    val expected = data.map { case (g, vs) =>
      val gc = centroid(vs)
      val (dgc, dgg, dcc) = (dot(gc, glob), dot(gc, gc), dot(glob, glob))
      val cos = if (dgg == 0L || dcc == 0L) None
        else Some(dgc * 1000000L /
          (math.sqrt(dgg.toDouble).toLong * math.sqrt(dcc.toDouble).toLong))
      g -> ((vs.size.toLong, cos))
    }
    val got = graft.ext.Similarity.embeddingDrift(df, "src", "embedding")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got == expected)
    assert(got("d")._2.exists(_ < 0L), "group d must score a negative cosine")
    assert(got("c")._2.isEmpty, "zero-norm centroid must yield null, not an error")
  }

  test("ivfTopK candidateFilter == brute force over the filtered corpus when every list is probed") {
    // nprobe = numCentroids makes the coarse stage a no-op, so the
    // pre-filter contract — "search among matching vectors", never
    // "post-filter a found top-k" — must reproduce the brute force
    // over the filtered corpus bit-for-bit
    val emb = io.Tables(spark, sf, "embeddings")
    val pred = pmod(col("label"), lit(2)) === 0
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = graft.ext.Similarity
      .bruteForceTopK(emb.where(pred), probes, "vec_id", "embedding",
        "probe_id", "pe", 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = graft.ext.Similarity.ivfTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5,
        numCentroids = 8, nprobe = 8,
        candidateFilter = pred)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == exact)
    assert(exact.nonEmpty)
    spark.catalog.clearCache()
  }

  test("streaming ANALYZE folds across micro-batches; finished report == batch analyzeColumns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, java.lang.Long)]
    val cols = Seq("a", "b")
    val gate = streaming.StreamOps.analyzeGate(
      input.toDS().toDF("a", "b"), cols, k = 16)
    val q = gate.writeStream.outputMode("complete").format("memory")
      .queryName("analyze_sink").start()
    try {
      val b1 = (0L until 40L).map(i =>
        (i, if (i % 4 == 0) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i % 3)))
      val b2 = (40L until 90L).map(i => (i, java.lang.Long.valueOf(i)))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = streaming.StreamOps.analyzeReport(
          spark.table("analyze_sink"), cols, k = 16)
        .collect().map(_.toSeq).toSet
      val batch = graft.ops.Sketches.analyzeColumns(
          (b1 ++ b2).toDF("a", "b"), cols, k = 16)
        .collect().map(_.toSeq).toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("mergeAnalyzeStates: merged-state report == one-shot ANALYZE bit-for-bit, every estimator branch") {
    // columns exercise each report branch across the merge: >k distinct
    // (estimator path), <k distinct with nulls (sentinel survives),
    // all-null (size-1 rule), and skewed split (one part holds most)
    val k = 16
    val rows = (0L until 600L).map { i =>
      (i,                                            // a: 600 distinct > k
       if (i % 3 == 0) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i % 5), // b: 4 distinct + nulls
       null.asInstanceOf[java.lang.Long],            // c: all null
       if (i < 590) 7L else i)                       // d: skewed split
    }
    val df = rows.toDF("a", "b", "c", "d")
    val cols = Seq("a", "b", "c", "d")
    val oneShot = graft.ops.Sketches.analyzeColumns(df, cols, k = k)
      .collect().map(_.toSeq).toSet
    // three parts with very different profiles — part 3 is tiny
    val parts = Seq(
      df.where(col("a") < 200L), df.where(col("a") >= 200L && col("a") < 595L),
      df.where(col("a") >= 595L))
    val merged = graft.ops.Sketches.reportFromState(
      graft.ops.Sketches.mergeAnalyzeStates(
        parts.map(p => graft.ops.Sketches.analyzeState(p, cols, k = k)), k = k),
      k = k)
    assert(merged.collect().map(_.toSeq).toSet == oneShot)
    // the estimator branch really fired (column a: 600 > k)
    val aNdv = merged.where(col("col_name") === "a")
      .select(col("ndv_est")).as[Long].head()
    // k=16 → ~25% relative error band; the point is the branch fired
    // (returned an estimate, not the exact sub-k count)
    assert(aNdv >= 300L && aNdv <= 1200L, s"KMV estimate out of envelope: $aNdv")
    // and the all-null column reports 0 ndv with full null count
    assert(merged.where(col("col_name") === "c")
      .select(col("n_nulls"), col("ndv_est")).as[(Long, Long)].head() == ((600L, 0L)))
  }

  test("streaming constraint gate: cumulative counts fold across micro-batches, equal the batch gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val rules = Seq(
      "s_not_null" -> col("s").isNull,
      "v_max_50" -> (col("v") > 50L),
      "v_within_len" -> (col("v") > length(col("s")))) // null → violation
    val wide = streaming.StreamOps.constraintGate(
      input.toDS().toDF("id", "s", "v"), rules)
    val q = wide.writeStream.outputMode("complete").format("memory")
      .queryName("gate_sink").start()
    try {
      def report() = streaming.StreamOps.constraintReport(
        spark.table("gate_sink"), rules.map(_._1))
        .as[(String, Long)].collect().toMap
      input.addData((1L, "ok", 10L), (2L, null.asInstanceOf[String], 5L))
      q.processAllAvailable()
      assert(report() == Map(
        "s_not_null" -> 1L, "v_max_50" -> 0L, "v_within_len" -> 2L))
      // second micro-batch FOLDS into the running sums (state = the one
      // wide row), never recounts from scratch
      input.addData((3L, "xyz", 99L), (4L, "abcdef", 2L))
      q.processAllAvailable()
      val got = report()
      assert(got == Map(
        "s_not_null" -> 1L, "v_max_50" -> 1L, "v_within_len" -> 3L))
      // bit-identical to the batch gate over the union of both batches
      val batch = graft.ops.Constraints.check(
        Seq((1L, "ok", 10L), (2L, null.asInstanceOf[String], 5L),
          (3L, "xyz", 99L), (4L, "abcdef", 2L)).toDF("id", "s", "v"), rules)
        .as[(String, Long)].collect().toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("writeShards: md5 shard law pinned to a JVM recompute, manifest round trip, single-shard read") {
    val df = (0L until 64L).map(i => (i, "x" * (i % 7 + 1).toInt)).toDF("id", "text")
    withTempDir("shards") { tmp =>
      val dir = tmp + "/out"
      io.Sinks.writeShards(df, dir, "id", 4, length(col("text")).cast("long"))
      val back = spark.read.parquet(dir + "/data")
        .select(col("id"), col("__shard").cast("long"))
        .as[(Long, Long)].collect()
      assert(back.length == 64)
      // the shard law is engine-independent: recompute it with raw JVM
      // MessageDigest (no Spark, no DuckDB) and demand equality per row
      def law(id: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16) % 4
      }
      back.foreach { case (id, sh) => assert(sh == law(id), s"id $id") }
      // manifest read back from disk equals a local recount
      val expected = (0L until 64L).groupBy(law).map { case (sh, ids) =>
        (sh, ids.size.toLong, ids.map(i => i % 7 + 1).sum)
      }.toSet
      assert(io.Sinks.readShardManifest(spark, dir)
        .as[(Long, Long, Long)].collect().toSet == expected)
      // a single-shard read returns exactly that shard's rows
      assert(io.Sinks.readShard(spark, dir, 2L).count() == back.count(_._2 == 2L))
      intercept[IllegalArgumentException] {
        io.Sinks.writeShards(df, dir + "2", "id", 0, length(col("text")))
      }
    }
  }

  test("schema evolution: drift report, retype gate, merged read null-fills; appends never touch earlier files") {
    import org.apache.spark.sql.types._
    val base = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", LongType)))
    val batch = StructType(Seq(
      StructField("id", LongType), StructField("q", DoubleType),
      StructField("v", StringType)))
    assert(graft.ops.Constraints.schemaDrift(base, batch) == Seq(
      ("q", "added", "DOUBLE"),
      ("s", "dropped", "STRING"),
      ("v", "retyped", "BIGINT -> STRING")))
    intercept[IllegalArgumentException] {
      graft.ops.Constraints.requireCompatible(base, batch)
    }
    // benign drift (add/drop only) passes the gate and is returned
    val ok = StructType(Seq(StructField("id", LongType), StructField("q", DoubleType)))
    assert(graft.ops.Constraints.requireCompatible(base, ok)
      .map(d => (d._1, d._2)) == Seq(("q", "added"), ("s", "dropped"), ("v", "dropped")))

    withTempDir("sevol") { tmp =>
      val dir = tmp + "/tbl"
      io.Sinks.appendEvolved(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
      val before = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      io.Sinks.appendEvolved(Seq((3L, 0.5), (4L, 0.7)).toDF("id", "q"), dir)
      val after = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      // era-1 files byte-untouched (same names, same mtimes), era 2 appended
      assert(before.forall { case (n, m) => after.get(n).contains(m) })
      assert(after.size > before.size)
      val merged = io.Sinks.readEvolved(spark, dir)
      assert(merged.columns.sorted.toSeq == Seq("id", "q", "s"))
      // hand-check the null-fill: era-1 rows have no q, era-2 rows no s
      assert(merged.where(col("id") <= 2 && col("q").isNull && col("s").isNotNull).count() == 2)
      assert(merged.where(col("id") >= 3 && col("s").isNull && col("q").isNotNull).count() == 2)
      assert(merged.count() == 4)
    }
  }

  test("compactVersions folds the log without changing reads at or after the horizon") {
    withTempDir("ttcomp") { tmp =>
      val dir = tmp + "/tbl"
      io.Sinks.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, 0)
      io.Sinks.writeVersion(
        Seq((1L, "a2", false), (3L, "c", false)).toDF("k", "s", "__deleted"), dir, 1)
      io.Sinks.writeVersion(
        Seq((2L, "x", true)).toDF("k", "s", "__deleted"), dir, 2)
      // three more single-row commits fattening the chain — the 100 TB
      // shape this maintenance exists for: many small CDC commits
      // accumulating per retention window
      (3 to 5).foreach { v =>
        io.Sinks.writeVersion(
          Seq((1L, s"a$v", false)).toDF("k", "s", "__deleted").coalesce(1), dir, v)
      }
      val at5 = io.Sinks.readSnapshotAt(spark, dir, 5, "k")
        .as[(Long, String)].collect().sorted.toSeq
      val at4 = io.Sinks.readSnapshotAt(spark, dir, 4, "k")
        .as[(Long, String)].collect().sorted.toSeq
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def countFiles() = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val filesBefore = countFiles()
      io.Sinks.compactVersions(spark, dir, upTo = 4, keyCol = "k")
      // history >= horizon unchanged; directories below it are gone
      assert(io.Sinks.readSnapshotAt(spark, dir, 5, "k")
        .as[(Long, String)].collect().sorted.toSeq == at5)
      assert(io.Sinks.readSnapshotAt(spark, dir, 4, "k")
        .as[(Long, String)].collect().sorted.toSeq == at4)
      assert(at4 == Seq((1L, "a4"), (3L, "c")))
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith("__v=")).sorted.toSeq
      assert(dirs == Seq("__v=4", "__v=5"), s"expected compacted {4,5}, got $dirs")
      // the vacuum's reason to exist: the read path opens fewer files
      val filesAfter = countFiles()
      assert(filesAfter < filesBefore,
        s"expected file count to drop, $filesBefore -> $filesAfter")
      // reads below the retention horizon fail LOUD, never resolve empty
      val e = intercept[IllegalArgumentException] {
        io.Sinks.readSnapshotAt(spark, dir, 3, "k")
      }
      assert(e.getMessage.contains("retired"))
      val e2 = intercept[IllegalArgumentException] {
        io.Sinks.snapshotDiff(spark, dir, 3, 5, "k")
      }
      assert(e2.getMessage.contains("retired"))
    }
  }

  test("dedupSpansKeepFirst keeps exactly the corpus-first copy of a shared span") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 tokens
    val docs = Seq(
      (1L, s"one two three $span nine ten"),
      (5L, s"$span something else entirely here now"),
      (9L, "completely unique text with no shared windows at all"))
      .toDF("doc_id", "text")
    val kf = ext.TextAnalysis.dedupSpansKeepFirstKept(docs, "doc_id", "text", 8)
      .select(col("doc_id"), col("kept"))
      .as[(Long, Seq[String])].collect().toMap
    // doc 1 holds the min (id, pos) occurrence → fully intact
    assert(kf(1L) == s"one two three $span nine ten".split(" ").toSeq,
      s"first occurrence was not kept verbatim: ${kf(1L)}")
    // doc 5's copy is the duplicate → exactly those 8 tokens removed
    assert(kf(5L) == Seq("something", "else", "entirely", "here", "now"),
      s"duplicate occurrence survived or over-stripped: ${kf(5L)}")
    // a doc with no corpus-duplicated window is untouched
    assert(kf(9L).size == 9, s"unique doc was modified: ${kf(9L)}")
    // and the strip-ALL policy removes both copies — the policies differ
    val strip = ext.TextAnalysis.stripDupSpansKept(docs, "doc_id", "text", 8)
      .select(col("doc_id"), col("kept"))
      .as[(Long, Seq[String])].collect().toMap
    assert(strip(1L) == Seq("one", "two", "three", "nine", "ten"),
      s"strip-all kept the first copy: ${strip(1L)}")
  }

  test("strip-all survivors are a subsequence of keep-first survivors (fixture corpus)") {
    // keep-first's removal-start set is a strict subset of strip-all's
    // (first occurrences are exempt), so every token strip-all keeps,
    // keep-first must keep too — positionally, hence subsequence
    def isSubseq(a: Seq[String], b: Seq[String]): Boolean = {
      var i = 0
      for (x <- b if i < a.size && a(i) == x) i += 1
      i == a.size
    }
    val docs = io.Tables(spark, sf, "documents")
    val kf = ext.TextAnalysis.dedupSpansKeepFirstKept(docs, "doc_id", "text", 8)
      .select(col("doc_id"), col("kept"))
      .as[(Long, Seq[String])].collect().toMap
    val strip = ext.TextAnalysis.stripDupSpansKept(docs, "doc_id", "text", 8)
      .select(col("doc_id"), col("kept"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kf.keySet == strip.keySet)
    for ((id, s) <- strip)
      assert(isSubseq(s, kf(id)), s"doc $id: strip-all kept a token keep-first removed")
    // the fixture's near-dup docs guarantee duplicated windows exist,
    // so the two policies must actually diverge somewhere
    val keptKf = kf.values.map(_.size).sum
    val keptStrip = strip.values.map(_.size).sum
    assert(keptStrip < keptKf,
      "strip-all and keep-first kept identical corpora — no duplicated window was exempted")
  }

  test("stripBoilerplate: per-source threshold — cross-source repeats and sub-threshold windows survive") {
    // source A (4 docs, threshold max(2, ceil(5%·4)) = 2): template in
    // 3 docs → stripped everywhere in A; the same template occurs in
    // exactly 1 doc of source B → survives there (per-source, where
    // stripDupSpans' global ≥2 rule would strip both); a quote shared
    // once-per-source across A and B (global count 2) survives in both
    val tpl = "cookie banner accept all"
    val quote = "shared quote here now"
    val docs = Seq(
      (1L, s"$tpl alpha beta gamma delta", "A"),
      (2L, s"epsilon zeta $tpl eta theta", "A"),
      (3L, s"iota kappa lambda $tpl", "A"),
      (4L, s"mu nu xi omicron $quote", "A"),
      (10L, s"$tpl pi rho sigma tau", "B"),
      (11L, s"upsilon phi chi psi $quote omega", "B"),
      (12L, "hi there", "B"))
      .toDF("doc_id", "text", "source")
    val got = ext.TextAnalysis.stripBoilerplate(docs, "doc_id", "text", "source")
      .select(col("doc_id"), col("n_tokens"), col("n_removed"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((8L, 4L)), 2L -> ((8L, 4L)), 3L -> ((7L, 4L)),
      4L -> ((8L, 0L)),                      // quote: once in A
      10L -> ((8L, 0L)),                     // template: once in B
      11L -> ((9L, 0L)),
      12L -> ((2L, 0L))),                    // shorter than the window
      s"per-source scrub wrong: $got")
  }

  test("stripBoilerplate threshold is relative: 4/100 docs survives, 5/100 is boilerplate") {
    val w4 = "tmpl one two three"
    def src(name: String, nShared: Int): Seq[(Long, String, String)] = {
      val base = if (name == "C") 1000L else 2000L
      (0 until 100).map { i =>
        val txt = if (i < nShared) s"$w4 u$name$i v$name$i"
                  else s"a$name$i b$name$i c$name$i d$name$i e$name$i f$name$i"
        (base + i, txt, name)
      }
    }
    val docs = (src("C", 4) ++ src("D", 5)).toDF("doc_id", "text", "source")
    val removed = ext.TextAnalysis.stripBoilerplate(docs, "doc_id", "text", "source")
      .select(col("doc_id"), col("n_removed"))
      .as[(Long, Long)].collect().toMap
    // ceil(5%·100) = 5: C's 4-doc window is below, D's 5-doc window is at it
    assert((0 until 4).forall(i => removed(1000L + i) == 0L),
      "sub-threshold window stripped in C")
    assert((0 until 5).forall(i => removed(2000L + i) == 4L),
      s"at-threshold window kept in D: $removed")
    assert(removed.forall(kv => kv._1 < 2005L || kv._2 == 0L),
      "filler doc lost tokens")
  }

  test("updateClusters folds a batch into existing labels: bridge merge, unlabeled match, untouched pass-through") {
    // engineered shingle geometry: C bridges A and B (J(C,A)=J(C,B)=
    // 30/46≈0.652 ≥ 0.6 via shared 30-shingle token runs) while A and
    // B themselves stay apart (shared run w8..w31 → J=22/54≈0.407);
    // E=F and I=J are identical-copy clusters in the old corpus
    val w = (0 until 40).map(i => s"w$i")
    val cTxt = w.mkString(" ")
    val aTxt = (w.take(32) ++ (1 to 8).map(i => s"x$i")).mkString(" ")
    val bTxt = ((1 to 8).map(i => s"y$i") ++ w.drop(8)).mkString(" ")
    val eTxt = (0 until 40).map(i => s"z$i").mkString(" ")
    val iTxt = (0 until 40).map(i => s"q$i").mkString(" ")
    val hTxt = (0 until 40).map(i => s"v$i").mkString(" ")
    val old = Seq(
      (10L, aTxt), (20L, bTxt),             // unlabeled singletons
      (40L, eTxt), (50L, eTxt),             // cluster 40
      (70L, iTxt), (80L, iTxt))             // cluster 70, untouched
      .toDF("doc_id", "text")
    val batch = Seq(
      (5L, cTxt),                           // bridges A and B
      (7L, eTxt),                           // joins cluster 40 with a SMALLER id
      (60L, hTxt))                          // novel — must stay unlabeled
      .toDF("doc_id", "text")
    val oldLabels = Dedup.connectedComponents(
      Dedup.nearDupPairs(old, "doc_id", "text"), "id_a", "id_b")
    assert(oldLabels.as[(Long, Long)].collect().toMap ==
      Map(40L -> 40L, 50L -> 40L, 70L -> 70L, 80L -> 70L),
      "old-corpus labeling precondition broken — shingle geometry drifted")
    val got = Dedup.updateClusters(batch, old, oldLabels, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      5L -> 5L, 10L -> 5L, 20L -> 5L,       // bridge: unlabeled olds join the batch doc
      7L -> 7L, 40L -> 7L, 50L -> 7L,       // remap: touched cluster takes the new min
      70L -> 70L, 80L -> 70L),              // untouched cluster byte-identical
      s"incremental labeling wrong: $got")
    // the algebraic claim itself: incremental == from-scratch on the union
    val scratch = Dedup.connectedComponents(
      Dedup.nearDupPairs(old.unionByName(batch), "doc_id", "text"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == scratch, s"incremental $got != from-scratch $scratch")
    // delta mode emits exactly the changed rows — the untouched
    // cluster (70, 80) stays in the label store, not the upsert
    val (r, b) = Dedup.lshGeometry(old.count(), 0.6)
    val delta = Dedup.updateClustersFromIndex(batch,
        Dedup.dedupIndex(old, "doc_id", "text", 3, r * b, b),
        oldLabels, "doc_id", "text", 3, r * b, b, 0.6, deltaOnly = true)
      .as[(Long, Long)].collect().toMap
    assert(delta == got.view.filterKeys(k => k != 70L && k != 80L).toMap,
      s"delta upsert wrong: $delta")
  }

  test("hardNegativesTopK: cap respected, diverges from plain top-k, IVF path bit-equal at full probe") {
    val emb = io.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    // cap 0 = "negatives must point away" — guaranteed to bite on any corpus
    val got = ext.Similarity.hardNegativesTopK(
        emb, probes, "vec_id", "embedding", "probe_id", "pe", 8, maxQdot = 0L)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.nonEmpty && got.forall(_._3 < 0L),
      "a vector above the cap leaked into the negatives")
    val plain = ext.Similarity.bruteForceTopK(
        emb, probes, "vec_id", "embedding", "probe_id", "pe", 8)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) != plain,
      "cap was vacuous — pick a threshold the fixture actually crosses")
    // nprobe = numCentroids visits every inverted list → the IVF scale
    // path must reproduce the exact form bit-for-bit
    val ivf = ext.Similarity.ivfTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 8,
        numCentroids = 8, nprobe = 8, maxQdot = 0L)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(ivf == got, s"full-probe IVF hard negatives diverge: ${(ivf diff got) ++ (got diff ivf)}")
  }

  test("phraseTopK: consecutive runs only — scattered bag-of-words never matches") {
    val docs = Seq(
      (1L, "alpha row column sort beta row column sort"),
      (2L, "row beta column gamma sort"),         // all three words, never consecutive
      (3L, "gamma Row Column SORT."),             // tokenizer normalization applies
      (4L, "row column"))                         // shorter than the phrase
      .toDF("doc_id", "text")
    val got = ext.Search.phraseTopK(docs, "doc_id", "text",
        Seq("row", "column", "sort"), 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L),
      s"phrase semantics wrong: $got")
  }

  test("corrComponents: hand-computed sufficient stats, null rows dropped, Pearson derives to ±1") {
    val df = Seq(
      (Option(1.0), Option(2.0), Option(10.0)),
      (Option(2.0), Option(4.0), Option(8.0)),
      (Option(3.0), Option(6.0), Option(6.0)),
      (Option(4.0), Option(8.0), Option(4.0)),
      (Option(9.0), Option.empty[Double], Option(1.0)))  // complete-case: dropped
      .toDF("a", "b", "c")
    val got = graft.ops.Sketches.corrComponents(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getString(3), r.getString(4), r.getString(5),
          r.getString(6), r.getString(7)))).toMap
    assert(got(("a", "b")) == ((4L, "1000", "2000", "300000", "1200000", "600000")))
    assert(got(("a", "c")) == ((4L, "1000", "2800", "300000", "2160000", "600000")))
    assert(got(("b", "c")) == ((4L, "2000", "2800", "1200000", "2160000", "1200000")))
    def pearson(k: (String, String)): Double = {
      val (n, sa, sb, saa, sbb, sab) = got(k)
      val num = n.toDouble * sab.toDouble - sa.toDouble * sb.toDouble
      num / math.sqrt((n.toDouble * saa.toDouble - sa.toDouble * sa.toDouble) *
        (n.toDouble * sbb.toDouble - sb.toDouble * sb.toDouble))
    }
    assert(math.abs(pearson(("a", "b")) - 1.0) < 1e-12, "b = 2a must correlate at +1")
    assert(math.abs(pearson(("a", "c")) + 1.0) < 1e-12, "c = 12 - 2a must correlate at -1")
  }

  test("cdcApply: one commit per staged file; resolution invariant to slicing that respects per-key order") {
    val docs = io.Tables(spark, sf, "documents").limit(60)
      .select("doc_id", "text", "source").cache()
    val upd = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("text", concat(lit("u "), col("text")))
      .withColumn("__deleted", lit(false))
    val del = docs.where(pmod(col("doc_id"), lit(3)) === 1)
      .withColumn("__deleted", lit(true))
    def versions(path: String): Set[Long] =
      new java.io.File(path).listFiles().map(_.getName)
        .filter(_.startsWith("__v=")).map(_.stripPrefix("__v=").toLong).toSet
    // (committed versions, resolved table)
    def apply(parts: Seq[org.apache.spark.sql.DataFrame]): (Set[Long], Map[Long, String]) =
      withTempDir("cdcspec") { tmp =>
        val path = tmp + "/t"
        io.Sinks.writeVersion(docs, path, 0)
        streaming.StreamOps.cdcApply(streaming.StreamOps.stagedStream(parts), path)
        (versions(path),
          io.Sinks.readSnapshotAt(spark, path, Long.MaxValue, "doc_id")
            .select("doc_id", "text").as[(Long, String)].collect().toMap)
      }
    val (v1, m1) = apply(Seq(upd, del))
    assert(v1 == Set(0L, 1L, 2L),
      s"one staged file must become exactly one commit: $v1")
    // finer slicing with per-key order preserved (the split halves of
    // upd touch disjoint keys) must resolve to the same final state
    val (v2, m2) = apply(Seq(
      upd.where(pmod(col("doc_id"), lit(2)) === 0),
      upd.where(pmod(col("doc_id"), lit(2)) === 1),
      del))
    assert(v2 == Set(0L, 1L, 2L, 3L))
    assert(m1 == m2, "micro-batch slicing changed the resolved table")
    // semantics: %3==1 deleted, %3==0 updated, rest untouched
    val base = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val expected = base.collect {
      case (id, t) if id % 3 == 0 => id -> s"u $t"
      case (id, t) if id % 3 == 2 => id -> t
    }.toMap
    assert(m1 == expected, "resolved state diverges from the CDC semantics")
  }

  test("interleaveBySource: local replay of the rank/offset law; positions unique, residues by source") {
    import java.security.MessageDigest
    val docs = io.Tables(spark, sf, "documents").select("doc_id", "source")
    val got = ext.Sampling.interleaveBySource(docs, "doc_id", "source", parts = 4)
      .as[(Long, String, Long, Long)].collect()
    val local = docs.as[(Long, String)].collect()
    def h(id: Long): Long = java.lang.Long.parseLong(
      MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val srcs = local.map(_._2).distinct.sorted
    val k = srcs.length
    val exp = local.groupBy(_._2).toSeq.flatMap { case (s, rows) =>
      val idx = srcs.indexOf(s)
      rows.map(_._1).sortBy(id => (h(id), id)).zipWithIndex.map { case (id, r) =>
        (id, s, r.toLong, r.toLong * k + idx)
      }.toSeq
    }.toSet
    assert(got.toSet == exp, "engine interleave != local replay")
    assert(got.map(_._4).distinct.length == got.length, "positions must be unique")
    got.foreach { case (_, s, _, pos) =>
      assert(pos % k == srcs.indexOf(s), s"position residue must identify the source")
    }
  }

  test("coverageBySource totals fold tokenCounts by source; fertility and per-mille laws hold") {
    val docs = io.Tables(spark, sf, "documents")
    val merges = ext.Bpe.trainMerges(docs, "text")
    val cov = ext.Bpe.coverageBySource(docs, "text", "source", merges)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val folded = ext.Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(sum("n_tokens").as("w"), sum("n_pieces").as("p"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cov.keySet == folded.keySet)
    for ((src, (w, p)) <- folded) {
      val (_, nw, np, nc, fert, comp) = cov(src)
      assert(nw == w && np == p,
        s"$src: coverage totals ($nw, $np) != per-doc fold ($w, $p)")
      assert(np >= nw, s"$src: a word segments to at least one piece")
      assert(fert == 1000L * np / nw && fert >= 1000L, s"$src: fertility law broken")
      assert(comp == 1000L * nc / np, s"$src: compression law broken")
    }
  }

  test("payloadNearDupPairs matches a local byte-gram simhash replay; one-byte flip pairs, exact dup at hamming 0") {
    import java.security.MessageDigest
    val base = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val mut = base.clone(); mut(10) = 'X'.toByte
    val other = ("completely different content of another media file " * 8).getBytes("UTF-8")
    val media = Seq(
      (1L, base), (2L, base.clone), (3L, mut), (4L, other),
      (5L, Array[Byte](1, 2)))                   // shorter than a gram — dropped
      .toDF("media_id", "payload")
    val got = ext.Multimodal.payloadNearDupPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    def sig(p: Array[Byte]): Long = {
      val hashes = (0 to p.length - 4).map { i =>
        val hex = MessageDigest.getInstance("MD5").digest(p.slice(i, i + 4))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      (0 until 60).map { b =>
        val s = hashes.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << b else 0L
      }.reduce(_ | _)
    }
    val ids = Map(1L -> base, 2L -> base, 3L -> mut, 4L -> other)
    val exp = (for {
      a <- ids.keys; b <- ids.keys if a < b
      h = java.lang.Long.bitCount(sig(ids(a)) ^ sig(ids(b))) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == exp, s"engine ${got.toList.sorted} != local replay ${exp.toList.sorted}")
    assert(got.contains((1L, 2L, 0L)), "identical payloads must pair at hamming 0")
    assert(got.exists(p => p._1 == 3L || p._2 == 3L),
      "one-byte-flipped copy must still pair — the near-dup point of the operator")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      "unrelated/short payloads must not pair")
  }

  test("updateClusters equals from-scratch union CC on the fixture corpus") {
    val docs = io.Tables(spark, sf, "documents")
    val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val old = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val oldLabels = Dedup.connectedComponents(
      Dedup.nearDupPairs(old, "doc_id", "text"), "id_a", "id_b")
    val got = Dedup.updateClusters(batch, old, oldLabels, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val scratch = Dedup.connectedComponents(
      Dedup.nearDupPairs(docs, "doc_id", "text"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == scratch,
      s"fixture: incremental and from-scratch disagree on ${(got.toSet diff scratch.toSet) ++ (scratch.toSet diff got.toSet)}")
  }

  test("bfsDepth: min-hop law on a known graph — symmetrized travel, multi-seed min, horizon cut, isolated -1") {
    // path 1-2-3-4-5 (edges stored one direction only) + seed island 6
    // + isolated 7; seeds {1, 6}
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id")
    val seeds = Seq(1L, 6L).toDF("id")
    val got = Graph.bfsDepth(edges, "src", "dst", nodes, "id", seeds, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> -1L, // 4 hops — beyond the 3-round horizon
      6L -> 0L, 7L -> -1L), s"bfs depths wrong: $got")
    // a node adjacent to both seeds takes the MINIMUM distance
    val got2 = Graph.bfsDepth(
        Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst"),
        "src", "dst", (1L to 4L).toDF("id"),
        "id", Seq(1L, 4L).toDF("id"), "id")
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 0L),
      s"multi-seed min law broken: $got2")
  }

  test("collocations: hand-computed integer lift, support floor, tie order") {
    val docs = (
      Seq.fill(12)("red apple") ++ Seq.fill(12)("red brick") ++
        Seq.fill(24)("green tea") ++ Seq.fill(5)("blue sky"))
      .toDF("text")
    val got = ext.TextAnalysis.collocations(docs, "text")
      .as[(String, String, Long, Long, Long)].collect()
    // nb=53 bigram events; all three surviving pairs share the exact
    // floor 12·53·10⁶ div (24·12) = 24·53·10⁶ div (24·24) = 2208333;
    // (blue, sky) has support 5 < 10 and must be excluded
    assert(got.toSeq == Seq(
      ("green", "tea", 24L, 2208333L, 1L),
      ("red", "apple", 12L, 2208333L, 2L),
      ("red", "brick", 12L, 2208333L, 3L)),
      s"collocation table wrong: ${got.toSeq}")
  }

  test("pointInTime: interval containment cell by cell — carry, switch, tombstone gap, pre-insert gap") {
    val dim = Seq(
      (1L, "a", 0L, Option(2L)), (1L, "a2", 2L, Option.empty[Long]),
      (2L, "b", 0L, Option(1L)), // closed at 1, never reopened
      (3L, "c", 5L, Option.empty[Long])) // starts beyond every fact
      .toDF("k", "v", "eff_from", "eff_to")
    val facts = (for { k <- 1L to 3L; t <- 0L to 3L } yield (k, t))
      .toDF("k", "at")
    val got = graft.ops.AsOfJoin.pointInTime(
        facts, dim, "k", "at", "eff_from", "eff_to", Seq("v"))
      .as[(Long, Long, Option[String])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = Map(
      (1L, 0L) -> Some("a"), (1L, 1L) -> Some("a"),
      (1L, 2L) -> Some("a2"), (1L, 3L) -> Some("a2"),
      (2L, 0L) -> Some("b"), (2L, 1L) -> None,
      (2L, 2L) -> None, (2L, 3L) -> None,
      (3L, 0L) -> None, (3L, 1L) -> None, (3L, 2L) -> None, (3L, 3L) -> None)
    assert(got == want, s"point-in-time cells wrong: ${got.toSeq.sortBy(_._1)}")
  }

  test("trendComponents: exact unit slopes on engineered series; zero-fill is part of the fit") {
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // "up" has NO events in hour 0 — the zero must come from gap-fill
    val rows =
      (for { h <- 0 to 3; _ <- 1 to h } yield (ts(h), "up")) ++
      (for { h <- 0 to 3; _ <- 1 to (3 - h) } yield (ts(h), "down")) ++
      (for { h <- 0 to 3; _ <- 1 to 2 } yield (ts(h), "flat"))
    val got = graft.ops.TimeSeries.trendComponents(
        rows.toDF("ts", "event_type"), "ts", "event_type")
      .as[(String, Long, Option[Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "up" -> ((4L, Some(1000000L), 1500L)),
      "down" -> ((4L, Some(-1000000L), 1500L)),
      "flat" -> ((4L, Some(0L), 2000L))),
      s"trend fits wrong: $got")
  }

  test("centroidAffinity: parallel groups hit 10⁶ micro, orthogonal hit 0, one row per unordered pair") {
    val vecs = Seq(
      (1, Seq(1f, 0f, 0f, 0f)), (1, Seq(1f, 0f, 0f, 0f)),
      (2, Seq(0f, 1f, 0f, 0f)),
      (3, Seq(2f, 0f, 0f, 0f))) // parallel to group 1 at double norm
      .toDF("label", "embedding")
    val got = ext.Similarity.centroidAffinity(vecs, "label", "embedding")
      .select("label_a", "label_b", "n_a", "n_b", "cos_micro")
      .as[(Int, Int, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got == Map(
      (1, 2) -> ((2L, 1L, 0L)),
      (1, 3) -> ((2L, 1L, 1000000L)),
      (2, 3) -> ((1L, 1L, 0L))),
      s"affinity matrix wrong: $got")
    // fixture: 10 labels → exactly 45 unordered pairs, cos in
    // [-10⁶, 10⁶] allowing the floor-sqrt slack
    val fx = ext.Similarity.centroidAffinity(
        io.Tables(spark, sf, "embeddings"), "label", "embedding")
      .select("cos_micro").as[Long].collect()
    assert(fx.length == 45, s"expected 45 pairs, got ${fx.length}")
    assert(fx.forall(c => c >= -1010000L && c <= 1010000L),
      s"cosine out of range: ${fx.filterNot(c => c >= -1010000L && c <= 1010000L).toSeq}")
  }

  test("snapshotDiff: insert/update/delete classified; identical rewrites and round-trip revivals are silent") {
    withTempDir("cft") { tmp =>
      val dir = tmp + "/tbl"
      val v0 = Seq((1L, "a"), (2L, "b"), (4L, "d"), (5L, "e"))
        .toDF("k", "payload")
      io.Sinks.writeVersion(v0, dir, 0)
      val v1 = Seq((1L, "a2", false), (2L, "b", true), (3L, "c", false),
        (4L, "d", false), // identical rewrite: touched, but no state change
        (5L, "e", true))
        .toDF("k", "payload", "__deleted")
      io.Sinks.writeVersion(v1, dir, 1)
      val v2 = Seq((5L, "e", false)) // revival with the ORIGINAL payload
        .toDF("k", "payload", "__deleted")
      io.Sinks.writeVersion(v2, dir, 2)

      def diff(f: Long, t: Long): Map[Long, (String, Option[String], Option[String])] =
        io.Sinks.snapshotDiff(spark, dir, f, t, "k")
          .select("k", "change", "old_payload", "new_payload")
          .as[(Long, String, Option[String], Option[String])]
          .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap

      assert(diff(0, 1) == Map(
        1L -> (("update", Some("a"), Some("a2"))),
        2L -> (("delete", Some("b"), None)),
        3L -> (("insert", None, Some("c"))),
        5L -> (("delete", Some("e"), None))),
        s"v0→v1 feed wrong: ${diff(0, 1)}")
      assert(diff(1, 2) == Map(5L -> (("insert", None, Some("e")))),
        s"v1→v2 feed wrong: ${diff(1, 2)}")
      // endpoint semantics: 5 was deleted at v1 and revived at v2 with
      // its original payload — over (0,2] the state round-tripped home,
      // so the feed must be silent on it despite two commits of traffic
      assert(diff(0, 2) == Map(
        1L -> (("update", Some("a"), Some("a2"))),
        2L -> (("delete", Some("b"), None)),
        3L -> (("insert", None, Some("c")))),
        s"v0→v2 endpoint law broken: ${diff(0, 2)}")
      // structural guarantee: the touched-key prune plans as a LeftSemi
      // join, so untouched base rows never reach the resolution windows
      // (under AQE the executed plan exists only after an action)
      val d = io.Sinks.snapshotDiff(spark, dir, 0, 1, "k")
      d.collect()
      val plan = d.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"),
        s"touched-key semi-join prune missing from plan:\n$plan")
    }
  }

  test("sessionTransitions: hand-computed walk counts; interior state flow balances") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def ts2(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val events = Seq(
      // user 1, session 1: a → b; session 2 (2h later): a alone
      (10L, ts(0), 1L, "a"), (11L, ts(5), 1L, "b"), (12L, ts2(3), 1L, "a"),
      // user 2: single event c
      (20L, ts(1), 2L, "c"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.ops.TimeSeries.sessionTransitions(events)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("_start", "a") -> 2L, ("a", "b") -> 1L, ("b", "_end") -> 1L,
      ("a", "_end") -> 1L, ("_start", "c") -> 1L, ("c", "_end") -> 1L),
      s"transition counts wrong: $got")
    // every interior state's in-flow equals its out-flow on the fixture
    val fixture = graft.ops.TimeSeries.sessionTransitions(
        io.Tables(spark, sf, "events"))
      .as[(String, String, Long)].collect()
    val interior = fixture.flatMap(t => Seq(t._1, t._2))
      .filterNot(s => s == "_start" || s == "_end").distinct
    interior.foreach { st =>
      val in = fixture.filter(_._2 == st).map(_._3).sum
      val out = fixture.filter(_._1 == st).map(_._3).sum
      assert(in == out, s"state $st unbalanced: in=$in out=$out")
    }
    assert(fixture.filter(_._1 == "_start").map(_._3).sum ==
      fixture.filter(_._2 == "_end").map(_._3).sum,
      "session starts must equal session ends")
  }
}
