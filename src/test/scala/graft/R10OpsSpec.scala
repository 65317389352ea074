package graft

import org.apache.spark.sql.functions._

/** Round-10 operator laws: multi-benchmark contamination attribution,
  * the TV-distance drift gate, SQ8 ANN, privacy gates, the epoch
  * scheduler, MV maintenance, the interval-concurrency profile, and
  * per-user pattern funnels. */
class R10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("contaminationAttribution credits each leaked benchmark separately") {
    val span1 = "alpha bravo charlie delta echo" // one 5-gram
    val span2 = "one two three four five six"    // two 5-grams
    val corpus = Seq(
      (1L, s"intro $span1 outro words here"),   // leaks bench A only
      (2L, s"start $span2 finish"),             // leaks bench B (both grams)
      (3L, s"$span1 then also $span2"),         // leaks both benches
      (4L, "completely clean text with nothing shared at all"))
      .toDF("doc_id", "text")
    val bench = Seq(
      ("A", s"unrelated lead $span1 unrelated tail"),
      ("B", s"other framing $span2 other ending"))
      .toDF("bench", "text")
    val got = ext.TextAnalysis
      .contaminationAttribution(corpus, bench, "doc_id", "text", "bench")
      .as[(Long, String, Long)].collect()
      .map { case (d, b, n) => (d, b) -> n }.toMap
    assert(got == Map(
      (1L, "A") -> 1L,
      (2L, "B") -> 2L,
      (3L, "A") -> 1L, (3L, "B") -> 2L))
  }

  test("histogramDriftTv: 0 on identical slices, 1000 on disjoint ranges, 0 on constants") {
    val a = spark.range(0L, 1000L).select(
      col("id").as("x"), col("id").as("y"), lit(7L).as("c"))
    val same = ops.Sketches.histogramDriftTv(a, a, Seq("x", "y", "c"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(same == Map("x" -> 0L, "y" -> 0L, "c" -> 0L))

    val b = spark.range(1000L, 2000L).select(
      col("id").as("x"), col("id").as("y"), lit(7L).as("c"))
    val disj = ops.Sketches.histogramDriftTv(a, b, Seq("x", "c"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // sides occupy disjoint bucket sets -> maximal TV; the constant
    // column is identical on both sides (single shared bucket) -> 0
    assert(disj("x") == 1000L, s"disjoint ranges must read 1000, got ${disj("x")}")
    assert(disj("c") == 0L)

    // totals ride along correctly
    val row = ops.Sketches.histogramDriftTv(a, b, Seq("x"))
      .as[(String, Long, Long, Long)].head()
    assert(row._2 == 1000L && row._3 == 1000L)
  }

  test("sq8TopK with full refine equals the exact brute force (sf0.001)") {
    // refine >= corpus makes the SQ8 shortlist total, so the exact
    // re-rank must reproduce bruteForceTopK bit-for-bit — the scalar
    // quantization can only ever act through the SHORTLIST cut
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = ext.Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sq8 = ext.Similarity
      .sq8TopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 5, refine = n)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sq8 == exact)
    assert(exact.nonEmpty)
  }

  test("sq8TopK survives a constant dimension (zero-width bucket) and plans bounded-heap ranking") {
    // dim 2 is constant across the corpus -> mx == mn; the +1 width
    // guard must keep the code at 0 and the decode at mn, never a
    // division by zero
    val vs = Seq(
      (1L, Array(1.0f, 0.5f, 0.25f, 0.0f)),
      (2L, Array(0.9f, 0.5f, 0.35f, 0.1f)),
      (3L, Array(-0.8f, 0.5f, 0.15f, 0.9f)),
      (4L, Array(0.1f, 0.5f, 0.85f, -0.4f)),
      (5L, Array(0.3f, 0.5f, -0.45f, 0.2f)))
      .toDF("vec_id", "embedding")
    val got = ext.Similarity
      .sq8TopK(vs, "vec_id", "embedding", col("vec_id") === 1L, k = 4, refine = 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val probes = vs.where(col("vec_id") === 1L)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = ext.Similarity
      .bruteForceTopK(vs, probes, "vec_id", "embedding", "probe_id", "pe", 4)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == exact)

    val plan = ext.Similarity
      .sq8TopK(vs, "vec_id", "embedding", col("vec_id") === 1L, k = 4)
      .queryExecution.executedPlan.toString
    // shortlist and final ranking both run through the bounded heap;
    // the one-row bounds and the probe batch reach the scoring scan as
    // broadcasts, never a cartesian product
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ivfSq8TopK with full probe width and full refine equals the exact brute force (sf0.001)") {
    // nprobe = numCentroids scans every list and refine >= corpus
    // makes the SQ8 shortlist total — the composed path must reproduce
    // bruteForceTopK bit-for-bit, as both approximations act only
    // through the routing and shortlist cuts
    val emb = io.Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val probes = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val exact = ext.Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", "probe_id", "pe", 5)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = ext.Similarity
      .ivfSq8TopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 5,
        numCentroids = 8, nprobe = 8, refine = n)
      .select("probe_id", "vec_id", "qdot", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == exact)
    assert(exact.nonEmpty)
    spark.catalog.clearCache()
  }

  test("privacyReport flags small and homogeneous classes; suppression keeps exactly the passing rows") {
    // class (a, 1): large and diverse -> passes both gates
    // class (a, 2): large but every member shares the sensitive value
    //               -> k-anonymous, NOT l-diverse (homogeneity attack)
    // class (b, 1): small -> not k-anonymous (diverse or not)
    val rows = Seq(
      ("a", 1, 0), ("a", 1, 1), ("a", 1, 0),
      ("a", 2, 1), ("a", 2, 1), ("a", 2, 1),
      ("b", 1, 0)).toDF("seg", "nat", "flag")
    val rep = ops.Constraints
      .privacyReport(rows, Seq("seg", "nat"), col("flag"), k = 3L, l = 2L)
      .as[(String, Int, Long, Long, Boolean, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(rep(("a", 1)) == ((3L, 2L, true, true)))
    assert(rep(("a", 2)) == ((3L, 1L, true, false)))
    assert(rep(("b", 1)) == ((1L, 1L, false, false)))

    val kept = ops.Constraints
      .suppressNonAnonymous(rows, Seq("seg", "nat"), col("flag"), k = 3L, l = 2L)
      .select("seg", "nat").distinct()
      .as[(String, Int)].collect().toSet
    assert(kept == Set(("a", 1)))
  }

  test("maintainAggView: group moves, emptied groups, and chained cycles all equal the recompute") {
    withTempDir("mvspec") { tmp =>
      val dir = tmp + "/tbl"
      // base: grp a = {k1: 10, k2: 20}, grp b = {k3: 30}
      val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "grp", "v")
      io.Sinks.writeVersion(base, dir, 0)
      // v1: k2 MOVES a→b with a new value; k3 deleted (empties nothing
      // yet); k4 inserted into c
      io.Sinks.writeVersion(Seq(
        (2L, "b", 25L, false), (3L, "b", 30L, true), (4L, "c", 7L, false))
        .toDF("k", "grp", "v", "__deleted"), dir, 1)
      // v2: k1 deleted -> grp a EMPTIES and must leave the view
      io.Sinks.writeVersion(Seq((1L, "a", 10L, true))
        .toDF("k", "grp", "v", "__deleted"), dir, 2)

      def mvOf(asOf: Long) = io.Sinks.readSnapshotAt(spark, dir, asOf, "k")
        .groupBy("grp").agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
      def maintained(from: Long, to: Long, mv: org.apache.spark.sql.DataFrame) =
        io.Sinks.maintainAggView(mv,
          io.Sinks.snapshotDiff(spark, dir, from, to, "k"),
          "grp", oldVal = col("old_v"), newVal = col("new_v"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Long)].collect().toSet

      // one cycle over the move commit
      val m1 = maintained(0, 1, mvOf(0))
      assert(rows(m1) == rows(mvOf(1)))
      assert(rows(m1) == Set(("a", 1L, 10L), ("b", 1L, 25L), ("c", 1L, 7L)))
      // chained second cycle off the MAINTAINED state (not a recompute):
      // grp a empties and leaves the view
      val m2 = maintained(1, 2, m1)
      assert(rows(m2) == rows(mvOf(2)))
      assert(rows(m2) == Set(("b", 1L, 25L), ("c", 1L, 7L)))
      // one big cycle 0→2 equals the two chained ones
      assert(rows(maintained(0, 2, mvOf(0))) == rows(m2))
    }
  }

  test("mvMaintainApply: the stored view equals the recompute after every trigger, across stream restarts") {
    withTempDir("mvstream_spec") { base =>
      val dir = base + "/tbl"
      val rows = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "grp", "v")
      io.Sinks.writeVersion(rows, dir, 0)
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("grp")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
      agg(io.Sinks.readSnapshotAt(spark, dir, 0, "k")).write.parquet(s"$base/mv")
      val b1 = Seq((2L, "b", 25L, false), (4L, "c", 7L, false))
        .toDF("k", "grp", "v", "__deleted")
      val b2 = Seq((1L, "a", 10L, true)).toDF("k", "grp", "v", "__deleted")
      def stored = spark.read.parquet(s"$base/mv")
        .as[(String, Long, Long)].collect().toSet
      def recompute(asOf: Long) = agg(io.Sinks.readSnapshotAt(spark, dir, asOf, "k"))
        .as[(String, Long, Long)].collect().toSet
      def drain(b: org.apache.spark.sql.DataFrame): Unit =
        streaming.StreamOps.mvMaintainApply(
          streaming.StreamOps.stagedStream(Seq(b)), dir, s"$base/mv",
          "k", "grp", oldVal = col("old_v"), newVal = col("new_v"))
      drain(b1) // trigger 1: move + insert
      assert(stored == recompute(1))
      drain(b2) // a SEPARATE stream session resumes off the stored view
      assert(stored == recompute(2))
      // grp a emptied by the delete; b holds the moved k2 plus base k3
      assert(stored == Set(("b", 2L, 55L), ("c", 1L, 7L)))
    }
  }

  test("mvMaintainApply catches up when a commit's view publish never ran and the batch is re-sent") {
    withTempDir("mvlag_spec") { base =>
      val dir = base + "/tbl"
      io.Sinks.writeVersion(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "grp", "v"), dir, 0)
      def agg(asOf: Long) = io.Sinks.readSnapshotAt(spark, dir, asOf, "k").groupBy("grp")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
      agg(0).write.parquet(s"$base/mv")
      def drain(b: org.apache.spark.sql.DataFrame): Unit =
        streaming.StreamOps.mvMaintainApply(
          streaming.StreamOps.stagedStream(Seq(b)), dir, s"$base/mv",
          "k", "grp", oldVal = col("old_v"), newVal = col("new_v"))
      drain(Seq((2L, "b", 25L, false)).toDF("k", "grp", "v", "__deleted"))
      val b = Seq((4L, "c", 7L, false), (1L, "a", 10L, true)).toDF("k", "grp", "v", "__deleted")
      // a crash after b's commit, before the view's publish: the
      // commit lands and the view stays at v1
      io.Sinks.writeVersion(b, dir, 2)
      // the caller re-sends b, which commits v3 with v2's rows
      drain(b)
      assert(io.Sinks.nextVersion(spark, dir) == 4)
      def set(df: org.apache.spark.sql.DataFrame) = df.as[(String, Long, Long)].collect().toSet
      assert(set(spark.read.parquet(s"$base/mv")) == set(agg(3)))
    }
  }

  test("epochSchedule: caps bind per source, effective <= alloc, uncapped epochs consume the allocation") {
    // tiny source gets a sqrt-law upweight big enough to hit the cap;
    // the large source stays under it
    val docs = Seq.tabulate(100)(i => (s"d$i", "big", 100L)) ++
      Seq(("t1", "tiny", 100L), ("t2", "tiny", 100L))
    val df = docs.toDF("doc_id", "source", "n_tokens")
    val got = ext.Sampling
      .epochSchedule(df, "source", col("n_tokens"), budgetTokens = 20000L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val (bn, ba, be, bf) = got("big")
    val (tn, ta, te, tf) = got("tiny")
    assert(bn == 10000L && tn == 200L)
    // sqrt temperature: the tiny source's allocation per token is far
    // larger; its repeat factor hits the 4-epoch cap
    assert(te == 4000L && tf == 800L, s"tiny: $ta/$te/$tf")
    assert(be < 4000L, s"big should stay under the cap, got $be")
    // uncapped epochs consume the allocation up to flooring; capped
    // effective tokens fall short of the allocation (the reported gap)
    assert(bf <= ba && ba - bf < 1000L)
    assert(tf < ta)
  }

  private def eventsDf(rows: Seq[(Long, Long, Long, String)]) =
    rows.toDF("event_id", "user_id", "sec", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("sec")).as("ts"), col("event_type"))

  test("concurrencyProfile: overlap peak, per-hour rollup, no single-partition exchange") {
    // u1 session [10,101), u2 [50,51), u4 [3500,3501) — all hour 0,
    // peak 2 at sec 50; u3 [7000,7001) alone in hour 1
    val ev = eventsDf(Seq(
      (1L, 1L, 10L, "view"), (2L, 1L, 100L, "view"),
      (3L, 2L, 50L, "view"),
      (4L, 3L, 7000L, "view"),
      (5L, 4L, 3500L, "view")))
    val got = ops.TimeSeries.concurrencyProfile(ev)
      .orderBy("hour_ts")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("1970-01-01 00:00:00", 2L, 3L, 3L),
      ("1970-01-01 01:00:00", 1L, 1L, 1L)), got.toString)
    // the running count must never plan a global single-partition sort
    val plan = ops.TimeSeries.concurrencyProfile(ev)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("concurrencyProfile reads the inherited level in a bucket where concurrency only falls") {
    // one session [3000, 4001): hour 1 contains ONLY its end — the
    // peak there is the inherited level 1, not the after-value 0
    val ev = eventsDf(Seq((1L, 5L, 3000L, "view"), (2L, 5L, 4000L, "view")))
    val got = ops.TimeSeries.concurrencyProfile(ev)
      .orderBy("hour_ts")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("1970-01-01 00:00:00", 1L, 1L, 0L),
      ("1970-01-01 01:00:00", 1L, 0L, 1L)), got.toString)
  }

  test("patternFunnels counts non-overlapping consecutive matches; foreign types break adjacency") {
    val enc = Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
      "error" -> "e")
    val ev = eventsDf(Seq(
      // u10: v c c p -> one match
      (1L, 10L, 0L, "view"), (2L, 10L, 1L, "click"),
      (3L, 10L, 2L, "click"), (4L, 10L, 3L, "purchase"),
      // u11: v e p -> error breaks vc*p adjacency, no match
      (5L, 11L, 0L, "view"), (6L, 11L, 1L, "error"),
      (7L, 11L, 2L, "purchase"),
      // u12: v p v c p -> two matches
      (8L, 12L, 0L, "view"), (9L, 12L, 1L, "purchase"),
      (10L, 12L, 2L, "view"), (11L, 12L, 3L, "click"),
      (12L, 12L, 4L, "purchase"),
      // u13: p v c -> no purchase after the view, filtered out
      (13L, 13L, 0L, "purchase"), (14L, 13L, 1L, "view"),
      (15L, 13L, 2L, "click"),
      // u14: v ? p with an UNMAPPED type -> '#' breaks adjacency
      (16L, 14L, 0L, "view"), (17L, 14L, 1L, "weird"),
      (18L, 14L, 2L, "purchase")))
    val got = ops.TimeSeries.patternFunnels(ev, "vc*p", enc)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(10L -> ((1L, 4L)), 12L -> ((2L, 5L))), got.toString)
    // unsafe patterns are rejected before any SQL interpolation
    intercept[IllegalArgumentException] {
      ops.TimeSeries.patternFunnels(ev, "v'p", enc)
    }
  }

  test("dpGroupCounts: deterministic, bounded geometric noise, seed-sensitive") {
    val df = io.Tables(spark, sf, "customer")
    def release(seed: String) = ops.Constraints
      .dpGroupCounts(df, Seq("c_mktsegment", "c_nationkey"), seed)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val a = release("graft-dp-v1")
    // bit-for-bit replayable — the seeded-mechanism contract
    assert(a == release("graft-dp-v1"))
    // noise = G1 - G2 with each Geometric(1/2) truncated at 32
    val truth = df.groupBy("c_mktsegment", "c_nationkey").count()
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(a.keySet == truth.keySet)
    val noises = a.map { case (k, v) => v - truth(k) }
    assert(noises.forall(n => math.abs(n) <= 32L))
    // a mechanism whose noise never moves isn't one: across ~100
    // classes, P(all zero) = (1/2)^~100
    assert(noises.exists(_ != 0L))
    // different seed, different release (same bound)
    val b = release("graft-dp-v2")
    assert(a != b)
    intercept[IllegalArgumentException] {
      ops.Constraints.dpGroupCounts(df, Seq("c_mktsegment"), "bad'seed")
    }
  }

  test("kCore peels cascades, not just low-degree nodes in one pass") {
    // K4 clique (1..4) + node 5 hanging off {1, 2, 6} + pendant 6:
    // round 1 drops 6 (deg 1), round 2 drops 5 (deg fell 3 -> 2) —
    // a single-pass degree filter would keep 5
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (5L, 2L), (5L, 6L))
      .toDF("src", "dst")
    val got = ext.Graph.kCore(edges, "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("mixtureReweight: upweights high-loss domains, clamps both tails, shares renormalize") {
    // hard: loss 1000 every row; easy: 0; mid: exactly the corpus mean
    val docs = (Seq.tabulate(50)(i => (s"h$i", "hard", 1000L)) ++
      Seq.tabulate(50)(i => (s"e$i", "easy", 0L)) ++
      Seq.tabulate(100)(i => (s"m$i", "mid", 500L)))
      .toDF("doc_id", "source", "loss")
    val got = ext.Sampling
      .mixtureReweight(docs, "source", col("loss"), etaPermille = 2000L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // corpus mean = 500; excess = +500 / -500 / 0; eta*excess/1000 =
    // +/-1000 -> clamped to +/-500 -> factors 1500/500/1000, sum 3000
    assert(got("hard") == ((1000L, 500L, 500L)), got.toString)
    assert(got("easy") == ((0L, -500L, 166L)), got.toString)
    assert(got("mid") == ((500L, 0L, 333L)), got.toString)
    // invalid knobs rejected
    intercept[IllegalArgumentException] {
      ext.Sampling.mixtureReweight(docs, "source", col("loss"),
        clampPermille = 1000L)
    }
  }

  test("restoreVersion: reverse-delta commit is O(diff), idempotent, history-preserving") {
    val docs = io.Tables(spark, sf, "documents")
      .select("doc_id", "text", "source")
    withTempDir("restore_spec") { tmp =>
      val path = tmp + "/tbl"
      io.Sinks.writeVersion(docs, path, 0)
      // a "bad ingest": rewrite 10% of keys, insert 3 strays
      val bad = docs.where(pmod(col("doc_id"), lit(10)) === 7)
        .withColumn("text", concat(lit("BAD "), col("text")))
        .withColumn("__deleted", lit(false))
        .unionByName(docs.where(col("doc_id") < 3)
          .withColumn("doc_id", col("doc_id") + 900000L)
          .withColumn("__deleted", lit(false)))
      io.Sinks.writeVersion(bad, path, 1)
      def head(asOf: Long) = io.Sinks.readSnapshotAt(spark, path, asOf, "doc_id")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      val v0 = head(0)
      val v1 = head(1)
      assert(v1 != v0)
      val v = io.Sinks.restoreVersion(spark, path, 0, "doc_id")
      assert(v == 2L)
      // head == target, forensic state untouched
      assert(head(v) == v0)
      assert(head(1) == v1)
      // the restore commit carries ONLY the reverse delta, not the table
      val badRows = spark.read.parquet(s"$path/__v=1").count()
      assert(spark.read.parquet(s"$path/__v=2").count() == badRows)
      // idempotent: restoring again to the same target commits an empty
      // delta and the head doesn't move
      val v2 = io.Sinks.restoreVersion(spark, path, 0, "doc_id")
      assert(spark.read.parquet(s"$path/__v=$v2").isEmpty)
      assert(head(v2) == v0)
      // forward "restore" rejected
      intercept[IllegalArgumentException] {
        io.Sinks.restoreVersion(spark, path, 99, "doc_id")
      }
    }
  }

  /** The fixture's writer: `write(dir, marker)` makes `root/dir` a
    * complete relation holding `marker`. */
  private def swapFixture(root: String): (String, String) => Unit = {
    import java.nio.file.{Files, Paths}
    (dir, marker) => {
      Files.createDirectories(Paths.get(s"$root/$dir"))
      Files.writeString(Paths.get(s"$root/$dir/m"), marker)
      // swapCompacting refuses a replacement without the parquet
      // commit marker; the fixture writes complete relations
      Files.writeString(Paths.get(s"$root/$dir/_SUCCESS"), "")
    }
  }

  test("swapCompacting: swaps content in, clears stale .old from a prior crash, leaves no siblings") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      write("rel", "old-content")
      write("rel.compacting", "new-content")
      write("rel.old", "stale-crash-leftover")
      write("rel_delta_0", "delta")
      io.Sinks.swapCompacting(spark, root, Seq("rel"), Seq(s"$root/rel_delta_0"))
      assert(Files.readString(Paths.get(s"$root/rel/m")) == "new-content")
      for (gone <- Seq("rel.compacting", "rel.old", "rel_delta_0", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
    }
  }

  test("swapCompacting refuses a .compacting directory without _SUCCESS") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      write("rel", "old-content")
      write("rel.compacting", "half-written")
      Files.delete(Paths.get(s"$root/rel.compacting/_SUCCESS"))
      intercept[IllegalArgumentException] {
        io.Sinks.swapCompacting(spark, root, Seq("rel"))
      }
      // nothing was touched: the original base still serves
      assert(Files.readString(Paths.get(s"$root/rel/m")) == "old-content")
    }
  }

  test("recoverSwap rolls a mid-swap crash FORWARD from the journal (cross-relation atomicity)") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // crash state: postings already swapped (base = new, sibling gone),
      // term_df parked mid-rel (base absent, .old + .compacting present),
      // meta untouched (base = old, .compacting complete), delta dir and
      // journal still on disk
      write("postings", "postings-new")
      write("term_df.old", "term_df-old")
      write("term_df.compacting", "term_df-new")
      write("meta", "meta-old")
      write("meta.compacting", "meta-new")
      write("postings_delta_0", "delta")
      Files.writeString(Paths.get(s"$root/_swap_inprogress"),
        s"rel postings\nrel term_df\nrel meta\nextra $root/postings_delta_0\ncommit\n")
      val completed = io.Sinks.recoverSwap(spark, root, Seq("postings", "term_df", "meta"))
      assert(completed)
      assert(Files.readString(Paths.get(s"$root/postings/m")) == "postings-new")
      assert(Files.readString(Paths.get(s"$root/term_df/m")) == "term_df-new")
      assert(Files.readString(Paths.get(s"$root/meta/m")) == "meta-new")
      for (gone <- Seq("term_df.old", "term_df.compacting", "meta.compacting",
          "postings_delta_0", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
      // idempotent: a second recovery is a no-op
      assert(!io.Sinks.recoverSwap(spark, root, Seq("postings", "term_df", "meta")))
    }
  }

  test("recoverSwap clears pre-swap leftovers when no journal exists (bases untouched)") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      write("rel", "old-content")
      write("rel.compacting", "from-a-crashed-write")
      assert(!io.Sinks.recoverSwap(spark, root, Seq("rel")))
      assert(Files.readString(Paths.get(s"$root/rel/m")) == "old-content")
      assert(!Files.exists(Paths.get(s"$root/rel.compacting")))
    }
  }

  test("recoverSwap treats a torn (sentinel-less) journal as 'swap never began'") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // crash mid-journal-write: manifest lists only SOME relations and has
      // no commit sentinel; no rename has happened yet (bases original).
      // Rolling forward the journaled subset would install a MIXED index —
      // the recovery must instead discard the torn journal and clean up.
      write("postings", "postings-old")
      write("postings.compacting", "postings-new")
      write("term_df", "term_df-old")
      write("term_df.compacting", "term_df-new")
      Files.writeString(Paths.get(s"$root/_swap_inprogress"), "rel postings\n")
      assert(!io.Sinks.recoverSwap(spark, root, Seq("postings", "term_df")))
      assert(Files.readString(Paths.get(s"$root/postings/m")) == "postings-old")
      assert(Files.readString(Paths.get(s"$root/term_df/m")) == "term_df-old")
      for (gone <- Seq("postings.compacting", "term_df.compacting", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
    }
  }

  test("recoverSwap rolls a LEGACY (sentinel-less) committed journal forward when renames progressed") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // a journal written by the pre-sentinel build: committed (that
      // build also journalled only after every .compacting was complete)
      // but with no trailing sentinel, and the crash fell MID-RENAME —
      // postings already swapped, term_df parked (base absent, .old +
      // .compacting present), meta untouched. Treating this as "swap
      // never began" (the r12 behavior ADVICE flagged) would restore
      // term_df's OLD content beside postings' NEW content — a mixed
      // index returned as consistent. Rename progress (.old present)
      // must version-gate the journal to committed and roll it forward.
      write("postings", "postings-new")
      write("term_df.old", "term_df-old")
      write("term_df.compacting", "term_df-new")
      write("meta", "meta-old")
      write("meta.compacting", "meta-new")
      write("postings_delta_0", "delta")
      Files.writeString(Paths.get(s"$root/_swap_inprogress"),
        s"rel postings\nrel term_df\nrel meta\nextra $root/postings_delta_0\n")
      val completed = io.Sinks.recoverSwap(spark, root, Seq("postings", "term_df", "meta"))
      assert(completed)
      assert(Files.readString(Paths.get(s"$root/postings/m")) == "postings-new")
      assert(Files.readString(Paths.get(s"$root/term_df/m")) == "term_df-new")
      assert(Files.readString(Paths.get(s"$root/meta/m")) == "meta-new")
      for (gone <- Seq("term_df.old", "term_df.compacting", "meta.compacting",
          "postings_delta_0", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
    }
  }

  test("recoverSwap finishes a LEGACY journal whose renames all completed (only cleanup left)") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // legacy crash after the last rename but before journal delete:
      // every base installed, a stale .old parked, extras pending — the
      // all-installed gate (every .compacting gone AND every base
      // present) must classify this as committed and clean up, never
      // roll the parked .old back over the installed base
      write("postings", "postings-new")
      write("postings.old", "postings-old")
      write("term_df", "term_df-new")
      write("postings_delta_0", "delta")
      Files.writeString(Paths.get(s"$root/_swap_inprogress"),
        s"rel postings\nrel term_df\nextra $root/postings_delta_0\n")
      assert(io.Sinks.recoverSwap(spark, root, Seq("postings", "term_df")))
      assert(Files.readString(Paths.get(s"$root/postings/m")) == "postings-new")
      assert(Files.readString(Paths.get(s"$root/term_df/m")) == "term_df-new")
      for (gone <- Seq("postings.old", "postings_delta_0", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
    }
  }

  test("recoverSwap discards a torn journal whose only rel line is a truncated (garbage) name") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // crash mid-line in the NEW build: the single journalled name is a
      // truncated prefix of a real rel — its base is "absent" only
      // because no such relation exists. A bare base-absent must not
      // count as rename progress (rolling forward would require-fail on
      // the garbage rel); the torn journal is discarded and the caller's
      // rel set cleaned normally.
      write("postings", "postings-old")
      write("postings.compacting", "postings-new")
      Files.writeString(Paths.get(s"$root/_swap_inprogress"), "rel post")
      assert(!io.Sinks.recoverSwap(spark, root, Seq("postings")))
      assert(Files.readString(Paths.get(s"$root/postings/m")) == "postings-old")
      for (gone <- Seq("postings.compacting", "_swap_inprogress"))
        assert(!Files.exists(Paths.get(s"$root/$gone")), gone)
    }
  }

  test("recoverSwap restores .old to an absent base instead of deleting the only copy") {
    import java.nio.file.{Files, Paths}
    withTempDir("swap_spec") { root =>
      val write = swapFixture(root)
      // pre-journal-era (or manual) state: base gone, .old holds the only
      // copy — the no-journal branch must rename it back, not delete it
      write("rel.old", "the-only-copy")
      assert(!io.Sinks.recoverSwap(spark, root, Seq("rel")))
      assert(Files.readString(Paths.get(s"$root/rel/m")) == "the-only-copy")
      assert(!Files.exists(Paths.get(s"$root/rel.old")))
    }
  }

  test("purgeTextIndex completes an interrupted swap before recomputing (no stale idf)") {
    import java.nio.file.{Files, Paths}
    val docs = io.Tables(spark, sf, "documents")
    val del = docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id")
    // reference index: purge applied cleanly
    withTempDir("purge_ref") { pRef =>
      ext.Search.writeTextIndex(docs, "doc_id", "text", pRef)
      ext.Search.purgeTextIndex(spark, pRef, del, "doc_id")
      // crashed twin: replay the purge's rewrite phase by hand (the same
      // per-relation formulas), journal all three relations, then apply
      // ONLY the postings swap — the exact crash window ADVICE r10
      // flagged: re-running the purge on this mixed state without
      // recovery would find an empty deleted sliver and keep the stale
      // term_df/meta mass forever
      withTempDir("purge_crash") { pCrash =>
        ext.Search.writeTextIndex(docs, "doc_id", "text", pCrash)
        val delIds = del.select(col("doc_id").as("id"))
        val post = spark.read.parquet(s"$pCrash/postings")
        val gone = post.join(broadcast(delIds), Seq("id"), "left_semi")
          .select("id", "term", "dl").cache()
        post.join(broadcast(delIds), Seq("id"), "left_anti")
          .write.mode("overwrite").parquet(s"$pCrash/postings.compacting")
        spark.read.parquet(s"$pCrash/term_df")
          .join(gone.groupBy("term").agg(count(lit(1)).as("dec")), Seq("term"), "left")
          .select(col("term"), (col("df") - coalesce(col("dec"), lit(0L))).as("df"))
          .where(col("df") > 0)
          .write.mode("overwrite").parquet(s"$pCrash/term_df.compacting")
        spark.read.parquet(s"$pCrash/meta")
          .crossJoin(broadcast(gone.select("id", "dl").distinct()
            .agg(count(lit(1)).as("nd"), coalesce(sum(col("dl")), lit(0L)).as("sd"))))
          .select((col("n_docs") - col("nd")).as("n_docs"),
            (col("sum_dl") - col("sd")).as("sum_dl"))
          .write.mode("overwrite").parquet(s"$pCrash/meta.compacting")
        gone.unpersist()
        Files.writeString(Paths.get(s"$pCrash/_swap_inprogress"),
          "rel postings\nrel term_df\nrel meta\ncommit\n")
        val fs = new org.apache.hadoop.fs.Path(pCrash)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def P(s: String) = new org.apache.hadoop.fs.Path(s)
        assert(fs.rename(P(s"$pCrash/postings"), P(s"$pCrash/postings.old")))
        assert(fs.rename(P(s"$pCrash/postings.compacting"), P(s"$pCrash/postings")))
        fs.delete(P(s"$pCrash/postings.old"), true)
        // the natural retry: purgeTextIndex must FIRST finish the journaled
        // swap (installing the correct term_df/meta), after which its own
        // rewrite is a no-op compaction — not a recompute from mixed state
        ext.Search.purgeTextIndex(spark, pCrash, del, "doc_id")
        for (rel <- Seq("postings", "term_df", "meta")) {
          val a = spark.read.parquet(s"$pRef/$rel").collect().map(_.toSeq).toSet
          val b = spark.read.parquet(s"$pCrash/$rel").collect().map(_.toSeq).toSet
          assert(a == b, rel)
        }
      }
    }
  }

  test("streaming two-batch ANN purge equals one batch purge of the union") {
    val emb = io.Tables(spark, sf, "embeddings")
    withTempDir("sann_spec") { pS => withTempDir("bann_spec") { pB =>
      val idx = ext.Similarity.annIndex(emb, "vec_id", "embedding")
      ext.Similarity.writeAnnIndex(idx, pS)
      ext.Similarity.writeAnnIndex(idx, pB)
      val d1 = emb.where(pmod(col("vec_id"), lit(37)) === 3).select("vec_id")
      val d2 = emb.where(pmod(col("vec_id"), lit(37)) === 5).select("vec_id")
      streaming.StreamOps.annPurgeApply(
        streaming.StreamOps.stagedStream(Seq(d1, d2)), pS, "vec_id")
      ext.Similarity.purgeAnnIndex(spark, pB, d1.unionByName(d2), "vec_id")
      for (rel <- Seq("lists", "codes")) {
        val s = spark.read.parquet(s"$pS/$rel").collect().map(_.toSeq).toSet
        val b = spark.read.parquet(s"$pB/$rel").collect().map(_.toSeq).toSet
        assert(s == b, rel)
      }
    }}
  }

  test("streaming two-batch index purge equals one batch purge of the union") {
    val docs = io.Tables(spark, sf, "documents")
    withTempDir("sidx_spec") { pS => withTempDir("bidx_spec") { pB =>
      ext.Search.writeTextIndex(docs, "doc_id", "text", pS)
      ext.Search.writeTextIndex(docs, "doc_id", "text", pB)
      val d1 = docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id")
      val d2 = docs.where(pmod(col("doc_id"), lit(37)) === 5).select("doc_id")
      streaming.StreamOps.indexPurgeApply(
        streaming.StreamOps.stagedStream(Seq(d1, d2)), pS, "doc_id")
      ext.Search.purgeTextIndex(spark, pB, d1.unionByName(d2), "doc_id")
      def rel(p: String, r: String) = spark.read.parquet(s"$p/$r")
      for ((r, cols) <- Seq(
          "postings" -> Seq("term", "id", "dl", "tf"),
          "term_df" -> Seq("term", "df"),
          "meta" -> Seq("n_docs", "sum_dl"))) {
        val s = rel(pS, r).select(cols.map(col): _*).collect().map(_.toSeq).toSet
        val b = rel(pB, r).select(cols.map(col): _*).collect().map(_.toSeq).toSet
        assert(s == b, r)
      }
    }}
  }
}
