package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is fully
  * materialized through the noop sink (a bare count() would let the
  * optimizer prune projections/sorts and under-measure).
  *
  * Noise defense #1: every query runs `SPARK_GRAFT_BENCH_PASSES`
  * (default 3) times in INTERLEAVED passes and the reported number is
  * the per-query MEDIAN (per-query minima are emitted alongside). A
  * single-shot bench once recorded a 2.3×-wrong total because transient
  * machine load inflated the alphabetically-early queries; a median of
  * interleaved passes can't be corrupted by load that comes and goes.
  *
  * Noise defense #2 (round 8): ONE FRESH SparkContext PER QUERY GROUP
  * (default 12 queries — `SPARK_GRAFT_BENCH_GROUP`). Round-6 audits
  * (SURVEY §9) showed a long-lived single-JVM probe reads
  * shuffle-heavy kernels ~2× above their isolated matched-conditions
  * cost — cumulative JVM/block-manager decay over a sustained session —
  * and the round-7 driver artifact reproduced exactly that signature in
  * THIS main (126 queries × 3 passes in one JVM: 10× spikes on
  * `skew_salted_agg`-class queries vs the quiet-host committed run).
  * `BenchScale` already recycles per kernel; this applies the same fix
  * at group granularity, bounding any session to ~36 query executions.
  * The interleaved-pass median is kept WITHIN each group, which is
  * where it matters (adjacent queries see the same transient load).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val groupSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUP", "12").toInt

    def newSession(): SparkSession = {
      val spark = GraftSession.local(cpus, cpus, "graft-bench")
      // untimed warmup: touch every table once so the first measured query
      // doesn't absorb JVM/codegen/parquet-footer cold-start (profiled at
      // ~5 s — it made whichever query sorted first look 5× slower)
      io.Tables.all.foreach(t => io.Tables(spark, sfDir, t).count())
      spark
    }

    // round 12 (verdict ask #2): stream state stores / staged sources
    // ride tmpfs when available. The round-12 stream-join attribution
    // 2×2 (placement × induced fsync load, SURVEY §9) read a consistent
    // 5–15% on the stream pair from tmpfs placement and NO inflation
    // from a single-writer disk load in either cell — so the r11 3.8×
    // driver reading was a host-level throughput phase (now
    // canary-detected below), not state-store disk contention; tmpfs
    // still removes the stream family's one disk dependency outright.
    util.Scratch.adoptTmpfs()

    val benchStart = System.nanoTime()
    def now(): Double = (System.nanoTime() - benchStart) / 1e9
    def scrub(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    // optional comma-separated name filter for targeted local runs
    // (attribution experiments); the driver sets no env → full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Noise defense #7 (round 12, verdict r11 ask #1): host-phase
    // EVIDENCE in the artifact. This host has multi-minute throughput
    // phases (heaviest midday) that inflate checkpoint/state-store
    // kernels 2–4× while CPU-light queries stay quiet; a phase long
    // enough to own a query's whole session defeats both the
    // interleaved median and the median>1.5×min retry trigger
    // (median ≈ min inside the window — exactly how r11's driver
    // artifact read stream_join_outer at 3.8× quiet undetected). The
    // defense is DETECTION: every `canaryEvery` sessions, one fresh
    // session times the canary pair — graph_pagerank (checkpoint-
    // heavy, the family phases inflate) and q6_filter (CPU-light, the
    // family they don't) — warmed then timed once each. Each point's
    // phase_ratio = heavy / quiet-reference, where the reference is
    // the run's own MIN heavy sample (self-calibrating; at least one
    // point lands quiet on anything but an all-phase run) unless
    // SPARK_GRAFT_CANARY_QUIET pins it to the committed quiet median.
    // Any query whose session is bracketed by a point with ratio >
    // SPARK_GRAFT_PHASE_FACTOR joins the retry set (a later, often
    // quieter window) and — if its REPORTED sample still comes from a
    // suspect window — lands in `phase_flagged` in the artifact, so a
    // reader can tell "the plan regressed" from "the host was busy"
    // mechanically. Disabled on targeted runs (attribution experiments
    // time raw) and by SPARK_GRAFT_CANARY_EVERY=0.
    val canaryEvery = sys.env.get("SPARK_GRAFT_CANARY_EVERY").map(_.toInt)
      .getOrElse(if (only.isDefined) 0 else 4)
    val (canaryHeavy, canaryLight) = ("graph_pagerank", "q6_filter")
    // (t seconds since start, heavy sec, light sec)
    val canaryPoints = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    def runCanary(): Unit =
      if (canaryEvery > 0 && SparkEntry.queries.contains(canaryHeavy)) {
        val spark = newSession()
        def timed(n: String): Double = {
          val fn = SparkEntry.queries(n)
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            scrub(spark)
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            scrub(spark)
            s
          } catch { case _: Throwable => -1.0 }
        }
        val h = timed(canaryHeavy)
        val l = timed(canaryLight)
        spark.stop()
        if (h > 0 && l > 0) {
          canaryPoints += ((now(), h, l))
          System.err.println(f"[bench] canary t=${now()}%.0fs heavy=$h%.2fs light=$l%.2fs")
        }
      }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    // Noise defense #3 (round 9, v2): TWO-TIER grouping. Round 8's
    // consecutive chunks put the whole ann_* trainer family into one
    // session and exactly those queries read ~2× their quiet-host cost
    // in the driver artifact (intra-group session decay concentrates
    // where the heavy queries cluster). The first round-9 attempt dealt
    // the list round-robin — that fixed the driver/quiet agreement but
    // cost the quiet-host total +16 s: decay FOLLOWS the trainer-heavy
    // query, so striping one heavy into every session polluted all 12
    // sessions instead of 3. v2 contains instead of spreading: queries
    // from the trainer-heavy families (iterative Lloyd/LSH training,
    // multi-job pipelines) run in their own SMALL sessions (5 queries
    // → ≤15 executions/session bounds the decay any query can inherit)
    // while light queries share clean sessions at the normal size.
    // Both tiers stay alphabetical → deterministic run-to-run.
    val heavyExact = Set(
      "corpus_select", "corpus_budget_select", "corpus_ccnet_buckets",
      "dedup_clusters", "dedup_canonical", "dedup_jaccard_pairs",
      "dedup_neardup_pairs", "dedup_containment", "dedup_incremental",
      "dedup_stats", "dedup_soft_weights", "decontaminate_strip",
      "search_index_bm25", "search_index_update", "stats_analyze",
      // round-9 quiet-host refresh: these read >4.5 s in light 12-query
      // sessions — contain their decay in the small heavy tier too
      "stream_join_outer", "dedup_clusters_update", "multimodal_neardup",
      "search_phrase",
      // r10 wave 3: builds + purges a full text index per execution
      // (the oracle must stand alone) — same class as search_index_*
      "privacy_purge_text")
    def isHeavy(n: String): Boolean =
      n.startsWith("ann_") || n.startsWith("emb_") ||
        n.startsWith("graph_") || heavyExact(n)
    // Noise defense #4 (round 10): SINGLETON sessions for the trainer
    // class. Even inside the 5-query heavy tier, BENCH_r09 (the driver's
    // run) read ann_ivfpq_res_topk / corpus_ccnet_buckets /
    // corpus_budget_select at ~3× their quiet-host medians while their
    // own MINIMA sat at the quiet values — the classic within-session
    // decay signature, concentrated on queries that train quantizers /
    // run multi-job pipelines. These get a fresh SparkContext EACH
    // (3 executions/session, the tightest decay bound available short
    // of one-execution-per-JVM), per the round-9 verdict ask #1.
    val singleton = Set(
      "ann_ivfpq_res_topk", "ann_ivfpq_topk", "ann_mmr_topk",
      "corpus_ccnet_buckets", "corpus_budget_select",
      "stream_join", "stream_join_outer",
      // r10: trains both quantizers + full encode per execution (the
      // oracle must stand alone), plus streaming micro-batch machinery
      "stream_ann_screen",
      // r10 wave 3: trains both quantizers + full encode + purge
      // rewrite per execution — the heaviest trainer shape in the suite
      "privacy_purge_ann",
      // r10 wave 4: full index build + a two-trigger purge stream per
      // execution
      "stream_index_purge",
      // r10 wave 6: quantizer training + encode + a two-trigger purge
      // stream per execution
      "stream_ann_purge")
    val (solo, rest) = names.partition(singleton)
    val (heavy, light) = rest.partition(isHeavy)
    val heavyGroupSize = math.max(1, math.min(5, groupSize))
    def groupsOf(ns: Seq[String]): Seq[Seq[String]] = {
      val (so, re) = ns.partition(singleton)
      val (he, li) = re.partition(isHeavy)
      so.map(Seq(_)) ++
        he.grouped(heavyGroupSize).toSeq ++ li.grouped(groupSize).toSeq
    }
    val groups = solo.map(Seq(_)) ++
      heavy.grouped(heavyGroupSize).toSeq ++ light.grouped(groupSize).toSeq
    // Noise defense #5 (round 11, verdict ask #1): an UNTIMED first
    // execution of every query inside its own session. The table-count
    // warmup above doesn't warm a query's codegen/broadcast/stream
    // machinery, so pass 1 routinely read above passes 2–3 and the
    // median leaned on a cold sample — in r10's driver artifact
    // corpus_budget_select's 3-sample window read 4.4× its quiet median
    // while its own min sat BELOW it. One extra execution per query
    // (~+1/3 suite time) buys medians whose samples are all warm.
    val warmQ = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMQ", "1") == "1"
    def runGroups(
        gs: Seq[Seq[String]],
        sink: scala.collection.mutable.Map[String, List[Double]],
        spans: scala.collection.mutable.ArrayBuffer[(Seq[String], Double, Double)]): Unit = {
      var gi = 0
      for (group <- gs) {
        if (canaryEvery > 0 && gi % canaryEvery == 0) runCanary()
        gi += 1
        val g0 = now()
        val spark = newSession()
        // clearCache() releases catalog-cached relations but NOT
        // localCheckpoint RDDs (CC / PageRank / k-core persist per
        // round OUTSIDE the cache manager) — without the explicit
        // RDD sweep (scrub) those accumulate across passes and the
        // untimed warmup's extra execution pushed exactly the
        // checkpoint-heavy queries ~2× over their quiet medians (r11)
        if (warmQ) for (name <- group) {
          try SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          scrub(spark)
        }
        for (_ <- 1 to passes; name <- group) {
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          // a FAILED pass records no time: a fast-failing query would
          // otherwise deflate its median (and the headline total) while only
          // the `failed` array flagged it
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            sink(name) = ((System.nanoTime() - t0) / 1e9) :: sink.getOrElse(name, Nil)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          // caches opened while building a query must not leak into the
          // next measurement (or accumulate over passes × group queries)
          scrub(spark)
        }
        spark.stop()
        spans += ((group, g0, now()))
      }
      if (gs.nonEmpty) runCanary()
    }
    val mainSpans = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Double, Double)]
    runGroups(groups, times, mainSpans)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    // Noise defense #6 (round 11, verdict ask #1): a RETRY pass for any
    // query whose median sits over 2× its own min — the signature of a
    // host-contention window owning that query's whole sample triple
    // (all three samples run consecutively in one session, so the
    // within-group interleave can't defend against a minutes-long
    // window; r10's driver run had a contiguous 20-query stretch at
    // 2–2.9× quiet). The retry runs in fresh sessions in REVERSE group
    // order — a different wall-clock alignment — and the reported
    // number is min(median_main, median_retry): each median is itself
    // noise-robust within its window, and contention only ever
    // INFLATES, so the smaller window median is the better estimate of
    // the quiet cost.
    // 1.5, not 2.0: a host phase long enough to cover a whole session
    // (observed r11: a 34-min window inflating every sample of the
    // early singleton groups ~3× with median/min = 1.63) slips a 2×
    // trigger precisely because median ≈ min inside the window. With
    // the untimed per-query warmup the timed samples of a clean
    // session sit within ~1.3× of each other, so 1.5 stays quiet on a
    // calm host and catches session-wide windows by their residual
    // intra-session drift.
    val retryFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_FACTOR", "1.5").toDouble
    // phase evaluation over the canary points: a session is SUSPECT
    // when either of the points bracketing its wall-clock interval
    // read over phaseFactor × the quiet reference
    val phaseFactor = sys.env.getOrElse("SPARK_GRAFT_PHASE_FACTOR", "1.5").toDouble
    def quietHeavy: Double = sys.env.get("SPARK_GRAFT_CANARY_QUIET")
      .map(_.toDouble)
      .getOrElse(if (canaryPoints.isEmpty) 0.0 else canaryPoints.map(_._2).min)
    def suspect(spans: Seq[(Seq[String], Double, Double)]): Set[String] =
      if (canaryPoints.isEmpty || quietHeavy <= 0) Set.empty
      else spans.flatMap { case (group, t0, t1) =>
        val before = canaryPoints.filter(_._1 <= t0).lastOption
        val after = canaryPoints.find(_._1 >= t1)
        val ratios = (before.toSeq ++ after.toSeq).map(_._2 / quietHeavy)
        if (ratios.exists(_ > phaseFactor)) group else Nil
      }.toSet
    val phaseSuspectMain = suspect(mainSpans.toSeq)
    val retriedNoise = names.filter { n =>
      val xs = times.getOrElse(n, Nil)
      xs.nonEmpty && median(xs) > retryFactor * xs.min
    }
    // phase-suspect queries retry even when their own median/min sits
    // flat — the all-samples-inflated case the canary exists to catch
    val retried = (retriedNoise ++ names.filter(phaseSuspectMain)).distinct
    val retryTimes = scala.collection.mutable.Map.empty[String, List[Double]]
    val retrySpans = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Double, Double)]
    if (retried.nonEmpty) {
      // optional quiet-window wait: probe the canary and hold the retry
      // until it reads quiet, bounded by SPARK_GRAFT_PHASE_WAIT seconds
      // (default 0 — a driver round must not stall on a long phase;
      // the flags record what the wait would have avoided)
      // quietHeavy must be a real positive reference (a pinned 0 or a
      // failed-canary run would make every ratio Infinity and pin the
      // loop hot to the deadline), and a probe that ADDS no point
      // (runCanary swallows failures) ends the wait — sleeping on with
      // no new evidence can never satisfy the exit condition
      val waitBudget = sys.env.getOrElse("SPARK_GRAFT_PHASE_WAIT", "0").toInt
      if (waitBudget > 0 && canaryPoints.nonEmpty && quietHeavy > 0) {
        val deadline = now() + waitBudget
        var probed = canaryPoints.last
        var stale = false
        while (!stale && probed._2 / quietHeavy > phaseFactor && now() < deadline) {
          System.err.println(f"[bench] phase ratio ${probed._2 / quietHeavy}%.2f — waiting for a quiet window")
          Thread.sleep(60000)
          val before = canaryPoints.size
          runCanary()
          stale = canaryPoints.size == before
          if (stale) System.err.println("[bench] canary probe failed — ending the phase wait")
          probed = canaryPoints.last
        }
      }
      System.err.println(s"[bench] retrying ${retried.size} noisy queries: " +
        retried.mkString(", "))
      runGroups(groupsOf(retried).reverse, retryTimes, retrySpans)
    }
    val phaseSuspectRetry = suspect(retrySpans.toSeq)
    // a query is failed only when NO pass succeeded; medians are over
    // the passes that did succeed
    val (ok, failed) = names.partition(n => times.getOrElse(n, Nil).nonEmpty)
    val med = ok.map { n =>
      val m = median(times(n))
      n -> retryTimes.get(n).filter(_.nonEmpty)
        .map(r => math.min(m, median(r))).getOrElse(m)
    }
    def allSamples(n: String): List[Double] =
      times.getOrElse(n, Nil) ++ retryTimes.getOrElse(n, Nil)
    // a query is phase-flagged when the window its REPORTED median
    // came from (main, or the retry when that won the min-of-medians
    // merge) was canary-suspect — the artifact's machine-readable
    // "the host was busy here, don't read this row as a regression"
    // recomputed with the FINAL canary set/quiet reference (a late
    // quiet point can lower the denominator after the retry-set
    // decision was made) so the printed ratios and these flags agree
    // A main-window value that a QUIET retry window failed to beat is
    // counter-evidence, not a suspect row: main ≤ retry-median under
    // quiet conditions means the phase didn't inflate it (the first
    // full round-12 run flagged 12 such rows — every one bounded by
    // its quiet retry). Flag only when the chosen window is suspect
    // AND no unsuspect window bounded the reported value.
    val phaseSuspectMainFinal = suspect(mainSpans.toSeq)
    val phaseFlagged = ok.filter { n =>
      val m = median(times(n))
      val r = retryTimes.get(n).filter(_.nonEmpty).map(median)
      val choseRetry = r.exists(_ < m)
      if (choseRetry) phaseSuspectRetry(n)
      else phaseSuspectMainFinal(n) && (r.isEmpty || phaseSuspectRetry(n))
    }
    // round 13 (verdict ask #3): every query's value annotated with the
    // bracketing canary ratio of the WINDOW its reported median came
    // from (the retry window when min-of-medians chose it, else main) —
    // the per-QUERY phase context a cross-round comparison previously
    // had to re-derive by joining the canary timeline to session spans
    // by hand. 0.0 = no canary bracketed that window (targeted runs).
    def spanRatioOf(spans: Seq[(Seq[String], Double, Double)], n: String): Double =
      if (canaryPoints.isEmpty || quietHeavy <= 0) 0.0
      else spans.filter(_._1.contains(n)).flatMap { case (_, t0, t1) =>
        val before = canaryPoints.filter(_._1 <= t0).lastOption
        val after = canaryPoints.find(_._1 >= t1)
        (before.toSeq ++ after.toSeq).map(_._2 / quietHeavy)
      }.foldLeft(0.0)(math.max)
    val phaseRatio = ok.map { n =>
      val m = median(times(n))
      val r = retryTimes.get(n).filter(_.nonEmpty).map(median)
      val ratio =
        if (r.exists(_ < m)) spanRatioOf(retrySpans.toSeq, n)
        else {
          val mr = spanRatioOf(mainSpans.toSeq, n)
          // a retry window that failed to BEAT the main value bounds it
          // (main ≤ retry-median), so the calmer of the two windows is
          // the value's evidence — this keeps the ratio consistent with
          // phase_flagged (flagged ⟺ this ratio > phaseFactor)
          if (r.isDefined) math.min(mr, spanRatioOf(retrySpans.toSeq, n)) else mr
        }
      n -> ratio
    }
    def r3j(v: Double): String = f"$v%.3f"
    val canaryJson = canaryPoints
      .map(p => s"""{"t":${r3j(p._1)},"heavy":${r3j(p._2)},"light":${r3j(p._3)},"ratio":${r3j(if (quietHeavy > 0) p._2 / quietHeavy else 0.0)}}""")
      .mkString("[", ",", "]")
    val phaseFlaggedJson = phaseFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // 2-decimal: the map rides the bounded stdout line (231 queries ×
    // ~20 B ≈ 5 KB — same budget class as the compact medians map)
    val phaseRatioJson = phaseRatio
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = med.map(_._2).sum
    // stdout gets a COMPACT line (3-decimal medians, no per-query min
    // map): the r4 driver capture kept only a bounded stdout tail and
    // the full-precision line's head — metric/value and the first ~30
    // per-query numbers — fell off the front. Halving the line keeps
    // the whole thing inside the tail window; the file keeps full
    // precision plus the min map.
    def r3(v: Double): String = f"$v%.3f"
    val qsShort = med.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // the canary/phase evidence rides the STDOUT line too: the driver's
    // artifact of record is built from this line, and the whole point
    // of ask r11 #1 is that BENCH_r12.json itself carries the proof
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsShort,"passes":$passes,"failed":$failedJson,"canary_quiet":${r3(quietHeavy)},"canary":$canaryJson,"phase_flagged":$phaseFlaggedJson,"phase_ratio":$phaseRatioJson,"sf":"$sfDir"}""")
    val qs = med.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val mins = ok.map(n => "\"" + n + "\":" + allSamples(n).min).mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"min":$mins,"passes":$passes,"failed":$failedJson,"retried":$retriedJson,"canary_quiet":${r3(quietHeavy)},"canary":$canaryJson,"phase_flagged":$phaseFlaggedJson,"phase_ratio":$phaseRatioJson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
  }
}
