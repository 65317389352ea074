package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The engine's measurement main: runs every SparkEntry query against
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
  *
  * Targeted runs (`SPARK_GRAFT_BENCH_ONLY=q1,q2`, for attribution
  * work) also print a per-execution profile to stderr: total and
  * DataFrame-build seconds, jobs, stages, job wall, task time, shuffle
  * read/write bytes, and the longest jobs with their descriptions.
  * `SPARK_GRAFT_PLAN_DIR=dir` writes each query's
  * `explain("formatted")`, masked by [[maskPlan]], to `dir/<name>.txt`:
  * `diff -r` of two such directories is the plan-identity check.
  */
object Bench {

  /** One session of a run: its queries and its wall-clock window, in
    * seconds since the run started. */
  private[graft] final case class Span(group: Seq[String], t0: Double, t1: Double)

  /** One canary point: when it was taken, and the heavy and the light
    * canary query's seconds. */
  private[graft] final case class Canary(t: Double, heavy: Double, light: Double)

  /** What a run measured, from which both artifact lines are rendered:
    * per query the successful timed samples of the main and the retry
    * window, the sessions of each, the canary points and the quiet
    * canary reference. */
  private[graft] final case class Run(sf: String, passes: Int, names: Seq[String],
      times: Map[String, List[Double]], retryTimes: Map[String, List[Double]], retried: Seq[String],
      mainSpans: Seq[Span], retrySpans: Seq[Span], canary: Seq[Canary], quietHeavy: Double)

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
  private val heavyExact = Set(
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

  private def isHeavy(n: String): Boolean =
    Seq("ann_", "emb_", "graph_").exists(n.startsWith) || heavyExact(n)

  // Noise defense #4 (round 10): SINGLETON sessions for the trainer
  // class. Even inside the 5-query heavy tier, BENCH_r09 (the driver's
  // run) read ann_ivfpq_res_topk / corpus_ccnet_buckets /
  // corpus_budget_select at ~3× their quiet-host medians while their
  // own MINIMA sat at the quiet values — the classic within-session
  // decay signature, concentrated on queries that train quantizers /
  // run multi-job pipelines. These get a fresh SparkContext EACH
  // (3 executions/session, the tightest decay bound available short
  // of one-execution-per-JVM), per the round-9 verdict ask #1.
  private val singleton = Set(
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

  /** The sessions `names` run in, in order: each singleton alone, then
    * the heavy tier in sessions of at most 5 (and at most `size`), then
    * the light tier in sessions of `size`; each tier keeps the order of
    * `names`. */
  private[graft] def groups(names: Seq[String], size: Int): Seq[Seq[String]] = {
    val (solo, rest) = names.partition(singleton)
    val (heavy, light) = rest.partition(isHeavy)
    solo.map(Seq(_)) ++ heavy.grouped(math.max(1, math.min(5, size))).toSeq ++
      light.grouped(size).toSeq
  }

  private[graft] def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

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
  // phaseFactor joins the retry set (a later, often quieter window)
  // and — if its REPORTED sample still comes from a suspect window —
  // lands in `phase_flagged` in the artifact, so a reader can tell
  // "the plan regressed" from "the host was busy" mechanically.
  // Disabled on targeted runs (attribution experiments time raw) and
  // by SPARK_GRAFT_CANARY_EVERY=0.
  private[graft] val (canaryHeavy, canaryLight) = ("graph_pagerank", "q6_filter")
  private[graft] val phaseFactor = 1.5

  // Noise defense #6 (round 11, verdict ask #1): a RETRY pass for any
  // query whose median sits over retryFactor × its own min — the
  // signature of a host-contention window owning that query's whole
  // sample triple (all three samples run consecutively in one session,
  // so the within-group interleave can't defend against a minutes-long
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
  private[graft] val retryFactor = 1.5

  /** The quiet canary reference: the pinned value, else the run's
    * lowest heavy canary sample (0.0 with no point). */
  private[graft] def quiet(pinned: Option[Double], canary: Seq[Canary]): Double =
    pinned.getOrElse(if (canary.isEmpty) 0.0 else canary.map(_.heavy).min)

  /** The phase ratio of query `n` in the window `spans`: the largest
    * heavy / `quiet` of the canary points bracketing a session that ran
    * `n` (the last point at or before the session's start, the first at
    * or after its end). 0.0 when no point brackets one, or with no
    * positive quiet reference. A session is phase-suspect when this
    * exceeds [[phaseFactor]]. */
  private[graft] def ratio(canary: Seq[Canary], quiet: Double, spans: Seq[Span], n: String): Double =
    if (canary.isEmpty || quiet <= 0) 0.0
    else spans.filter(_.group.contains(n)).flatMap { s =>
      canary.filter(_.t <= s.t0).lastOption.toSeq ++ canary.find(_.t >= s.t1)
    }.map(_.heavy / quiet).foldLeft(0.0)(math.max)

  /** The queries to run again, in order: those whose main median sits
    * over [[retryFactor]] × their min, then the phase-suspect rest —
    * those retry even when their own median/min sits flat, the
    * all-samples-inflated case the canary exists to catch. */
  private[graft] def retrySet(names: Seq[String], times: Map[String, List[Double]],
      mainRatio: String => Double): Seq[String] =
    (names.filter { n =>
      val xs = times.getOrElse(n, Nil)
      xs.nonEmpty && median(xs) > retryFactor * xs.min
    } ++ names.filter(mainRatio(_) > phaseFactor)).distinct

  /** A query's reported (median, phase ratio). With no successful
    * retry sample, the main window's. Else the retry window's when its
    * median beats the main one; otherwise the main median, whose ratio
    * is the calmer of the two windows': a retry window that failed to
    * beat the main value bounds it (main ≤ retry median), so a main
    * value that a QUIET retry could not beat is counter-evidence, not a
    * suspect row (the first full round-12 run flagged 12 such rows,
    * every one bounded by its quiet retry). A query is phase-flagged ⟺
    * its ratio > [[phaseFactor]], the artifact's machine-readable "the
    * host was busy here, don't read this row as a regression". */
  private[graft] def reported(main: List[Double], retry: List[Double],
      mainRatio: => Double, retryRatio: => Double): (Double, Double) = {
    val m = median(main)
    if (retry.isEmpty) (m, mainRatio)
    else if (median(retry) < m) (median(retry), retryRatio)
    else (m, math.min(mainRatio, retryRatio))
  }

  /** The run's two artifact lines, rendered from one field list: the
    * compact stdout line (3-decimal medians, no `min` or `retried`) and
    * the full-precision file line. A query is failed only when no main
    * pass succeeded. The ratios and flags use the FINAL canary set and
    * quiet reference (a late quiet point can lower the denominator after
    * the retry set was chosen), so the printed ratios and flags agree.
    * The stdout line stays compact because the r4 driver capture kept
    * only a bounded stdout tail and the full-precision line's head fell
    * off the front; the canary/phase evidence rides it too, since the
    * driver's artifact of record is built from it. */
  private[graft] def lines(run: Run): (String, String) = {
    import run._
    val (ok, failed) = names.partition(times.getOrElse(_, Nil).nonEmpty)
    val rep = ok.map(n => n -> reported(times(n), retryTimes.getOrElse(n, Nil),
      ratio(canary, quietHeavy, mainSpans, n), ratio(canary, quietHeavy, retrySpans, n)))
    def r3(v: Double): String = f"$v%.3f"
    def str(s: String): String = "\"" + s + "\""
    def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
    def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val canaryJson = canary.map(p => obj(Seq("t" -> r3(p.t), "heavy" -> r3(p.heavy),
      "light" -> r3(p.light), "ratio" -> r3(if (quietHeavy > 0) p.heavy / quietHeavy else 0.0))))
    def line(full: Boolean): String = {
      def num(v: Double): String = if (full) v.toString else r3(v)
      obj(Seq(
        "metric" -> Some(str("total")),
        "value" -> Some(num(rep.map(_._2._1).sum)),
        "unit" -> Some(str("sec")),
        "queries" -> Some(obj(rep.map { case (n, (v, _)) => n -> num(v) })),
        "min" -> Option.when(full)(obj(ok.map(n => n -> (times(n) ++ retryTimes.getOrElse(n, Nil)).min.toString))),
        "passes" -> Some(passes.toString),
        "failed" -> Some(arr(failed)),
        "retried" -> Option.when(full)(arr(retried)),
        "canary_quiet" -> Some(r3(quietHeavy)),
        "canary" -> Some(canaryJson.mkString("[", ",", "]")),
        "phase_flagged" -> Some(arr(rep.collect { case (n, (_, r)) if r > phaseFactor => n })),
        // 2-decimal: the map rides the bounded stdout line
        "phase_ratio" -> Some(obj(rep.map { case (n, (_, r)) => n -> f"$r%.2f" })),
        "sf" -> Some(str(sf))).collect { case (k, Some(v)) => k -> v })
    }
    (line(full = false), line(full = true))
  }

  /** `plan` with what differs between two builds of the same query
    * masked: expression ids (`#12`), exchange ids (`[plan_id=34]`), RDD
    * labels (`MapPartitionsRDD[56] at localCheckpoint at
    * Bounded.scala:78`, the file name kept) and the random suffix of
    * scratch directories (`/txtidx8841…` from `util.Scratch`). */
  def maskPlan(plan: String): String = Seq(
    """#\d+""" -> "#N",
    """\[plan_id=\d+\]""" -> "[plan_id=N]",
    """(\w+RDD)\[\d+\] at (\w+) at ([\w$]+\.scala):\d+""" -> "$1[N] at $2 at $3:N",
    """(/[A-Za-z_]+)\d{8,}""" -> "$1N")
    .foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** The targeted-run profile: records the Spark jobs of one timed
    * execution between [[start]] and [[report]], which prints them. */
  private final class Profile extends SparkListener {
    private final case class Job(id: Int, t0: Long, desc: String, var t1: Long = 0L,
        var stages: Int = 0, var taskMs: Long = 0L, var shufR: Long = 0L, var shufW: Long = 0L)
    private val jobs = TrieMap.empty[Int, Job]
    private val stageToJob = TrieMap.empty[Int, Int]
    @volatile private var recording = false

    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, desc)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.taskMs += m.executorRunTime
        j.shufR += m.shuffleReadMetrics.totalBytesRead
        j.shufW += m.shuffleWriteMetrics.bytesWritten
      }
    }

    def start(): Unit = { jobs.clear(); stageToJob.clear(); recording = true }

    def report(name: String, total: Double, build: Double): Unit = {
      recording = false
      val js = jobs.values.toSeq.sortBy(_.id)
      val wall = js.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
      System.err.println(f"[prof] $name%-28s total=$total%7.2fs build=$build%6.2fs jobs=${js.size}%3d stages=${js.map(_.stages).sum}%4d jobWall=$wall%7.2fs taskTime=${js.map(_.taskMs).sum / 1e3}%8.1fs shufR=${js.map(_.shufR).sum / 1e6}%9.1fMB shufW=${js.map(_.shufW).sum / 1e6}%9.1fMB")
      js.sortBy(j => -(j.t1 - j.t0)).take(12).foreach { j =>
        System.err.println(f"[prof]    job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%6.2fs stages=${j.stages}%3d task=${j.taskMs / 1e3}%7.2fs shufR=${j.shufR / 1e6}%8.1fMB ${j.desc.take(80)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val groupSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUP", "12").toInt
    // optional comma-separated name filter for targeted local runs
    // (attribution experiments); the driver sets no env → full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val canaryEvery = sys.env.get("SPARK_GRAFT_CANARY_EVERY").map(_.toInt)
      .getOrElse(if (only.isDefined) 0 else 4)
    val pinnedQuiet = sys.env.get("SPARK_GRAFT_CANARY_QUIET").map(_.toDouble)
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val profile = only.map(_ => new Profile)

    // round 12 (verdict ask #2): stream state stores / staged sources
    // ride tmpfs when available. The round-12 stream-join attribution
    // 2×2 (placement × induced fsync load, SURVEY §9) read a consistent
    // 5–15% on the stream pair from tmpfs placement and NO inflation
    // from a single-writer disk load in either cell — so the r11 3.8×
    // driver reading was a host-level throughput phase (now
    // canary-detected), not state-store disk contention; tmpfs still
    // removes the stream family's one disk dependency outright.
    util.Scratch.adoptTmpfs()

    val benchStart = System.nanoTime()
    def now(): Double = (System.nanoTime() - benchStart) / 1e9

    def newSession(): SparkSession = {
      val spark = GraftSession.local(cpus, cpus, "graft-bench")
      profile.foreach(spark.sparkContext.addSparkListener)
      // untimed warmup: touch every table once so the first measured query
      // doesn't absorb JVM/codegen/parquet-footer cold-start (profiled at
      // ~5 s — it made whichever query sorted first look 5× slower)
      io.Tables.all.foreach(t => io.Tables(spark, sfDir, t).count())
      spark
    }

    // One execution of `name` through the noop sink, then the scrub:
    // caches opened while building a query must not leak into the next
    // measurement (or accumulate over passes × group queries). Returns
    // the seconds, or None when it failed: a FAILED pass records no
    // time, or a fast-failing query would deflate its median (and the
    // headline total) while only the `failed` array flagged it. A
    // `measured` execution is profiled in a targeted run and has its
    // plan dumped under SPARK_GRAFT_PLAN_DIR.
    def exec(spark: SparkSession, name: String, measured: Boolean): Option[Double] = {
      profile.filter(_ => measured).foreach(_.start())
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        if (measured) {
          profile.foreach(_.report(name, s, (built - t0) / 1e9))
          planDir.foreach(d => Files.writeString(Files.createDirectories(Paths.get(d)).resolve(
            s"$name.txt"), maskPlan(df.queryExecution.explainString(FormattedMode))))
        }
        Some(s)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      } finally GraftSession.scrub(spark)
    }

    val canary = mutable.ArrayBuffer.empty[Canary]
    def runCanary(): Unit = if (canaryEvery > 0 && SparkEntry.queries.contains(canaryHeavy)) {
      val spark = newSession()
      def timed(n: String) = exec(spark, n, measured = false).flatMap(_ => exec(spark, n, measured = false))
      val (h, l) = (timed(canaryHeavy), timed(canaryLight))
      spark.stop()
      for (hs <- h; ls <- l) {
        canary += Canary(now(), hs, ls)
        System.err.println(f"[bench] canary t=${now()}%.0fs heavy=$hs%.2fs light=$ls%.2fs")
      }
    }

    // Noise defense #5 (round 11, verdict ask #1): an UNTIMED first
    // execution of every query inside its own session. The table-count
    // warmup doesn't warm a query's codegen/broadcast/stream
    // machinery, so pass 1 routinely read above passes 2–3 and the
    // median leaned on a cold sample — in r10's driver artifact
    // corpus_budget_select's 3-sample window read 4.4× its quiet median
    // while its own min sat BELOW it. One extra execution per query
    // (~+1/3 suite time) buys medians whose samples are all warm.
    // The scrub after each execution matters here: clearCache() alone
    // releases catalog-cached relations but NOT localCheckpoint RDDs
    // (CC / PageRank / k-core persist per round OUTSIDE the cache
    // manager), and without the RDD sweep those accumulated across
    // passes and the warmup's extra execution pushed exactly the
    // checkpoint-heavy queries ~2× over their quiet medians (r11).
    def runGroups(gs: Seq[Seq[String]]): (Map[String, List[Double]], Seq[Span]) = {
      val (sink, spans) = (mutable.Map.empty[String, List[Double]], mutable.ArrayBuffer.empty[Span])
      for ((group, gi) <- gs.zipWithIndex) {
        if (canaryEvery > 0 && gi % canaryEvery == 0) runCanary()
        val g0 = now()
        val spark = newSession()
        group.foreach(exec(spark, _, measured = false))
        for (_ <- 1 to passes; name <- group)
          exec(spark, name, measured = true).foreach(s => sink(name) = s :: sink.getOrElse(name, Nil))
        spark.stop()
        spans += Span(group, g0, now())
      }
      if (gs.nonEmpty) runCanary()
      (sink.toMap, spans.toSeq)
    }

    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val (times, mainSpans) = runGroups(groups(names, groupSize))
    // the retry set is chosen from the canary points so far; the lines
    // use the final ones
    val q = quiet(pinnedQuiet, canary.toSeq)
    val retried = retrySet(names, times, ratio(canary.toSeq, q, mainSpans, _))
    if (retried.nonEmpty)
      System.err.println(s"[bench] retrying ${retried.size} noisy queries: " + retried.mkString(", "))
    val (retryTimes, retrySpans) = runGroups(groups(retried, groupSize).reverse)
    val (stdout, file) = lines(Run(sfDir, passes, names, times, retryTimes, retried,
      mainSpans, retrySpans, canary.toSeq, quiet(pinnedQuiet, canary.toSeq)))
    println(stdout)
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")), file + "\n")
  }
}
