package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import Bench.{Canary, Run, Span}

/** Bench's decisions, checked without a Spark session: the tiers, the
  * canary ratio, the reported window, the retry set and the two
  * artifact lines. */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  test("the tiers: 11 singletons, 47 heavy queries in sessions of 5, 173 light ones in sessions of 12, each tier alphabetical") {
    val gs = Bench.groups(names, 12)
    assert(names.size == 231 && gs.flatten.sorted == names)
    assert(gs.map(_.size) == Seq.fill(11)(1) ++ Seq.fill(9)(5) ++ Seq(2) ++ Seq.fill(14)(12) :+ 5)
    assert(gs.take(11).flatten == Seq("ann_ivfpq_res_topk", "ann_ivfpq_topk", "ann_mmr_topk",
      "corpus_budget_select", "corpus_ccnet_buckets", "privacy_purge_ann", "stream_ann_purge",
      "stream_ann_screen", "stream_index_purge", "stream_join", "stream_join_outer"))
    val (heavy, light) = gs.drop(11).flatten.splitAt(47)
    assert(heavy == heavy.sorted && light == light.sorted)
    assert(heavy.head == "ann_index_probe" && heavy.last == "stats_analyze")
    assert(light.take(3) == Seq("bloom_join", "bpe_coverage", "bpe_merges") && light.last == "text_winnow")
    assert(Seq("graph_kcore", "emb_drift", "search_phrase").forall(heavy.contains))
    // the heavy tier's session size never exceeds the light one's
    assert(Bench.groups(names, 3).slice(11, 26).forall(_.size == 3))
  }

  test("the canary ratio: none without points, the pinned quiet reference, the bracketing points only") {
    val span = Seq(Span(Seq("a", "b"), 10.0, 20.0))
    assert(Bench.ratio(Nil, 2.0, span, "a") == 0.0)
    val points = Seq(Canary(5, 3.0, 0.1), Canary(15, 30.0, 0.1), Canary(25, 6.0, 0.1),
      Canary(30, 60.0, 0.1))
    assert(Bench.quiet(None, points) == 3.0)
    assert(Bench.quiet(Some(1.5), points) == 1.5)
    assert(Bench.quiet(None, Nil) == 0.0)
    // the point inside the session and the one after the first point
    // after it do not bracket it
    assert(Bench.ratio(points, 3.0, span, "a") == 2.0)
    assert(Bench.ratio(points, 1.5, span, "b") == 4.0)
    assert(Bench.ratio(points, 3.0, span, "c") == 0.0)
    assert(Bench.ratio(points, 0.0, span, "a") == 0.0)
    // a point at the session's very start or end brackets it
    assert(Bench.ratio(points, 3.0, Seq(Span(Seq("a"), 25.0, 30.0)), "a") == 20.0)
    // only a point before
    assert(Bench.ratio(points, 3.0, Seq(Span(Seq("a"), 31.0, 40.0)), "a") == 20.0)
    // the largest over every session that ran the query
    assert(Bench.ratio(points, 3.0, span :+ Span(Seq("a"), 0.0, 4.0), "a") == 2.0)
  }

  test("the reported window: main without a retry, the retry when its median beats main, else main with the calmer ratio") {
    assert(Bench.reported(List(3.0, 1.0, 2.0), Nil, 1.75, sys.error("no retry")) == ((2.0, 1.75)))
    assert(Bench.reported(List(3.0, 1.0, 2.0), List(1.5), 1.75, 2.5) == ((1.5, 2.5)))
    assert(Bench.reported(List(3.0, 1.0, 2.0), List(2.0, 4.0), 1.75, 2.5) == ((2.0, 1.75)))
    assert(Bench.reported(List(3.0, 1.0, 2.0), List(2.5), 1.75, 1.25) == ((2.0, 1.25)))
  }

  test("the retry set: noisy queries first, then the phase-suspect rest, in name order, once each") {
    val ns = names.filter(n => n.startsWith("graph_") || n.startsWith("q"))
    val noisy = Set("graph_pagerank", "q6_filter", "graph_bfs")
    val suspect = Set("graph_pagerank", "graph_kcore", "q1_agg")
    val main = ns.map(n => n -> (if (noisy(n)) List(1.0, 1.6, 1.7) else List(1.0, 1.5, 1.2))).toMap -
      "graph_triangles"
    val retried = Bench.retrySet(ns, main, n => if (suspect(n)) 1.6 else 1.5)
    assert(retried == ns.filter(noisy) ++ ns.filter(n => suspect(n) && !noisy(n)))
    assert(retried.take(3) == Seq("graph_bfs", "graph_pagerank", "q6_filter"))
    // the retry sessions keep that order within each tier
    assert(Bench.groups(retried, 12) == Seq(Seq("graph_bfs", "graph_pagerank", "graph_kcore"),
      Seq("q6_filter", "q1_agg")))
  }

  private val run = Run(
    sf = "/data/sf0.1", passes = 3,
    names = Seq("ann_ivfpq_topk", "graph_pagerank", "q1_agg", "q6_filter", "search_phrase"),
    times = Map(
      "ann_ivfpq_topk" -> List(1.5, 1.25, 1.75),
      "graph_pagerank" -> List(3.0, 3.5, 2.0),
      "q1_agg" -> List(0.4, 0.9, 0.5),
      "search_phrase" -> List(0.875, 0.8125, 1.0)),
    retryTimes = Map(
      "graph_pagerank" -> List(2.25, 2.5, 2.125),
      "q1_agg" -> List(0.6, 0.7, 0.65),
      "q6_filter" -> List(0.1)),
    retried = Seq("q1_agg", "graph_pagerank", "q6_filter"),
    mainSpans = Seq(
      Span(Seq("ann_ivfpq_topk"), 1.0, 10.0),
      Span(Seq("graph_pagerank", "search_phrase"), 41.0, 60.0),
      Span(Seq("q1_agg", "q6_filter"), 60.5, 80.0)),
    retrySpans = Seq(
      Span(Seq("q1_agg", "q6_filter"), 91.0, 95.0),
      Span(Seq("graph_pagerank"), 20.0, 30.0)),
    canary = Seq(Canary(0.5, 2.0, 0.25), Canary(40.25, 4.5, 0.3), Canary(90.125, 2.5, 0.275)),
    quietHeavy = 2.0)

  test("both artifact lines of a hand-built run are the lines the earlier Bench main printed") {
    val (stdout, file) = Bench.lines(run)
    // rendered from the same run by the single-main Bench that computed
    // the tiers, ratios and flags inline
    assert(stdout == """{"metric":"total","value":5.125,"unit":"sec","queries":{"ann_ivfpq_topk":1.500,"graph_pagerank":2.250,"q1_agg":0.500,"search_phrase":0.875},"passes":3,"failed":["q6_filter"],"canary_quiet":2.000,"canary":[{"t":0.500,"heavy":2.000,"light":0.250,"ratio":1.000},{"t":40.250,"heavy":4.500,"light":0.300,"ratio":2.250},{"t":90.125,"heavy":2.500,"light":0.275,"ratio":1.250}],"phase_flagged":["ann_ivfpq_topk","graph_pagerank","search_phrase"],"phase_ratio":{"ann_ivfpq_topk":2.25,"graph_pagerank":2.25,"q1_agg":1.25,"search_phrase":2.25},"sf":"/data/sf0.1"}""")
    assert(file == """{"metric":"total","value":5.125,"unit":"sec","queries":{"ann_ivfpq_topk":1.5,"graph_pagerank":2.25,"q1_agg":0.5,"search_phrase":0.875},"min":{"ann_ivfpq_topk":1.25,"graph_pagerank":2.0,"q1_agg":0.4,"search_phrase":0.8125},"passes":3,"failed":["q6_filter"],"retried":["q1_agg","graph_pagerank","q6_filter"],"canary_quiet":2.000,"canary":[{"t":0.500,"heavy":2.000,"light":0.250,"ratio":1.000},{"t":40.250,"heavy":4.500,"light":0.300,"ratio":2.250},{"t":90.125,"heavy":2.500,"light":0.275,"ratio":1.250}],"phase_flagged":["ann_ivfpq_topk","graph_pagerank","search_phrase"],"phase_ratio":{"ann_ivfpq_topk":2.25,"graph_pagerank":2.25,"q1_agg":1.25,"search_phrase":2.25},"sf":"/data/sf0.1"}""")
    // a run with no canary point and no query
    assert(Bench.lines(Run("/s", 1, Nil, Map.empty, Map.empty, Nil, Nil, Nil, Nil, 0.0)) == ((
      """{"metric":"total","value":0.000,"unit":"sec","queries":{},"passes":1,"failed":[],"canary_quiet":0.000,"canary":[],"phase_flagged":[],"phase_ratio":{},"sf":"/s"}""",
      """{"metric":"total","value":0.0,"unit":"sec","queries":{},"min":{},"passes":1,"failed":[],"retried":[],"canary_quiet":0.000,"canary":[],"phase_flagged":[],"phase_ratio":{},"sf":"/s"}""")))
  }

  /** The earlier Bench main's phase flags, copied verbatim from its
    * `suspect` and `phaseFlagged` (only their free variables became
    * parameters): a query is flagged when the window its reported
    * median came from was canary-suspect and no unsuspect window
    * bounded the value. */
  private def earlierFlags(
      canaryPoints: Seq[(Double, Double, Double)],
      quietHeavy: Double,
      mainSpans: Seq[(Seq[String], Double, Double)],
      retrySpans: Seq[(Seq[String], Double, Double)],
      ok: Seq[String],
      times: Map[String, List[Double]],
      retryTimes: Map[String, List[Double]]): Seq[String] = {
    val phaseFactor = 1.5
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    def suspect(spans: Seq[(Seq[String], Double, Double)]): Set[String] =
      if (canaryPoints.isEmpty || quietHeavy <= 0) Set.empty
      else spans.flatMap { case (group, t0, t1) =>
        val before = canaryPoints.filter(_._1 <= t0).lastOption
        val after = canaryPoints.find(_._1 >= t1)
        val ratios = (before.toSeq ++ after.toSeq).map(_._2 / quietHeavy)
        if (ratios.exists(_ > phaseFactor)) group else Nil
      }.toSet
    val phaseSuspectRetry = suspect(retrySpans.toSeq)
    val phaseSuspectMainFinal = suspect(mainSpans.toSeq)
    val phaseFlagged = ok.filter { n =>
      val m = median(times(n))
      val r = retryTimes.get(n).filter(_.nonEmpty).map(median)
      val choseRetry = r.exists(_ < m)
      if (choseRetry) phaseSuspectRetry(n)
      else phaseSuspectMainFinal(n) && (r.isEmpty || phaseSuspectRetry(n))
    }
    phaseFlagged
  }

  /** A random run over the first `n` query names: sessions of 1–4
    * queries laid end to end, some queries failed or retried, and
    * canary points between sessions, a few at a session's very edge. */
  private def timeline(rnd: Random): Run = {
    val ns = names.take(2 + rnd.nextInt(20))
    def samples(): List[Double] = List.fill(1 + rnd.nextInt(3))(0.5 + rnd.nextInt(8) * 0.25)
    var t = 0.0
    def spans(qs: Seq[String]): Seq[Span] = {
      val out = Seq.newBuilder[Span]
      var rest = qs
      while (rest.nonEmpty) {
        val (g, r) = rest.splitAt(1 + rnd.nextInt(4))
        val t0 = t + rnd.nextInt(3)
        t = t0 + 1 + rnd.nextInt(10)
        out += Span(g, t0, t)
        rest = r
      }
      out.result()
    }
    val failed = ns.filter(_ => rnd.nextInt(10) == 0).toSet
    val main = ns.filterNot(failed).map(_ -> samples()).toMap
    val mainSpans = spans(ns)
    val retried = ns.filter(_ => rnd.nextInt(3) == 0)
    val retry = retried.filter(_ => rnd.nextInt(6) != 0).map(_ -> samples()).toMap
    val retrySpans = spans(retried.reverse)
    val canary = (0 to t.toInt).filter(_ => rnd.nextInt(4) == 0)
      .map(s => Canary(s.toDouble, 1.0 + rnd.nextInt(12) * 0.25, 0.1))
    val pinned = if (rnd.nextInt(4) == 0) Some(rnd.nextInt(4) * 0.75) else None
    Run("/s", 3, ns, main, retry, retried, mainSpans, retrySpans, canary, Bench.quiet(pinned, canary))
  }

  test("a query is phase-flagged exactly when its ratio exceeds 1.5, as the earlier main flagged it") {
    val rnd = new Random(7)
    var flaggedSome = 0
    for (_ <- 1 to 500) {
      val r = timeline(rnd)
      val ok = r.names.filter(r.times.contains)
      val ratios = ok.map(n => n -> Bench.reported(r.times(n), r.retryTimes.getOrElse(n, Nil),
        Bench.ratio(r.canary, r.quietHeavy, r.mainSpans, n), Bench.ratio(r.canary, r.quietHeavy, r.retrySpans, n))._2)
      val flagged = ratios.collect { case (n, x) if x > 1.5 => n }
      def tuples(ss: Seq[Span]) = ss.map(s => (s.group, s.t0, s.t1))
      assert(flagged == earlierFlags(r.canary.map(c => (c.t, c.heavy, c.light)), r.quietHeavy,
        tuples(r.mainSpans), tuples(r.retrySpans), ok, r.times, r.retryTimes), r)
      val line = Bench.lines(r)._2
      assert(line.contains(flagged.map("\"" + _ + "\"").mkString("\"phase_flagged\":[", ",", "]")), line)
      if (flagged.nonEmpty && flagged.size < ok.size) flaggedSome += 1
    }
    // the generated runs exercise both outcomes
    assert(flaggedSome > 50, flaggedSome)
  }
}
