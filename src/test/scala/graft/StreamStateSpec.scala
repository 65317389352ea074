package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** State-store pressure tests for the two stateful streaming kernels —
  * the streaming mirror of the batch operators' bounded-state claims
  * (SURVEY §9 "driver state O(metadata)"). A stateful stream that
  * cannot evict is a slow OOM at 100 TB/day, and no memory-sink smoke
  * query catches it: correctness looks fine right up until the state
  * store dies. The assertions here read the engine's own
  * `stateOperators` progress metrics (numRowsTotal), not proxies.
  *
  *  - sessionize: state must track OPEN sessions only — the event-time
  *    timeout must REMOVE closed keys, so driving K distinct users
  *    through and then advancing the watermark far past their timeouts
  *    must collapse state from ≥K rows to the handful still open.
  *  - stream_dedup's running aggregation: state is exactly one row per
  *    DISTINCT fingerprint — re-sending duplicates must not grow it.
  *    That bound is O(distinct keys), fine for a corpus snapshot,
  *    UNBOUNDED for an endless feed — which is why the windowed KMV
  *    sketch (`windowedDistinctSketch`, ≤ k longs per open window) and
  *    the static-index `nearDupScreen` exist as the unbounded-feed
  *    spellings. The spec pins the exact-dedup bound so the trade is
  *    documented by a green test, not a comment.
  */
class StreamStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  private def lastStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.filter(_.stateOperators.nonEmpty).last.stateOperators.head.numRowsTotal

  test("sessionize: watermark timeout EVICTS closed sessions — state tracks open keys, not users ever seen") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapSeconds = 60).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_state_pressure").start()
    try {
      val k = 2000
      // K distinct users, one event each: K open sessions in the store
      input.addData((1 to k).map(u => StreamOps.Event(u.toLong, ts(1000), "a", 1.0)))
      q.processAllAvailable()
      val openAll = lastStateRows(q)
      // two far-future events: the first advances the watermark past
      // every session's (last + gap) timeout; EventTimeTimeout fires on
      // the batch AFTER the watermark advances, so the second batch
      // triggers the actual timeout sweep
      input.addData(Seq(StreamOps.Event(7000001L, ts(1000 + 4 * 3600), "a", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(StreamOps.Event(7000002L, ts(1000 + 8 * 3600), "a", 1.0)))
      q.processAllAvailable()
      val openAfterSweep = lastStateRows(q)
      assert(openAll >= k, s"expected >= $k open sessions buffered, saw $openAll")
      assert(openAfterSweep <= 5,
        s"closed sessions must be REMOVED from the store, still holding $openAfterSweep rows")
      // and the evicted sessions were all emitted, not dropped
      assert(spark.table("sess_state_pressure").count() >= k)
    } finally q.stop()
  }

  test("attributionJoinOuter: watermark EVICTS interval-join state — state tracks the window, not total input") {
    // the spec twin of BENCH_scale's stream_join_outer_state rows
    // (round 13): input grew 64× while peak state grew 10× there; here
    // the mechanism is pinned — rows the watermark has passed LEAVE
    // the store, so state is watermark+window of both sides, never the
    // feed. A join that buffers forever looks correct in every output
    // row right up to the state-store OOM at 100 TB/day.
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def leg(ms: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      ms.toDS().toDF("event_id", "user_id", "ts")
    val q = StreamOps.attributionJoinOuter(leg(clicks), leg(purchases),
        windowSeconds = 30, watermark = "60 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("join_state_pressure").start()
    try {
      val k = 1000
      // k users, one click + one in-window purchase each, all within a
      // 10 s span: both sides buffer while the watermark sits at the span
      clicks.addData((1 to k).map(i => (i.toLong, i.toLong, ts(1000 + i % 10))))
      purchases.addData((1 to k).map(i => (100000L + i, i.toLong, ts(1005 + i % 10))))
      q.processAllAvailable()
      val buffered = lastStateRows(q)
      // advance BOTH watermarks far past the data; eviction is applied
      // on the batch after the advance, so drive two sentinel rounds
      clicks.addData(Seq((900001L, -1L, ts(100000))))
      purchases.addData(Seq((900002L, -2L, ts(100000))))
      q.processAllAvailable()
      clicks.addData(Seq((900003L, -1L, ts(200000))))
      purchases.addData(Seq((900004L, -2L, ts(200000))))
      q.processAllAvailable()
      val afterSweep = lastStateRows(q)
      assert(buffered >= 2L * k,
        s"expected both sides buffered (>= ${2 * k} rows) before the watermark moved, saw $buffered")
      assert(afterSweep <= 10,
        s"watermark-passed join state must be EVICTED, still holding $afterSweep rows")
      // and the emissions are complete: every real purchase came out
      // exactly once (matched eagerly — none needed the outer path)
      assert(spark.table("join_state_pressure")
        .where(col("user_id") >= 0 && col("click_id").isNotNull).count() == k)
    } finally q.stop()
  }

  test("exact-dedup running agg: state rows == distinct fingerprints; duplicates never grow it") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val grouped = input.toDS().toDF("doc_id", "text")
      .select(col("doc_id"), graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
    val q = grouped.writeStream.outputMode("complete").format("memory")
      .queryName("dedup_state_pressure").start()
    try {
      val texts = (1 to 500).map(i => s"document body number $i")
      // 1000 rows, 500 distinct texts
      input.addData(texts.zipWithIndex.flatMap { case (t, i) =>
        Seq((i.toLong, t), (i.toLong + 10000, t)) })
      q.processAllAvailable()
      val s1 = lastStateRows(q)
      // a full duplicate replay plus 100 new fingerprints
      input.addData(texts.zipWithIndex.map { case (t, i) => (i.toLong + 20000, t) } ++
        (1 to 100).map(i => (i.toLong + 30000, s"fresh text $i")))
      q.processAllAvailable()
      val s2 = lastStateRows(q)
      assert(s1 == 500L, s"state must be one row per distinct fingerprint, saw $s1")
      assert(s2 == 600L,
        s"1500 duplicate rows must not grow state beyond the 600 distinct keys, saw $s2")
    } finally q.stop()
  }

  test("mvMaintainApply: cross-trigger retractions and zero-count groups keep the view == recompute after EVERY trigger") {
    // The one place the retract/add rule could silently drop a
    // decrement (r10 verdict ask #6): a change arriving in a LATER
    // trigger than the state it retracts — a delete of a key inserted
    // two triggers ago, a group emptied to count 0 (it LEAVES the
    // view) then re-entered, a key bouncing between groups across
    // triggers. After every single trigger the stored view must equal
    // a full recompute over the resolved head.
    import java.nio.file.Files
    withTempDir("mv_late") { base =>
      val path = base + "/tbl"
      val mv = base + "/mv"
      def doc(id: Long, src: String, len: Int) = (id, "x" * len, src)
      val t0 = ((1L to 8L).map(i => doc(i, "a", i.toInt)) ++
        (11L to 14L).map(i => doc(i, "b", 10)) ++ Seq(doc(21L, "c", 5)))
        .toDF("doc_id", "text", "source")
      io.Sinks.writeVersion(t0, path, 0)
      def recompute(v: Long) =
        io.Sinks.readSnapshotAt(spark, path, v, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("text")).cast("long")).as("sum_val"))
      recompute(0).write.parquet(mv)
      def b(rows: (Long, String, String, Boolean)*) =
        rows.toDF("doc_id", "text", "source", "__deleted")
      val triggers = Seq(
        // t1: in-place update, insert into c, delete c's only doc (c
        // empties → leaves the view), group-move 11 b→a
        b((1L, "y" * 20, "a", false), (101L, "z" * 7, "c", false),
          (21L, "", "c", true), (11L, "x" * 10, "a", false)),
        // t2 (late): retract the key t1 inserted (c empties AGAIN),
        // a stale-looking re-update of key 1, re-insert of the key t1
        // deleted (c re-enters), 11 bounces a→b
        b((101L, "", "c", true), (1L, "w" * 3, "a", false),
          (21L, "v" * 6, "c", false), (11L, "x" * 10, "b", false)),
        // t3: retractions only — a key from the base, and c emptied a
        // third time
        b((21L, "", "c", true), (2L, "", "a", true)))
      for ((batch, i) <- triggers.zipWithIndex) {
        streaming.StreamOps.mvMaintainApply(
          streaming.StreamOps.stagedStream(Seq(batch)), path, mv,
          "doc_id", "source",
          oldVal = length(col("old_text")), newVal = length(col("new_text")))
        val head = io.Sinks.nextVersion(spark, path) - 1
        def toSet(df: org.apache.spark.sql.DataFrame) = df
          .select(col("source"), col("n_rows").cast("long"), col("sum_val").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val expect = toSet(recompute(head))
        val got = toSet(spark.read.parquet(mv))
        assert(got == expect,
          s"trigger ${i + 1} (v$head): view $got != recompute $expect")
      }
      // the zero-count eviction actually happened: c is absent at the end
      assert(!spark.read.parquet(mv).collect().exists(_.getString(0) == "c"))
    }
  }

  test("attributionJoinOuter: staged replay equals the batch left join on two independent runs") {
    def key(r: org.apache.spark.sql.Row): (Long, Long, java.sql.Timestamp, Long, java.sql.Timestamp) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) null else r.getTimestamp(4))
    def run(n: Int): Set[(Long, Long, java.sql.Timestamp, Long, java.sql.Timestamp)] = {
      val ev = StreamOps.readEventsStaged(spark, sf)
      val joined = StreamOps.attributionJoinOuter(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      StreamOps.runToMemory(joined, s"sjo_spec_$n")
        .where(col("user_id") >= 0)
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .collect().map(key).toSet
    }
    val ev = graft.io.Tables(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
    val batch = p.join(c,
        col("user_id") === col("cu") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 3600 SECONDS"),
        "left")
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
      .collect().map(key).toSet
    val s1 = run(1)
    assert(s1 == batch,
      s"streamed outer join diverges from batch: ${(s1 diff batch) ++ (batch diff s1)}")
    // the outer path is actually exercised, and a second run (fresh
    // staging dir, fresh checkpoint) reproduces it — the sentinel
    // choreography is deterministic, not a race that happened to win
    assert(s1.exists(_._4 == -1L),
      "no unmatched purchase in the fixture — the outer path is untested")
    assert(run(2) == batch, "second staged replay diverged")
  }
}
