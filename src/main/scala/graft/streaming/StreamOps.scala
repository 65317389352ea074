package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is batch-only (SURVEY.md
  * §1.1: no streams anywhere), but an events table at 100 TB/day is a
  * stream; these are the standard continuous versions of the engine's
  * aggregation operators: watermarked tumbling-window aggregation and
  * stateful sessionization.
  */
object StreamOps {

  // one watched temp dir per source dir, reused across calls — a
  // long-lived session that builds many streams over the same table
  // must not accumulate temp symlink dirs — and deleted at exit
  private val watchedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Streaming view of one parquet table of an sf directory: the file
    * stream source monitors a directory, so the single-file table is
    * exposed through a (per-source-file, process-lifetime) temp dir
    * symlink. */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    // nanosAsLong is a session-construction conf (GraftSession.local
    // sets it) — mutating it per read races in a shared session; see
    // io.Tables.apply for the full rationale. The sf files come from
    // the data generator, whose footers carry no Spark schema, so this
    // is plain inference rather than Sinks.readParquet.
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    val watched = watchedDirs.computeIfAbsent(s"$dir/$table", { _ =>
      val src = java.nio.file.Paths.get(dir, s"$table.parquet")
      val w = java.nio.file.Files.createTempDirectory(s"${table}_stream")
      w.toFile.deleteOnExit()
      java.nio.file.Files.createSymbolicLink(w.resolve(s"$table.parquet"), src)
        .toFile.deleteOnExit()
      w
    })
    spark.readStream.schema(schema).parquet(watched.toString)
  }

  /** Streaming view of the events table with the same schema fix-ups as
    * the batch reader (legacy nanosecond-long timestamps → microseconds)
    * plus one streaming-only rule: tz-less parquet timestamps read back
    * as TIMESTAMP_NTZ, which `withWatermark` rejects — cast to session-tz
    * TIMESTAMP (an identity on the stored micros under the UTC session
    * the engine pins), so event-time semantics match the batch twin. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = readTable(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling-window count/sum per event type with a watermark: the
    * streaming equivalent of the batch hourly aggregation (q12). Late
    * data beyond the watermark is dropped, state is bounded — the only
    * state kept is one row per (window, event_type). The value sum is
    * exact decimal so the continuous result is bit-identical to the
    * batch twin regardless of arrival or partition order. */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Windowed distinct-count SKETCH: the KMV aggregator as streaming
    * window state — "distinct users per hour" over an unbounded stream
    * with ≤ k longs of state per open window, where an exact
    * `approx_count_distinct`-free answer would hold every distinct
    * value in the state store. The same mergeable buffer the batch
    * sketches use IS the streaming partial-agg state, so arrival order
    * and micro-batch boundaries cannot change the result: the k
    * smallest distinct hashes of a multiset are merge-order-invariant.
    * Hashes are the engine-independent md5-slice family (44 bits), so
    * the DuckDB oracle replays the exact estimates per window. */
  def distinctSketchWindows(
      events: DataFrame,
      k: Int = 256,
      bits: Int = 44,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(bits < 63 && k > 1, s"need 1 < k and bits < 63, got k=$k bits=$bits")
    val num = (k - 1).toLong * (1L << bits)
    events
      .select(col("ts"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 11), 16, 10)
          .cast("long").as("h"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(udaf(graft.ops.Aggregators.KMinValues(k)).apply(col("h")).as("mins"))
      .select(col("window.start").as("window_start"),
        when(size(col("mins")) > 0, element_at(col("mins"), size(col("mins"))))
          .as("kth_min"),
        when(size(col("mins")) < k, size(col("mins")).cast("long"))
          .otherwise(expr(s"${num}L div element_at(mins, $k)"))
          .cast("long").as("est"))
  }

  /** Per-window per-entity counts — the state feeding a "trending
    * items" ranking: one row of state per open (window, entity), closed
    * by the watermark like every windowed aggregate here. The RANKING
    * over those counts is a batch step over the drained window rows
    * (`plans.TopKPerKey` in the shipped query) — a live deployment
    * ranks per trigger in `foreachBatch` over exactly this relation;
    * the aggregation, which is the part that has to be streaming and
    * stateful, is identical either way. */
  def windowedEntityCounts(
      events: DataFrame,
      entityCol: String,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(entityCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(entityCol), col("n"))

  /** Sliding-window aggregation: every event lands in len/slide
    * overlapping windows (here 2 — the moving-average shape tumbling
    * windows can't express). State is still bounded: one row per open
    * (window, event_type), windows close as the watermark passes. */
  def slidingCounts(
      events: DataFrame,
      windowLen: String = "2 hours",
      slide: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class Session(user_id: Long, start_s: Long, end_s: Long, n_events: Int, total_value: Double)

  /** Gap-based sessionization with explicit state: a session closes after
    * `gapSeconds` of user inactivity (event-time timeout). The custom
    * state machine is the streaming analogue of the reference's
    * whole-partition reducefunc — arbitrary per-key logic over an ordered
    * group (SURVEY.md §2.4). */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.last, s.n, s.total))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              cur match {
                case Some(s) if t - s.last <= gapSeconds =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapSeconds) * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming word count — the reference's canonical query as a
    * continuous pipeline: text lines → reference-parity tokenization →
    * running counts (complete output mode; state is one row per word). */
  def streamingWordCount(spark: SparkSession, dir: String): DataFrame = {
    val lines = spark.readStream.text(dir)
    graft.ops.TextOps
      .wordCount(lines, col("value"))
  }

  /** Streaming view of the events table STAGED for watermark-eviction
    * semantics (outer joins, timeout-driven emission): the real events
    * are copied into a fresh watched dir, followed by TWO sentinel
    * files each holding one far-future click and one far-future
    * purchase with `user_id < 0`. Read back one file per trigger
    * (mod-time order — the copies are written sequentially), the
    * batches are: real data; first sentinel (its batch ends with the
    * watermark advanced past every real event); second sentinel — a
    * DATA batch in which the engine evicts state and emits every
    * pending outer/timeout row under that advanced watermark. Relying
    * on the engine's no-data micro-batch instead would race
    * `processAllAvailable` (the no-data batch may fire after it
    * returns, and the memory sink would miss the outer rows).
    * Because the sentinels sit ~decades past the data, every real row
    * clears any eviction threshold by a margin that makes the
    * engine's internal ±1 ms watermark arithmetic irrelevant — the
    * batch oracle needs NO threshold condition at all. Callers filter
    * `user_id >= 0` after their stateful op. */
  def readEventsStaged(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.io.Tables(spark, dir, "events")
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    def sentinel(tsLit: String, idBase: Long) = ev.limit(1)
      .withColumn("event_id", lit(idBase))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("click"))
      .withColumn("ts", to_timestamp(lit(tsLit)))
      .unionByName(ev.limit(1)
        .withColumn("event_id", lit(idBase + 1))
        .withColumn("user_id", lit(-2L))
        .withColumn("event_type", lit("purchase"))
        .withColumn("ts", to_timestamp(lit(tsLit))))
    stagedStream(Seq(
      ev.coalesce(1),
      sentinel("2090-01-01 00:00:00", -10L),
      sentinel("2091-01-01 00:00:00", -20L)))
  }

  /** Stage a sequence of DataFrames as a file-source stream replayed
    * ONE FILE PER TRIGGER in sequence order — the deterministic
    * multi-batch harness behind `readEventsStaged` (watermark
    * choreography) and `cdcApply` (ordered CDC commits): sequential
    * single-file writes then ordered flat copies, so the source's
    * (mod-time, path) ordering replays exactly one staged part per
    * micro-batch. */
  private[graft] def stagedStream(parts: Seq[DataFrame]): DataFrame = {
    val spark = parts.head.sparkSession
    val stageDir = graft.util.Scratch.dirAutoClean("staged_stream")
    // The staged copy's true lifetime is the OWNING SparkContext's (the
    // returned DataFrame may be re-executed until the session stops,
    // never after) — reclaim it at application end instead of only at
    // JVM exit: a multi-pass bench recycles dozens of sessions, and on
    // a tmpfs scratch root (Bench defaults to /dev/shm) exit-only
    // cleanup would accumulate RAM-backed parquet that competes with
    // the page cache. The JVM exit hook stays as the crash backstop.
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
        graft.util.Scratch.delete(stageDir)
        graft.util.Scratch.release(stageDir)
      }
    })
    val stage = java.nio.file.Paths.get(stageDir)
    val flat = stage.resolve("flat")
    java.nio.file.Files.createDirectory(flat)
    // r14: the per-part staging writes are independent jobs over
    // DISJOINT p$i dirs — overlap them (guide §2.6). Replay order is
    // then pinned EXPLICITLY: the file source orders new files by
    // modification time with an arbitrary tie-break (its sort is by
    // timestamp only), and back-to-back copies land inside one
    // millisecond once the writes no longer separate them — so each
    // flat copy gets a strictly increasing mod-time stamped on it
    // (1 s apart per part), which is also sturdier than the implicit
    // write-latency spacing the sequential version relied on.
    graft.util.Par.jobs(parts.zipWithIndex.map { case (df, i) =>
      () => df.coalesce(1).write.parquet(stage.resolve(s"p$i").toString)
    })
    val t0 = System.currentTimeMillis()
    parts.indices.foreach { i =>
      stage.resolve(s"p$i").toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (p, j) =>
          val dst = flat.resolve(f"$i%03d_$j.parquet")
          java.nio.file.Files.copy(p.toPath, dst)
          dst.toFile.setLastModified(t0 + i * 1000L)
        }
    }
    spark.readStream
      .schema(graft.io.Sinks.readParquet(spark, flat.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat.toString)
  }

  /** Streaming CDC ingestion into the log-structured versioned table
    * (`Sinks.writeVersion`'s merge-on-read commit log): every
    * micro-batch of the change stream lands as ONE append-only
    * `__v=N` commit via `foreachBatch` — the standard
    * stream-to-lakehouse-table pattern (micro-batch == transaction),
    * per-commit cost O(batch) at any table size, earlier versions'
    * files never touched. Resolution (`Sinks.readSnapshotAt`) is
    * last-writer-wins over commit order == arrival order; a change
    * feed whose per-key updates arrive in order (the CDC contract)
    * resolves identically at ANY micro-batch slicing — batch
    * boundaries only decide how many commits the same ordered log is
    * split into. */
  def cdcApply(changes: DataFrame, path: String): Unit =
    drainBatches(changes) { batch =>
      graft.io.Sinks.writeVersion(batch.toDF(), path,
        graft.io.Sinks.nextVersion(batch.sparkSession, path))
    }

  /** [[drain]] an append-mode stream through `foreachBatch`, handing
    * every non-empty micro-batch to `f` (the emptiness probe is one
    * job); with `skipEmpty = false`, every micro-batch, for an `f` that
    * reads its batch once anyway and treats an empty one as a no-op. */
  private def drainBatches(stream: DataFrame, skipEmpty: Boolean = true)(
      f: Dataset[org.apache.spark.sql.Row] => Unit): Unit =
    drain(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!skipEmpty || !batch.isEmpty) f(batch)
      })

  /** Start → drain → stop with the checkpoint/state-store dir placed
    * under [[graft.util.Scratch]] (tmpfs-relocatable — the state
    * store's per-micro-batch delta files are the one disk-I/O term in
    * these otherwise CPU-bound drains) and deleted afterwards. */
  private def drain(
      w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val ckpt = graft.util.Scratch.dir("graft_ckpt")
    // r13 note: disabling no-data micro-batches here was tried and
    // REVERTED — the staged choreographies don't need them, but every
    // UNSTAGED single-batch Append drain (windowed counts over a plain
    // file stream) relies on the trailing no-data batch to emit its
    // watermark-closed windows; StreamMultimodalSpec catches the empty
    // sink. Left at the engine default.
    try {
      val q = w.option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    } finally graft.util.Scratch.delete(ckpt)
  }

  /** Streaming materialized-view maintenance — the stream-to-lakehouse
    * twin of `Sinks.maintainAggView`, completing the family: every
    * micro-batch commits as ONE append-only `__v=N` version (exactly
    * [[cdcApply]]) and then folds the change feed from the version the
    * stored view reflects to `N` into the view, written to
    * `<mvPath>.compacting` and published through
    * `Sinks.swapCompacting` (its crash contract, journal
    * `Sinks.journalBeside(mvPath)`). The view records the version it
    * reflects in a `_table_version` file inside its directory, so the
    * record moves with the publish; a view without one (the caller's
    * seed) reflects `N − 1`. A crash after the commit but before the
    * publish thus only delays the view: the next trigger folds the
    * orphaned commit along with its own. After every completed trigger
    * the view is bit-equal to what a batch recompute over the resolved
    * head would produce — which is what lets `stream_mv_maintain` share
    * `io_mv_maintain`'s recompute oracle verbatim.
    *
    * Per-cycle cost is the batch twin's: the diff prunes to the
    * commits' touched keys, the fold shuffles O(changes)+O(groups)
    * rows, and the table is never re-aggregated. The caller seeds the
    * stored view from the base version before starting the stream
    * (the deployment's initial backfill). */
  def mvMaintainApply(
      changes: DataFrame,
      path: String,
      mvPath: String,
      keyCol: String,
      grpCol: String,
      oldVal: org.apache.spark.sql.Column,
      newVal: org.apache.spark.sql.Column): Unit = {
    drainBatches(changes) { batch =>
      val s = batch.sparkSession
      val fs = new Path(mvPath).getFileSystem(s.sparkContext.hadoopConfiguration)
      val journal = graft.io.Sinks.journalBeside(mvPath)
      graft.io.Sinks.recoverSwap(s, journal)
      val v = graft.io.Sinks.nextVersion(s, path)
      graft.io.Sinks.writeVersion(batch.toDF(), path, v)
      val next = mvPath.stripSuffix("/") + ".compacting"
      graft.io.Sinks.maintainAggView(
          graft.io.Sinks.readParquet(s, mvPath)
            .select(col(grpCol), col("n_rows"), col("sum_val")),
          graft.io.Sinks.snapshotDiff(s, path, viewVersion(fs, mvPath).getOrElse(v - 1), v, keyCol),
          grpCol, oldVal, newVal)
        .write.mode("overwrite").parquet(next)
      val out = fs.create(new Path(next, ViewVersion), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      graft.io.Sinks.swapCompacting(s, journal, Seq(new Path(next) -> new Path(mvPath)), Nil)
    }
  }

  /** The file inside a maintained view that holds the table version
    * the view reflects (`_`-prefixed: hidden from parquet reads). */
  private val ViewVersion = "_table_version"

  private def viewVersion(fs: FileSystem, mvPath: String): Option[Long] =
    Some(new Path(mvPath, ViewVersion)).filter(fs.exists).map { f =>
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong finally in.close()
    }

  /** Streaming right-to-be-forgotten: delete requests arriving as a
    * stream are folded into the persisted text index one micro-batch
    * at a time via `Search.purgeTextIndex` — deletion keeps pace with
    * the request stream instead of queuing for a rebuild window,
    * completing the streaming-twin family (every batch maintenance op
    * here has one: fold-in, MV, CDC — now the subtraction too).
    *
    * Per-trigger cost is the batch purge's: one pass over the index
    * relations without the deleted ids + O(batch·terms/doc) stat
    * decrements; the corpus is never read. Each micro-batch goes to
    * the purge as it is, with no emptiness probe first: the purge
    * reads its delete ids once and an empty batch is its no-op.
    * Purging is idempotent per id (an absent id subtracts nothing —
    * its sliver is empty) and
    * batch-composable (each pass subtracts independent per-document
    * contributions), so after the stream drains the index equals ONE
    * batch purge of the union of all arrived ids — which is why
    * `stream_index_purge` shares `privacy_purge_text`'s
    * rebuild-on-the-retained-corpus oracle shape. */
  def indexPurgeApply(deletes: DataFrame, path: String, idCol: String): Unit =
    drainBatches(deletes, skipEmpty = false) { batch =>
      graft.ext.Search.purgeTextIndex(batch.sparkSession, path, batch.toDF(), idCol)
    }

  /** The ANN-side twin of [[indexPurgeApply]]: delete requests folded
    * into the persisted vector index per trigger via
    * `Similarity.purgeAnnIndex` — same idempotent, batch-composable
    * subtraction (lists/codes anti-joins; quantizers pinned
    * throughout, so codes stay comparable across every trigger), so
    * the drained index equals one batch purge of the union of
    * arrivals. */
  def annPurgeApply(deletes: DataFrame, dir: String, idCol: String): Unit =
    drainBatches(deletes, skipEmpty = false) { batch =>
      graft.ext.Similarity.purgeAnnIndex(batch.sparkSession, dir, batch.toDF(), idCol)
    }

  /** Stream-stream interval LEFT OUTER join — attribution with the
    * unconverted rows kept: every purchase, matched to same-user
    * clicks in the preceding `windowSeconds`, or emitted once with
    * null click columns when the watermark proves no qualifying click
    * can still arrive. Matches emit eagerly exactly as in
    * `attributionJoin`; the null-augmented row emits on state
    * eviction, which is watermark-driven — so a bounded replay needs
    * the staged source (`readEventsStaged`) whose trailing sentinel
    * batches push the watermark past the data and give the engine a
    * data batch to emit the outer rows in. State stays bounded at
    * `watermark + window` of both streams at any throughput. */
  def attributionJoinOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      windowSeconds: Long = 3600L,
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
        col("user_id") === col("c_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"),
        "leftOuter")
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  /** Stream-stream interval join — ad-attribution shape: each purchase
    * matched to the same user's clicks in the preceding `windowSeconds`.
    *
    * Both sides carry watermarks and the join condition bounds
    * purchase_ts to [click_ts, click_ts + window], so the state store
    * holds only `watermark + window` of either stream — bounded at any
    * throughput, the requirement for an unbounded 100 TB/day feed.
    * Inner-join matches emit as soon as both rows have arrived; the
    * watermark only governs state eviction, so a bounded replay yields
    * exactly the batch join's pairs. */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      windowSeconds: Long = 3600L,
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
  }

  /** Streaming near-dup ingest screen — the continuous version of
    * `Dedup.nearDupPairsAgainst`: arriving documents are screened
    * against the EXISTING corpus's pre-materialized LSH index without
    * ever self-joining the corpus. The stream side is pure per-row
    * expressions (shingle hash set, MinHash signature, band explode —
    * no stream-side shuffle before the join); candidates come from a
    * stream-static equi-join on (band, bh) against the static band
    * index, are verified with the exact Jaccard against the static
    * shingle relation, and multi-band hits collapse to one row per
    * pair in a bounded-state aggregation (state = one row per TRUE
    * pair). Geometry is pinned explicitly — the index contract
    * (`Dedup.dedupIndex`); a production deployment versions it with
    * the index and refreshes the static side per ingest epoch. */
  def nearDupScreen(
      streamDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 128,
      bands: Int = 64,
      threshold: Double = 0.6,
      scope: graft.util.CacheScope = new graft.util.CacheScope): DataFrame = {
    import graft.ext.Dedup
    val (shOld, bandsOld) =
      Dedup.dedupIndex(corpus, idCol, textCol, shingleN, numPerms, bands, scope)
    val rows = numPerms / bands
    val s1 = streamDocs
      .select(col(idCol).as("id_new"),
        Dedup.shingleHashSet(col(textCol), shingleN).as("ws_n"))
      .where(size(col("ws_n")) > 0)
      .withColumn("sig", Dedup.minHashSignature(col("ws_n"), numPerms))
    // band explode inline (lshBands drops payload columns; the verify
    // needs ws_n carried through — a streaming side cannot re-join
    // itself to fetch it back)
    val bandArr = transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(col("sig"), b * rows + 1, lit(rows))).as("bh")))
    val sBands = s1
      .select(col("id_new"), col("ws_n"), explode(bandArr).as("bb"))
      .select(col("id_new"), col("ws_n"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    sBands
      .join(bandsOld.withColumnRenamed(idCol, "id_old"), Seq("band", "bh"))
      .join(shOld.select(col(idCol).as("id_old"), col("ws").as("ws_o")), "id_old")
      .select(col("id_new"), col("id_old"),
        Dedup.jaccard(col("ws_n"), col("ws_o")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy("id_new", "id_old")
      .agg(max(col("jaccard")).as("jaccard"))
  }

  /** Ingest-time benchmark decontamination — the streaming twin of
    * `TextAnalysis.contaminationScreen`, for pipelines that must flag
    * eval leakage AT ARRIVAL rather than in a nightly batch: each
    * arriving doc's per-doc-distinct word n-gram hashes join the
    * STATIC benchmark hash set (eval-set-sized by contract →
    * broadcast per micro-batch, stream grams never shuffle), and the
    * per-doc hit count comes off a streaming aggregation whose state
    * is one counter per CONTAMINATED doc id — clean docs die at the
    * broadcast join and carry no state at all. Identical rows to the
    * batch screen on the same input (shared `ShingleMd5Hashes`
    * extraction), so the two share one oracle. */
  def decontaminateScreen(
      streamDocs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    def grams(df: DataFrame) = df.select(
      col(idCol),
      explode(graft.functions.ShingleMd5Hashes.shingleMd5(
        graft.ops.TextOps.tokens(col(textCol)), n)).as("h"))
    val benchHashes = grams(bench).select("h").distinct()
    grams(streamDocs)
      .join(broadcast(benchHashes), "h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Ingest-time semantic near-dup / contamination screen — the
    * EMBEDDING twin of [[nearDupScreen]], completing the set (every
    * static screen now has a streaming twin): arriving vectors are
    * ADC-scored against the PERSISTED ANN index
    * (`Similarity.readAnnIndex`) under its pinned quantizers — never
    * retrained per batch, the `updateAnnIndex` discipline — via
    * `Similarity.annScreenScored`, whose stream-side plan is scan →
    * row-local routing/ADC projections → one broadcast join against
    * the packed-codes serving view → projection. Zero stream-side
    * exchanges, zero state (spec-pinned); rank + exact re-rank finish
    * batch-side per trigger via `Similarity.annScreenFinish` (the
    * `driftSums`/`driftReport` split). */
  def annScreen(
      streamVecs: DataFrame,
      index: graft.ext.Similarity.AnnIndex,
      servingView: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int = graft.ext.Similarity.defaultNprobe,
      numSub: Int = 8,
      subDim: Int = 8,
      codebook: Int = 16): DataFrame =
    graft.ext.Similarity.annScreenScored(
      streamVecs, index, servingView, idCol, vecCol, nprobe, numSub, subDim, codebook)

  /** Run a streaming DataFrame to completion against the (bounded) input
    * and return the materialized result — batch-driven smoke execution
    * via the memory sink.
    *
    * Stateful operators open one state store PER shuffle partition per
    * stateful stage (a stream-stream join opens four), and each store
    * pays snapshot/maintenance overhead every micro-batch — at the
    * session's 32 partitions the fixed cost dwarfs a bounded replay
    * (profiled 8 s → 3 s on the interval join). The replay runs at
    * `shufflePartitions` and the session value is restored after;
    * results are partition-count-independent (hash aggregation and
    * equi-join semantics don't depend on R — the reference's own R
    * knob invariant). A production deployment sizes partitions to
    * throughput instead. */
  /** Streaming admission gate: [[graft.ops.Constraints]] row rules
    * maintained continuously over the arriving stream as a
    * Complete-mode global aggregate — state is ONE row of partial
    * sums (O(rules) longs) at any stream volume; each micro-batch
    * folds its conditional sums in map-side. Returns the WIDE
    * one-row aggregate (a generator cannot follow a streaming
    * aggregate); unpivot the sunk row with [[constraintReport]].
    * `uniqueKeys` is deliberately absent: distinct aggregates are
    * unsupported over streams, and exact uniqueness is corpus-wide —
    * a batch/compaction-time check, not an ingest-time one. */
  def constraintGate(
      stream: DataFrame,
      rowRules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    graft.ops.Constraints.wideCheck(stream, rowRules, Nil)

  /** Batch-side reshape of the sunk gate row to `(rule, n_violations)`
    * — bit-identical to `Constraints.check(batch, rowRules)` on the
    * same data, which is the oracle contract. */
  def constraintReport(sunkWide: DataFrame, ruleNames: Seq[String]): DataFrame =
    graft.ops.Constraints.unpivotReport(sunkWide, ruleNames)

  /** Streaming half of the embedding drift monitor: maintain the
    * (group, dim) quantized component sums continuously as ONE
    * Complete-mode aggregate — state is groups·dim rows of two longs
    * at any stream volume. The centroid division and corpus-centroid
    * comparison are a second aggregation level streams can't chain;
    * finish the sunk sums batch-side with [[driftReport]] (the
    * [[constraintGate]]/[[constraintReport]] split). */
  def driftSums(stream: DataFrame, groupCol: String, vecCol: String): DataFrame =
    graft.ext.Similarity.componentSums(stream, groupCol, vecCol)

  /** Batch-side finish of the sunk drift sums — bit-identical to
    * `Similarity.embeddingDrift` over the same data, which is the
    * oracle contract. */
  def driftReport(sunkSums: DataFrame, groupCol: String): DataFrame =
    graft.ext.Similarity.driftFromSums(sunkSums, groupCol)

  /** Streaming ANALYZE: maintain the per-column min/max/null-count/KMV
    * state continuously as ONE Complete-mode global aggregate — the
    * KMV UDAF folds each micro-batch into ≤ k sketch longs per column,
    * state = one wide row. Unpivot + estimate the sunk row batch-side
    * with [[analyzeReport]]; the result is bit-identical to a batch
    * `Sketches.analyzeColumns` over the same rows. */
  def analyzeGate(
      stream: DataFrame, cols: Seq[String],
      k: Int = 256, bits: Int = 44): DataFrame =
    // r13: repartition the micro-batch before the md5-per-value KMV
    // partial aggregate — a file-stream batch arrives with one
    // partition per file, so without this the CPU-heavy sketch fold of
    // a whole batch runs on one core (profiled ~3 s of the ~3.7 s
    // query at sf0.1). The KMV buffer is a merge-order-invariant
    // multiset reduction and min/max/sum are commutative, so the
    // partition count cannot change the sunk row.
    graft.ops.Sketches.analyzeWideState(
      stream.repartition(stream.sparkSession.sparkContext.defaultParallelism),
      cols, k, bits)

  def analyzeReport(
      sunkWide: DataFrame, cols: Seq[String],
      k: Int = 256, bits: Int = 44): DataFrame =
    graft.ops.Sketches.reportFromState(
      graft.ops.Sketches.unpivotState(sunkWide, cols), k, bits)

  def runToMemory(
      df: DataFrame,
      name: String,
      mode: OutputMode = OutputMode.Append(),
      shufflePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // state-store partitions are sized per query by the caller: the
    // default 8 is the measured local sweet spot, the stream-stream
    // joins pass 4 (a production deployment sizes them to throughput)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    try {
      // checkpoint/state store on the Scratch root (tmpfs-relocatable):
      // a stateful drain writes one state delta per partition per
      // micro-batch, the only disk term in the memory-sink path
      drain(df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    df.sparkSession.table(name)
  }
}
