package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Sources and sinks beyond parquet/KV-text: CSV and JSON line formats,
  * with the reference's "R output files" contract available on every
  * format (repartition to R, deterministic `out_<j>` names —
  * `w7/src/worker/workerimpl.cc:319-323`).
  */
object Sinks {

  /** `spark.read.parquet(paths: _*)` for relations the engine wrote
    * itself, without the one-task schema-inference job. Spark stores
    * the written schema as JSON under [[SparkSchemaKey]] in every
    * parquet footer, and inference reads exactly that key from one
    * file; here the first data file of each path (skipping `_*` and
    * `.*` entries, as Spark's listing does) is opened on the driver
    * and its schema handed to `spark.read.schema`. When a path has no
    * data file, a footer cannot be read or lacks the key, or the paths'
    * schemas disagree, this is plain inference, with its behaviour and
    * its errors. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map(p => footerSchema(conf, new Path(p))).distinct match {
      case Seq(Some(schema)) => spark.read.schema(schema).parquet(paths: _*)
      case _ => spark.read.parquet(paths: _*)
    }
  }

  private[graft] val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema in the footer of `path`'s first data file (or of
    * `path` itself when it is a file). */
  private def footerSchema(
      conf: org.apache.hadoop.conf.Configuration,
      path: Path): Option[StructType] = {
    val fs = path.getFileSystem(conf)
    val first =
      if (!fs.exists(path)) None
      else Some(fs.getFileStatus(path)).filter(_.isFile).orElse(fs.listStatus(path).toSeq
        .filter(st => st.isFile && !Seq("_", ".").exists(st.getPath.getName.startsWith))
        .sortBy(_.getPath.getName).headOption)
    // a footer that cannot be read or parsed leaves the error to inference
    first.flatMap(st => scala.util.Try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    }.toOption.flatten)
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }
  }

  /** Write with exactly R hash-partitioned output files named out_<j>. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      r: Int,
      keyCol: String,
      format: String = "parquet"): Unit = {
    val spark = df.sparkSession
    df.repartition(r, org.apache.spark.sql.functions.col(keyCol))
      .write.mode("overwrite").format(format).save(path)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).foreach { p =>
      val j = p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val ext = p.getName.dropWhile(_ != '.')
      val dst = new Path(dir, s"out_$j$ext")
      require(fs.rename(p, dst), s"writePartitioned: rename $p -> $dst failed")
    }
  }

  /** MERGE INTO semantics for copy-on-write snapshots — the refresh
    * step of an incremental corpus: `changes` carries upserts (new row
    * versions) and tombstones (`deletedCol` true), and the merged
    * snapshot is every base row whose key is untouched plus every
    * non-deleted change row. Exactly the Delta/Hudi copy-on-write
    * contract, expressed relationally so it runs on bare parquet.
    *
    * Scale shape: a CDC batch is small next to the snapshot, so the
    * change KEYS broadcast (`broadcastChanges`, default) and the base
    * side never shuffles — the anti join is a map-side probe per base
    * row, the union is free, and a keyed/bucketed base layout
    * (`writeBucketed`) carries its pruning straight through to the
    * rewritten snapshot. Set `broadcastChanges=false` for a
    * backfill-sized change set and both sides hash-shuffle on the key
    * instead — same result, AQE picks the join. */
  def mergeSnapshot(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      deletedCol: String,
      broadcastChanges: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, not}
    val keys = changes.select(keyCol)
    val untouched = base.join(
      if (broadcastChanges) broadcast(keys) else keys,
      Seq(keyCol), "left_anti")
    untouched.unionByName(
      changes.where(not(col(deletedCol))).drop(deletedCol))
  }

  /** Commit one version of a log-structured snapshot table — the
    * merge-on-read complement to `mergeSnapshot`'s copy-on-write: a
    * commit APPENDS its rows (upserts + tombstones) as the hive
    * partition directory `path/__v=<version>/` and never touches any
    * earlier version's files, so per-commit cost is O(batch) at any
    * table size — the same append-only discipline as
    * `Search.updateTextIndex`'s delta partitions. Version 0 is the
    * initial snapshot. A key appears at most once per version (caller
    * contract — a CDC batch is already key-deduplicated).
    *
    * The version lives in the DIRECTORY NAME, not row data: a read at
    * `asOf` prunes newer commits at file-LISTING time
    * (`PartitionFilters`), before any footer is opened — time travel
    * is metadata-only planning. */
  def writeVersion(
      changes: DataFrame,
      path: String,
      version: Long,
      deletedCol: String = "__deleted"): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(version >= 0, s"version must be >= 0: $version")
    val withFlag =
      if (changes.columns.contains(deletedCol))
        changes.withColumnRenamed(deletedCol, "__deleted")
      else changes.withColumn("__deleted", lit(false))
    withFlag.withColumn("__deleted", col("__deleted").cast("boolean"))
      .write.mode("errorifexists")
      .parquet(path.stripSuffix("/") + s"/__v=$version")
  }

  /** Versions currently committed under `path` (ascending) — one
    * directory listing, the same metadata read every planner pass
    * pays, after [[recoverSwap]] of the table's journal. After
    * `compactVersions` the minimum is the retention horizon: history
    * below it no longer exists. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    // a crashed publish (compactVersions) is rolled forward first
    recoverSwap(spark, journalBeside(path))
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("__v="))
      .map(_.stripPrefix("__v=").toLong).toSeq.sorted
  }

  /** Next free version number = 1 + max committed (0 for a fresh path). */
  def nextVersion(spark: SparkSession, path: String): Long =
    committedVersions(spark, path).foldLeft(-1L)(math.max) + 1L

  /** Reconstruct the snapshot as of `asOf`: of each key's row versions
    * with `__v <= asOf`, the LATEST wins; a winning tombstone deletes
    * the key (so a later re-insert revives it — last-writer-wins over
    * the full commit log, the Hudi/Delta merge-on-read read path).
    *
    * Scale shape: the version predicate prunes newer commit
    * directories during listing, then resolution is ONE key-partitioned
    * window over base ∪ surviving deltas — the read-side cost
    * merge-on-read deliberately accepts to make commits O(batch).
    * Serving layers that read far more often than they commit fold the
    * log down with `compactVersions` and pay the window over one base
    * + few deltas. */
  def readSnapshotAt(
      spark: SparkSession,
      path: String,
      asOf: Long,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, not, row_number}
    // fail LOUD below the retention horizon: after compactVersions the
    // oldest directory is a folded base, so a read at asOf < min would
    // silently resolve against zero commits (an empty "snapshot"), the
    // worst failure mode a retired-history read can have
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"readSnapshotAt: no committed versions under $path")
    require(asOf >= vs.min,
      s"readSnapshotAt($asOf): history before __v=${vs.min} was retired " +
        s"by compaction/vacuum — earliest readable snapshot is ${vs.min}")
    val all = spark.read.parquet(path)
      .where(col("__v").cast("long") <= asOf)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v").cast("long").desc)
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && not(col("__deleted")))
      .drop("__rn", "__v", "__deleted")
  }

  /** Write-audit-publish (the Iceberg-era production ingestion
    * pattern): the batch lands in a STAGING location
    * (`<path>.staging`), the [[graft.ops.Constraints]] gate audits what
    * was actually WRITTEN (not the plan that produced it — a re-read
    * catches writer bugs the logical plan can't), and only a
    * fully-clean report publishes staging to `path` through
    * [[swapCompacting]] (its crash contract, journal
    * [[journalBeside]]`(path)`). Any violation throws, leaving staging
    * in place for inspection and the published path untouched —
    * downstream readers can never observe a batch that failed its
    * contract.
    *
    * Returns the audit report (O(rules) rows — the one bounded
    * driver-side collect, the gate must be decided before the
    * publish). */
  def writeAudited(
      df: DataFrame,
      path: String,
      rowRules: Seq[(String, org.apache.spark.sql.Column)],
      uniqueKeys: Seq[(String, Seq[String])] = Nil,
      fdRules: Seq[(String, (Seq[String], Seq[String]))] = Nil): Seq[(String, Long)] = {
    val spark = df.sparkSession
    val journal = journalBeside(path)
    // a committed publish of an earlier staging must land before this
    // batch overwrites that staging
    recoverSwap(spark, journal)
    val staging = path.stripSuffix("/") + ".staging"
    df.write.mode("overwrite").parquet(staging)
    val report = graft.ops.Constraints
      .check(readParquet(spark, staging), rowRules, uniqueKeys, fdRules)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val bad = report.filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"audit failed, staging left for inspection at $staging: " +
          bad.map { case (n, v) => s"$n=$v" }.mkString(", "))
    swapCompacting(spark, journal, Seq(new Path(staging) -> new Path(path)), Nil)
    report
  }

  /** Full-history SCD-2 interval view of a versioned table (the
    * slowly-changing-dimension Type-2 shape warehouses build from CDC
    * logs): one row per committed key-version with its validity
    * interval `[eff_from, eff_to)` in commit units, `eff_to` null =
    * still current. A tombstone commit closes the prior interval and
    * contributes no row of its own; a revival opens a new one — the
    * complement of [[readSnapshotAt]]: that answers "what was true AT
    * v", this answers "when was each value true".
    *
    * Scale shape: one read of the commit log (`__v` comes from the
    * directory names — partition column, no data parse) and ONE
    * key-partitioned `lead` window — the same single-window budget as
    * the snapshot read; intervals per key = commits that touched it,
    * never corpus-scale fan-out. */
  def scd2History(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lead, not}
    recoverSwap(spark, journalBeside(path))
    val all = spark.read.parquet(path)
      .withColumn("eff_from", col("__v").cast("long"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("eff_from"))
    all.withColumn("eff_to", lead(col("eff_from"), 1).over(w))
      .where(not(col("__deleted")))
      .drop("__v", "__deleted")
  }

  /** Row-level CHANGE FEED between two versions of a versioned table
    * (Delta's `readChangeFeed` / Iceberg's changelog read, derived
    * from the commit log rather than stored): for every key whose
    * resolved state differs between `fromV` and `toV`, one row with
    * `change` ∈ insert / update / delete plus the old and new payload
    * columns (`old_<c>` / `new_<c>`, null on the absent side). A key
    * rewritten with an IDENTICAL payload emits nothing — the feed
    * reports state changes, not commit traffic — and a
    * delete-then-revive across the range collapses to what the
    * endpoints say (update if the payload moved, silence if it
    * round-tripped home).
    *
    * Scale shape: only keys TOUCHED by a commit in `(fromV, toV]` can
    * differ, so the log is first pruned to those keys with a LeftSemi
    * join (the touched-key scan itself reads only the delta
    * directories — `__v` is a partition column, pruned at listing
    * time). After the prune, both endpoint resolutions are
    * key-partitioned windows over ONE shared shuffle of the touched
    * keys' history, and the final full-outer join is between two
    * ≤|touched| relations on the same key — cost scales with the
    * change set and its history, never the table. */
  def snapshotDiff(
      spark: SparkSession,
      path: String,
      fromV: Long,
      toV: Long,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(0 <= fromV && fromV < toV, s"need 0 <= fromV < toV: $fromV/$toV")
    // same retention guard as readSnapshotAt: a diff FROM a retired
    // version would silently read an empty "old" side
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty && fromV >= vs.min,
      s"snapshotDiff($fromV, $toV): history before __v=${vs.headOption.getOrElse(-1L)} " +
        "was retired by compaction/vacuum")
    val log = spark.read.parquet(path)
      .withColumn("__v", col("__v").cast("long"))
      .where(col("__v") <= toV)
    val touched = log.where(col("__v") > fromV).select(keyCol).distinct()
    val hist = log.join(touched, Seq(keyCol), "left_semi")
    val payload = hist.columns.filterNot(
      c => c == keyCol || c == "__v" || c == "__deleted").toSeq
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v").desc)
    // the presence marker rides the resolved relation itself (a
    // literal true that the full-outer join nulls on the absent side),
    // so absence detection never depends on payload nullability
    def resolve(asOf: Long, side: String): DataFrame =
      hist.where(col("__v") <= asOf)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1 && not(col("__deleted")))
        .select(col(keyCol) +: lit(true).as(s"__${side}_here") +:
          payload.map(c => col(c).as(s"${side}_$c")): _*)
    val same = payload
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduce(_ && _)
    resolve(fromV, "old").join(resolve(toV, "new"), Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("__old_here").isNull, lit("insert"))
          .when(col("__new_here").isNull, lit("delete"))
          .otherwise(lit("update")))
      .where(col("change") =!= "update" || not(same))
      .drop("__old_here", "__new_here")
  }

  /** The one rewrite of an index artifact (text index build, update,
    * compaction and purge; ANN build and purge): each phase writes its
    * relations to their staged siblings ([[staged]], `<root>/<rel>.compacting`)
    * as concurrent jobs (guide §2.6), the `alongside` jobs beside the
    * first phase, and a later phase may read what an earlier one
    * staged. Then ONE journaled [[swapCompacting]] (the index form
    * below) moves every staged relation onto `<root>/<rel>` and drops
    * `drops`. A failed write or `alongside` job throws before the
    * publish and leaves the artifact as it was; its staged siblings are
    * overwritten by the next rewrite of the same relations, and
    * `recoverSwap(spark, root, rels)` — which callers run before they
    * read — clears those of `rels`. */
  def rewriteAndSwap(
      spark: SparkSession,
      root: String,
      drops: Seq[String] = Nil,
      alongside: Seq[() => Unit] = Nil)(phases: Seq[(String, () => DataFrame)]*): Unit = {
    for ((writes, i) <- phases.zipWithIndex)
      graft.util.Par.jobs((if (i == 0) alongside else Nil) ++ writes.map { case (rel, df) =>
        () => df().write.mode("overwrite").parquet(staged(root, rel))
      })
    swapCompacting(spark, root, phases.flatten.map(_._1), drops)
  }

  /** Where [[rewriteAndSwap]] stages relation `rel` of the artifact at
    * `root`. */
  private[graft] def staged(root: String, rel: String): String = s"$root/$rel.compacting"

  /** Swap staged `<rel>.compacting` directories into place — the index
    * case of the general [[swapCompacting]] below: each rel moves
    * `<root>/<rel>.compacting` onto `<root>/<rel>`, parking the base at
    * `<root>/<rel>.old`, then `extraDirs` (delta directories an index
    * rewrite also folds in) are dropped. The journal is
    * [[swapJournal]]`(root)`, holding one `rel <rel>` line per
    * relation. */
  def swapCompacting(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      extraDirs: Seq[String] = Nil): Unit =
    publish(fsOf(spark, new Path(root)), swapJournal(root),
      rels.map("rel " + _) ++ extraDirs.map("extra " + _))

  /** Publish complete replacements over live data — the one commit
    * protocol of every artifact rewrite in the engine (index rewrites,
    * `compactVersions`, `compact`, `writeAudited`, `mvMaintainApply`).
    * Each `(replacement, target)` move renames the replacement onto
    * the target, parking a live target at `<replacement>.old` first and
    * deleting the parked copy after; then every `drops` path is
    * deleted.
    *
    * Crash contract. Before the first rename, every replacement is
    * verified COMPLETE (its parquet `_SUCCESS` marker) and the moves
    * and drops are written to `journal`, ending with a COMMIT sentinel;
    * the journal is removed only after every rename and every drop. No
    * step ever holds the only copy of a target: between its two renames
    * the target name is briefly absent, but the parked old and the
    * complete new directory both exist. A crash anywhere inside the
    * window leaves the committed journal on disk, and [[recoverSwap]]
    * — which every writer calls on its journal FIRST, before it reads —
    * rolls the publish FORWARD to exactly the state it was committing.
    * A crash before the journal commits leaves every target as it was.
    * So after recovery a reader sees either the whole publish or none
    * of it, never a mix: without the journal, a crash between two moves
    * (say after postings, before term_df) or between a move and its
    * drops (a folded base installed beside the versions it replaces)
    * would leave a state that a naive re-run silently mis-repairs.
    *
    * One journal serves one artifact: publishes to different targets
    * in one parent directory must use different journals
    * ([[journalBeside]] names one per directory). */
  def swapCompacting(
      spark: SparkSession,
      journal: Path,
      moves: Seq[(Path, Path)],
      drops: Seq[Path]): Unit = {
    val named = moves.flatMap { case (from, to) => Seq(from, to) } ++ drops
    require(!named.exists(p => p.toString.exists(c => c == '\t' || c == '\n')),
      s"swapCompacting: a journalled path holds a tab or newline: ${named.mkString(", ")}")
    publish(fsOf(spark, journal), journal,
      moves.map { case (from, to) => s"move $from\t$to" } ++ drops.map("extra " + _))
  }

  /** The journal of a publish that rewrites directory `dir`:
    * `<dir>._swap_inprogress`, beside it, so it survives `dir` itself
    * being replaced and no two directories share one. */
  private[graft] def journalBeside(dir: String): Path =
    new Path(dir.stripSuffix("/") + "._swap_inprogress")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The journal of an index artifact's publishes. */
  private[graft] def swapJournal(root: String): Path =
    new Path(s"$root/_swap_inprogress")

  /** Last line of a fully-written swap journal; a journal missing it is
    * a torn write from a crash BEFORE any rename started. */
  private val JournalCommit = "commit"

  /** One publish step: rename the complete replacement `from` onto
    * `to`, parking a live `to` at `park` until `from` is in. */
  private final case class Move(from: Path, to: Path, park: Path)

  private def relMove(root: Path, rel: String): Move =
    Move(new Path(staged(root.toString, rel)), new Path(root, rel), new Path(root, s"$rel.old"))

  /** The moves and drops of journal lines: `move <from>\t<to>`,
    * `extra <dir>`, and `rel <rel>` (`<rel>.compacting` onto `<rel>`,
    * relative to the journal's directory); other lines (the sentinel, a
    * torn tail) carry none. */
  private def steps(journal: Path, lines: Seq[String]): (Seq[Move], Seq[Path]) = (
    lines.collect {
      case l if l.startsWith("rel ") => relMove(journal.getParent, l.stripPrefix("rel "))
      case l if l.startsWith("move ") && l.contains('\t') =>
        val (from, to) = l.stripPrefix("move ").span(_ != '\t')
        Move(new Path(from), new Path(to.tail), new Path(from + ".old"))
    },
    lines.collect { case l if l.startsWith("extra ") => new Path(l.stripPrefix("extra ")) })

  private def publish(fs: FileSystem, journal: Path, lines: Seq[String]): Unit = {
    require(!fs.exists(journal),
      s"swapCompacting: unrecovered interrupted swap at $journal — " +
        "call recoverSwap before starting a new rewrite")
    val (moves, drops) = steps(journal, lines)
    // verify EVERY replacement is complete before touching ANY target:
    // a half-written replacement must fail here, not get installed
    for (m <- moves)
      require(relComplete(fs, m.from),
        s"swapCompacting: ${m.from} looks incomplete (no _SUCCESS marker and " +
          "no data files) — refusing to install a possibly-truncated relation")
    // The journal itself must commit atomically: it ends with a COMMIT
    // sentinel, and recoverSwap treats a sentinel-less journal as "the
    // swap never began" (renames only start after this write returns,
    // so a torn manifest can only come from a crash mid-write — before
    // any target was touched).
    val out = fs.create(journal, true)
    try out.write((lines :+ JournalCommit).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    finish(fs, journal, moves, drops)
  }

  /** Every move, every drop, then the journal: the resumable tail of a
    * committed publish. */
  private def finish(fs: FileSystem, journal: Path, moves: Seq[Move], drops: Seq[Path]): Unit = {
    moves.foreach(moveOne(fs, _))
    drops.foreach(fs.delete(_, true))
    fs.delete(journal, false)
  }

  /** Is replacement dir `next` complete? Normally that's the
    * committer's `_SUCCESS` marker. Only when the deployment is
    * configured to never write one
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) do we
    * fall back to "directory holds at least one visible data file" —
    * with markers enabled, a data-but-no-marker directory is a
    * crashed write and must NOT be installed. */
  private def relComplete(fs: FileSystem, next: Path): Boolean = {
    if (fs.exists(new Path(next, "_SUCCESS"))) true
    else if (fs.getConf.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)) false
    else fs.exists(next) && fs.listStatus(next).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** One move's park/rename/drop, resumable from any crash point: a
    * missing replacement means this move already happened (only its
    * parked copy may remain to clear); target present + park present
    * means the crash fell between park and install. */
  private def moveOne(fs: FileSystem, m: Move): Unit = {
    if (fs.exists(m.from)) {
      if (fs.exists(m.to)) {
        if (fs.exists(m.park)) fs.delete(m.park, true)
        // Hadoop rename reports failure by RETURN VALUE, not exception —
        // an unchecked false here would silently corrupt the artifact
        require(fs.rename(m.to, m.park), s"swapCompacting: rename ${m.to} -> ${m.park} failed")
      }
      require(fs.rename(m.from, m.to), s"swapCompacting: rename ${m.from} -> ${m.to} failed")
    }
    require(fs.exists(m.to),
      s"swapCompacting: ${m.to} absent with no ${m.from} to install — corrupt artifact")
    if (fs.exists(m.park)) fs.delete(m.park, true)
  }

  /** Crash recovery for [[rewriteAndSwap]] — idempotent; every index
    * writer calls this before reading the index. It is the general
    * `recoverSwap(spark, journal)` of [[swapJournal]]`(root)`, plus a
    * clean-up when no journal commits a publish: any leftover
    * `.compacting`/`.old` siblings of `rels` are then from a crash
    * BEFORE the swap began — every base is still the pre-rewrite
    * original — so they are deleted (after restoring `.old` to base if
    * base is somehow absent) and the caller recomputes from a
    * consistent base. Returns true when an interrupted swap was
    * completed (the caller's rewrite is then already applied). */
  def recoverSwap(spark: SparkSession, root: String, rels: Seq[String]): Boolean =
    recover(fsOf(spark, new Path(root)), swapJournal(root), rels.map(relMove(new Path(root), _)))

  /** Crash recovery for [[swapCompacting]] — idempotent; every writer
    * calls it on its journal before it reads, and so does every reader
    * before it lists or reads (`committedVersions` and through it
    * `readSnapshotAt`/`snapshotDiff`, `scd2History`,
    * `Search.indexTopK`, `Similarity.readAnnIndex`). With a journal on
    * disk, the interrupted publish is rolled FORWARD: the journal is
    * only ever written after every replacement verified complete, so
    * finishing the remaining moves and drops reaches exactly the state
    * the crashed publish was committing. A journal MISSING its COMMIT
    * sentinel is a torn write from a crash before any rename — it is
    * discarded and nothing else changes (a leftover replacement is
    * overwritten by the writer's next run). Returns true when an
    * interrupted publish was completed.
    *
    * Single-writer assumption: an artifact has one writer at a time,
    * and its reads never overlap a write in progress. A reader that
    * ran beside a live publish would find its committed journal and
    * finish the publish under the writer; recovery is only safe once
    * the writer that owned the journal is gone. */
  def recoverSwap(spark: SparkSession, journal: Path): Boolean =
    recover(fsOf(spark, journal), journal, Nil)

  private def recover(fs: FileSystem, journal: Path, leftovers: Seq[Move]): Boolean =
    committed(fs, journal) match {
      case Some(lines) =>
        val (moves, drops) = steps(journal, lines)
        finish(fs, journal, moves, drops)
        true
      case None =>
        fs.delete(journal, false) // torn sentinel-less journal, if any
        for (m <- leftovers) {
          // If something (pre-journal crash, manual surgery) left the base
          // absent with `.old` holding the only copy, RESTORE it — deleting
          // `.old` here would destroy the relation.
          if (!fs.exists(m.to) && fs.exists(m.park))
            require(fs.rename(m.park, m.to), s"recoverSwap: restore ${m.park} -> ${m.to} failed")
          fs.delete(m.from, true)
          fs.delete(m.park, true)
        }
        false
    }

  /** The lines of the publish `journal` commits, if any. */
  private def committed(fs: FileSystem, journal: Path): Option[Seq[String]] =
    if (!fs.exists(journal)) None
    else {
      val in = fs.open(journal)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val lines = text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      // A journal without the trailing COMMIT sentinel is normally a
      // torn write: publish only starts renaming after the full
      // journal (incl. sentinel) is on disk, so no target was touched —
      // treat as no-journal. EXCEPT the legacy case: an index journal
      // written by the pre-sentinel build never carried the sentinel yet
      // WAS committed (that build too only journalled after every
      // `.compacting` verified complete). The two are distinguished by
      // RENAME PROGRESS on the journalled rels — in the torn case no
      // rename began, so every rel still has its base present, no
      // parked `.old`, and its `.compacting` untouched; any rel with
      // base absent or `.old` present, or every journalled `.compacting`
      // already gone, proves renames ran ⇒ legacy-committed ⇒ roll
      // FORWARD (the no-journal cleanup would restore `.old` on the
      // mid-rename rels while already-swapped rels keep the new
      // version — a mixed old/new set handed back as "swap never
      // began").
      if (lines.lastOption.contains(JournalCommit)) Some(lines.init)
      else {
        val jRels = lines.collect {
          case l if l.startsWith("rel ") => relMove(journal.getParent, l.stripPrefix("rel "))
        }
        // mid-swap states always leave corroborating siblings (`.old`
        // parked, or base absent WITH `.compacting` still pending) —
        // a bare "base absent" could be a garbage rel name on a torn
        // line and must not trigger a roll-forward; the all-installed
        // state additionally requires every base present so truncated
        // names can't fake completion
        val progressed = jRels.nonEmpty && (
          jRels.exists(m => fs.exists(m.park) || (!fs.exists(m.to) && fs.exists(m.from))) ||
            jRels.forall(m => !fs.exists(m.from) && fs.exists(m.to)))
        if (progressed) Some(lines) else None
      }
    }

  /** ROLLBACK as a new commit (Delta RESTORE / Iceberg rollback
    * semantics): make the table's head equal its snapshot at
    * `toVersion` by COMMITTING the reverse delta — never by deleting
    * history. Keys changed since `toVersion` get their old payload
    * reasserted; keys created since get a tombstone; unchanged keys
    * don't appear (the commit is O(|diff|), not O(table)). Because
    * restore is itself a commit, it composes with everything else in
    * the family: time travel still reads the PRE-restore states (the
    * bad-ingest forensics), the change feed of the restore commit is
    * exactly the inverse of what it undoes, and a later
    * `compactVersions` retires the detour like any other history.
    * This is the "undo the bad ingest" lever a 100 TB table needs at
    * 3 a.m. — rebuild-free, audit-preserving, O(damage)-sized.
    *
    * Returns the new head version. Restoring TO the current head
    * commits an empty delta (harmless, explicit). */
  def restoreVersion(
      spark: SparkSession,
      path: String,
      toVersion: Long,
      keyCol: String): Long = {
    import org.apache.spark.sql.functions._
    val head = nextVersion(spark, path) - 1
    require(head >= 0, s"restoreVersion: no committed versions under $path")
    require(toVersion <= head,
      s"restoreVersion($toVersion): head is $head — cannot restore forward")
    val v = head + 1
    if (toVersion == head) {
      writeVersion(spark.read.parquet(s"$path/__v=$head").limit(0)
        .drop("__deleted"), path, v)
      return v
    }
    val diff = snapshotDiff(spark, path, toVersion, head, keyCol)
    val payload = diff.columns
      .filter(_.startsWith("old_")).map(_.stripPrefix("old_")).toSeq
    val reassert = diff.where(col("change") =!= "insert")
      .select(col(keyCol) +:
        payload.map(c => col(s"old_$c").as(c)) :+
        lit(false).as("__deleted"): _*)
    val tomb = diff.where(col("change") === "insert")
      .select(col(keyCol) +:
        payload.map(c => col(s"new_$c").as(c)) :+
        lit(true).as("__deleted"): _*)
    writeVersion(reassert.unionByName(tomb), path, v)
    v
  }

  /** Incremental materialized-view maintenance for distributive
    * group aggregates (count + sum) from a [[snapshotDiff]] change
    * feed — the pattern that keeps a 100 TB table's rollups fresh
    * WITHOUT re-aggregating the table: each changed key contributes
    * its new value to its new group and retracts its old value from
    * its old group, so inserts (no old side), deletes (no new side),
    * in-place updates, and GROUP MOVES (retract there, add here) are
    * all the same two-sided rule. The per-group delta folds into the
    * stored view with a full-outer merge; groups whose count reaches
    * zero leave the view (a re-appearing group re-enters through the
    * add side) — maintained state is bit-equal to a recompute over
    * the resolved head, which is exactly what the oracle checks.
    *
    * Scale shape: the change feed is already pruned to touched keys
    * (snapshotDiff's LeftSemi discipline); the delta agg is
    * map-combined to O(changed groups) rows and the merge joins two
    * O(groups) relations — per-cycle cost scales with the CHANGES and
    * the view, never the table.
    *
    * Contracts: `mv` has columns (grpCol, n_rows, sum_val) — the shape
    * this function itself returns, so cycles chain; the group column
    * is non-null in table data; `oldVal`/`newVal` are the SAME value
    * expression over the feed's `old_`/`new_`-prefixed payload. */
  def maintainAggView(
      mv: DataFrame,
      changes: DataFrame,
      grpCol: String,
      oldVal: Column,
      newVal: Column): DataFrame = {
    import org.apache.spark.sql.functions._
    require(mv.columns.toSeq == Seq(grpCol, "n_rows", "sum_val"),
      s"mv must be ($grpCol, n_rows, sum_val), got ${mv.columns.toSeq}")
    val adds = changes.where(col("change") =!= "delete")
      .select(col(s"new_$grpCol").as(grpCol),
        lit(1L).as("dn"), newVal.cast("long").as("dv"))
    val subs = changes.where(col("change") =!= "insert")
      .select(col(s"old_$grpCol").as(grpCol),
        lit(-1L).as("dn"), (-oldVal.cast("long")).as("dv"))
    val delta = adds.unionByName(subs)
      .groupBy(col(grpCol))
      .agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
    mv.join(delta, Seq(grpCol), "full_outer")
      .select(col(grpCol),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
        (coalesce(col("sum_val"), lit(0L)) + coalesce(col("dv"), lit(0L))).as("sum_val"))
      .where(col("n_rows") > 0)
  }

  /** Fold commits 0..`upTo` into a single resolved base partition:
    * writes the materialized snapshot to a `<path>.compacting_v<upTo>`
    * sibling (outside the table: a `__v=…` name inside it would not be
    * hidden from partition discovery), then publishes it as
    * `__v=upTo` and drops `__v` directories below `upTo` in one
    * [[swapCompacting]] (its crash contract, journal
    * [[journalBeside]]`(path)`). Reads at any `asOf >= upTo` are
    * unchanged; history BEFORE `upTo` is retired — the retention trade
    * every log-structured table format makes — and a read below the
    * horizon fails loud (`readSnapshotAt`/`snapshotDiff` check the
    * listing), never returns an empty snapshot. */
  def compactVersions(
      spark: SparkSession,
      path: String,
      upTo: Long,
      keyCol: String): Unit = {
    import org.apache.spark.sql.functions.lit
    val journal = journalBeside(path)
    recoverSwap(spark, journal)
    val tmp = path.stripSuffix("/") + s".compacting_v$upTo"
    readSnapshotAt(spark, path, upTo, keyCol)
      .withColumn("__deleted", lit(false))
      .write.mode("overwrite").parquet(tmp)
    val root = new Path(path)
    swapCompacting(spark, journal, Seq(new Path(tmp) -> new Path(root, s"__v=$upTo")),
      committedVersions(spark, path).filter(_ < upTo).map(v => new Path(root, s"__v=$v")))
  }

  /** Persist a table bucketed (and sorted) by join/aggregation keys —
    * the layout a 100 TB deployment pre-materializes so repeated joins
    * and aggregations on those keys read co-located buckets and plan
    * ZERO shuffle exchanges (Spark reports the bucket spec as the
    * scan's output partitioning). `bucketBy` requires the session
    * catalog, so this writes a managed table under the warehouse dir
    * rather than a bare path; `BucketedJoinSpec` proves the
    * exchange-free plan. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      keyCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)

  /** Write hive-partitioned parquet (`path/col=value/…` directories) —
    * the directory layout that turns a predicate on the partition
    * column into LISTING-level pruning: a day filter over a
    * 100 TB/year events table reads 1/365th of the files, decided
    * before any footer is opened (`PartitionFilters` in the scan, vs
    * `PushedFilters` which still visits every file's stats). Partition
    * columns should be low-cardinality (directories are metadata). */
  def writeHivePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Compact a parquet directory to `targetFiles` files — the
    * small-file remedy: a streaming or per-batch ingest leaves
    * thousands of KB-sized files whose per-file open/footer/task cost
    * dominates scans; periodic compaction rewrites them into
    * scan-sized files. Round-robin repartition (no shuffle key needed
    * — data is reorganized, never changed), written to
    * `<path>.compacting` and published through [[swapCompacting]] (its
    * crash contract, journal [[journalBeside]]`(path)`). */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val journal = journalBeside(path)
    recoverSwap(spark, journal)
    val tmp = path.stripSuffix("/") + ".compacting"
    spark.read.parquet(path).repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp)
    swapCompacting(spark, journal, Seq(new Path(tmp) -> new Path(path)), Nil)
  }

  /** Morton (Z-order) interleave of two columns, each equal-width
    * bucketed into 2^`bitsPerCol` cells between its [lo, hi] bounds —
    * 2·bits codegen'd shift/mask ops, no UDF. Rows close in Z are
    * close in BOTH dimensions, so range-partitioning by Z gives every
    * output file a small (x, y) rectangle. */
  private[graft] def mortonCode(
      x: org.apache.spark.sql.Column, xLo: Double, xHi: Double,
      y: org.apache.spark.sql.Column, yLo: Double, yHi: Double,
      bitsPerCol: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bitsPerCol >= 1 && bitsPerCol <= 31, s"bitsPerCol out of range: $bitsPerCol")
    val cells = (1L << bitsPerCol) - 1
    def bucket(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      least(floor((c.cast("double") - lit(lo)) / lit((hi - lo) / (cells + 1))), lit(cells))
        .cast("long")
    val bx = bucket(x, xLo, xHi)
    val by = bucket(y, yLo, yHi)
    (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(bx, b).bitwiseAND(lit(1L)), 2 * b))
        .bitwiseOR(shiftleft(shiftright(by, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }
  }

  /** Write parquet Z-ordered on two numeric columns — the multi-
    * dimensional pruning layout (Delta's OPTIMIZE ZORDER shape): sort
    * by one column and a predicate on the OTHER column prunes nothing;
    * sort by the Morton interleave and every file covers a small
    * rectangle in BOTH dimensions, so parquet min/max stats prune 2-D
    * box predicates file- and row-group-level. One min/max pass fixes
    * the bucket bounds; one range shuffle orders by Z. At 100 TB this
    * is the difference between scanning everything and scanning the
    * handful of files a (key range × time range) query touches. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      files: Int): Unit = {
    import org.apache.spark.sql.functions._
    val mm = df.agg(
      min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double"))).head()
    val z = mortonCode(
      col(xCol), mm.getDouble(0), mm.getDouble(1),
      col(yCol), mm.getDouble(2), mm.getDouble(3))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Sharded training-data export: the corpus lands as `numShards`
    * hive `__shard=N` directories plus an on-disk manifest — the
    * layout a training loader consumes (shard = unit of shuffle-
    * buffer granularity and of resumable download). Shard assignment
    * is the engine-independent md5-60-bit uniform every sampling
    * query uses (`Sampling.md5Hash % numShards`) — deterministic
    * across runs/engines, uniform regardless of id clustering, and
    * source-interleaved for free (a hash ignores source order, so
    * every shard sees the full source mix — no sorted-corpus
    * monoculture shards). Cost: ONE shuffle on the shard id (uniform
    * by construction — no salt needed), one write; the manifest
    * re-reads only the written files column-pruned to the shard id +
    * size column. Callers size `numShards` so a shard is a few GB at
    * the target corpus. */
  def writeShards(
      df: DataFrame,
      path: String,
      idCol: String,
      numShards: Int,
      sizeExpr: Column): Unit = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    import org.apache.spark.sql.functions._
    val sharded = df.withColumn("__shard",
      pmod(graft.ext.Sampling.md5Hash(col(idCol)), lit(numShards.toLong)))
    sharded.repartition(numShards, col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(path + "/data")
    val manifest = df.sparkSession.read.parquet(path + "/data")
      .groupBy(col("__shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(sizeExpr).as("n_bytes"))
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "/manifest")
  }

  def readShardManifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path + "/manifest")

  def readShard(spark: SparkSession, path: String, shard: Long): DataFrame =
    // partition pruning on the hive directory — a loader fetching one
    // shard lists and reads ONLY that directory's files
    spark.read.parquet(path + "/data")
      .where(org.apache.spark.sql.functions.col("__shard") === shard)

  /** Schema-evolution append: batches whose column sets drift over
    * time land in ONE parquet table without rewrites — each append is
    * O(batch) and never touches earlier files (the reference fixes one
    * record schema per job binary; a corpus that accretes columns over
    * months needs the table to absorb that). Parquet is self-
    * describing per file, so an appended batch simply carries its own
    * schema; reconciliation is deferred to read time. Callers gate the
    * append with [[graft.ops.Constraints.schemaDrift]] so a RETYPED
    * column — the one drift parquet cannot reconcile — fails loud at
    * write time, not as a read-time merge error months later. */
  def appendEvolved(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Union-by-name read over every schema era: `mergeSchema` unions
    * the per-file footers (absent columns null-fill). Cost is one
    * metadata pass over FOOTERS — O(#files), distributed by Spark —
    * never the data bytes; at 100 TB the footer pass is bounded by
    * compaction keeping file count sane, and a caller that already
    * knows the target schema skips it entirely via
    * `spark.read.schema(known).parquet(path)` (per-file pushdown
    * still prunes columns each era actually stores). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC — the other columnar interchange format Spark ships a native
    * vectorized reader for; schema travels in the file (no inference
    * on read-back, unlike CSV/JSON). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
