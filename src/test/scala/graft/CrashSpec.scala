package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import ext.{Search, Similarity}

/** Local filesystem under the `crashfs://` scheme that simulates a
  * driver crash. Once armed with k, the k-th mutating call (a create,
  * a rename, a delete of a present path, a mkdirs of an absent one)
  * whose caller is engine code (`graft.*`) throws, and from then on so
  * does every mutating call from any thread, until disarmed. Calls made
  * by Spark's own write jobs are not counted: they only ever build a
  * replacement before its publish begins, and a crash there leaves the
  * live data as it was. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream =
    CrashFs.step(super.createOutputStreamWithMode(f, append, permission))
  override def rename(src: Path, dst: Path): Boolean = CrashFs.step(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (exists(p)) CrashFs.step(super.delete(p, recursive)) else super.delete(p, recursive)
  override def mkdirs(p: Path): Boolean =
    if (exists(p)) super.mkdirs(p) else CrashFs.step(super.mkdirs(p))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    if (exists(p)) super.mkdirs(p, permission) else CrashFs.step(super.mkdirs(p, permission))
}

object CrashFs {
  private var crashAt = 0 // 0 = disarmed
  private var calls = 0
  private var dead = false
  // a call made inside another (create's parent mkdirs, a rename's
  // fallback delete) is part of that one step
  private val inside = new ThreadLocal[Boolean] { override def initialValue = false }

  def arm(k: Int): Unit = synchronized { crashAt = k; calls = 0; dead = false }

  /** Disarms, and tells whether the crash happened. */
  def disarm(): Boolean = synchronized { val d = dead; crashAt = 0; dead = false; d }

  private[graft] def step[A](op: => A): A =
    if (inside.get) op
    else {
      inside.set(true)
      try { check(); op } finally inside.set(false)
    }

  private def check(): Unit = synchronized {
    if (dead) throw new java.io.IOException("crashfs: the process has crashed")
    if (crashAt > 0 && engineCaller) {
      calls += 1
      if (calls == crashAt) {
        dead = true
        throw new java.io.IOException(s"crashfs: crash at mutating call $crashAt")
      }
    }
  }

  private def engineCaller: Boolean =
    Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
      .find(c => !Seq("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.", "graft.CrashFs")
        .exists(c.startsWith))
      .exists(_.startsWith("graft."))
}

/** Every artifact writer that publishes through the journaled
  * `Sinks.swapCompacting`, crashed at each of its counted mutating
  * calls: after the entry point's recovery a reader sees exactly the
  * state before or after the write, and the next run completes it. */
class CrashSpec extends SparkSpec {
  import spark.implicits._

  /** Registers `crashfs://` for `body`. */
  private def withCrashFs[A](body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashfs.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.crashfs.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.crashfs.impl")
      conf.unset("fs.crashfs.impl.disable.cache")
    }
  }

  /** Runs `op` on a fresh copy of the fixture `make` builds, crashing
    * it at counted call k = 1, 2, … until a run completes. After each
    * crash: `recover`, then `read` must be the before- or the
    * after-state, and `op` again must complete to the after-state.
    * `read` must collect. Returns the number of crash points. */
  private def crashAtEveryStep[R](make: String => Unit)(op: String => Unit)(
      recover: String => Unit)(read: String => R): Int = withCrashFs {
    withTempDir("crashfs") { tmp =>
      make(s"crashfs://$tmp/pristine")
      def fresh(name: String): String = {
        FileUtils.copyDirectory(new File(s"$tmp/pristine"), new File(s"$tmp/$name"))
        s"crashfs://$tmp/$name"
      }
      val before = read(fresh("before"))
      val after = { val d = fresh("after"); op(d); read(d) }
      assert(before != after, "the reader must tell the two states apart")
      var k = 0
      var completed = false
      while (!completed) {
        k += 1
        assert(k < 100, "the writer never completed")
        val d = fresh(s"k$k")
        CrashFs.arm(k)
        val run = scala.util.Try(op(d))
        val crashed = CrashFs.disarm()
        if (!crashed) {
          run.get
          assert(read(d) == after, s"k=$k: completed run")
          completed = true
        } else {
          recover(d)
          val seen = read(d)
          assert(seen == before || seen == after,
            s"k=$k: after recovery the reader sees $seen, neither $before nor $after")
          op(d)
          assert(read(d) == after, s"k=$k: the next run")
        }
        graft.util.Scratch.delete(s"$tmp/k$k")
      }
      k - 1
    }
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def recoverBeside(d: String): Unit = io.Sinks.recoverSwap(spark, io.Sinks.journalBeside(d))

  // counted calls of one publish: the journal's create and delete, and
  // per move the park rename, the install rename and the parked copy's
  // delete (the park steps only when the target exists), plus one
  // delete per drop

  test("writeAudited: every crash point leaves the old table or the new one") {
    val points = crashAtEveryStep(
      d => Seq((1L, "old")).toDF("id", "s").write.parquet(s"$d/tbl"))(
      d => io.Sinks.writeAudited(Seq((1L, "new"), (2L, "new")).toDF("id", "s"), s"$d/tbl",
        rowRules = Seq("s_not_null" -> col("s").isNull),
        uniqueKeys = Seq("id_unique" -> Seq("id"))))(
      d => recoverBeside(s"$d/tbl"))(
      d => rows(spark.read.parquet(s"$d/tbl")))
    assert(points == 5)
  }

  test("two publishes in one parent directory keep separate journals") {
    withCrashFs {
      withTempDir("crashfs") { tmp =>
        val (a, b) = (s"crashfs://$tmp/a", s"crashfs://$tmp/b")
        def publish(dst: String, v: String): Unit =
          io.Sinks.writeAudited(Seq((1L, v)).toDF("id", "s"), dst, Seq("s_null" -> col("s").isNull))
        publish(a, "a0")
        // crash a's second publish between parking a and installing it
        CrashFs.arm(3)
        intercept[Exception](publish(a, "a1"))
        assert(CrashFs.disarm())
        val aJournal = new File(s"$tmp/a._swap_inprogress")
        assert(aJournal.exists() && !new File(s"$tmp/a").exists())
        // b publishes beside it without tripping over a's journal
        publish(b, "b0")
        assert(rows(spark.read.parquet(b)) == Set(Seq(1L, "b0")))
        assert(aJournal.exists())
        // and a's recovery installs exactly a's staged batch
        assert(io.Sinks.recoverSwap(spark, io.Sinks.journalBeside(a)))
        assert(rows(spark.read.parquet(a)) == Set(Seq(1L, "a1")))
      }
    }
  }

  test("compact: every crash point leaves the table readable with the same rows") {
    val points = crashAtEveryStep(
      d => spark.range(0, 200).select(col("id"), (col("id") % 7).as("g"))
        .repartition(8).write.parquet(s"$d/tbl"))(
      d => io.Sinks.compact(spark, s"$d/tbl", targetFiles = 2))(
      d => recoverBeside(s"$d/tbl"))(
      d => (rows(spark.read.parquet(s"$d/tbl")),
        new File(new java.net.URI(s"$d/tbl").getPath).list().count(_.endsWith(".parquet"))))
    assert(points == 5)
  }

  /** The compactVersions case; `recover` runs after each crash. */
  private def compactVersionsPoints(recover: String => Unit): Int =
    crashAtEveryStep { d =>
      val t = s"$d/tbl"
      io.Sinks.writeVersion(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), t, 0)
      io.Sinks.writeVersion(Seq((1L, "a1", false), (2L, "", true)).toDF("k", "s", "__deleted"), t, 1)
      // a tombstone at the horizon: a folded base installed beside the
      // versions it replaces would revive key 1 from v1
      io.Sinks.writeVersion(Seq((2L, "b2", false), (4L, "d", false), (1L, "", true))
        .toDF("k", "s", "__deleted"), t, 2)
      io.Sinks.writeVersion(Seq((3L, "", true)).toDF("k", "s", "__deleted"), t, 3)
    }(d => io.Sinks.compactVersions(spark, s"$d/tbl", upTo = 2, keyCol = "k"))(recover) { d =>
      val t = s"$d/tbl"
      (io.Sinks.committedVersions(spark, t),
        Seq(2L, 3L).map(v => rows(io.Sinks.readSnapshotAt(spark, t, v, "k"))))
    }

  test("compactVersions: every crash point leaves the commit log or its folded form") {
    // two versions below the horizon dropped
    assert(compactVersionsPoints(d => recoverBeside(s"$d/tbl")) == 7)
  }

  test("compactVersions: with no explicit recovery, the readers roll the crashed publish forward") {
    // without it, a folded base installed beside the versions it
    // replaces revives key 1 at readSnapshotAt(2)
    assert(compactVersionsPoints(_ => ()) == 7)
  }

  test("mvMaintainApply: every crash point leaves a view that the re-sent batch brings to the head") {
    def trigger(d: String, batch: Seq[(Long, String, Long, Boolean)]): Unit =
      streaming.StreamOps.mvMaintainApply(
        streaming.StreamOps.stagedStream(Seq(batch.toDF("k", "grp", "v", "__deleted"))),
        s"$d/tbl", s"$d/mv", "k", "grp", oldVal = col("old_v"), newVal = col("new_v"))
    val points = crashAtEveryStep { d =>
      io.Sinks.writeVersion(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "grp", "v"), s"$d/tbl", 0)
      io.Sinks.readSnapshotAt(spark, s"$d/tbl", 0, "k")
        .groupBy("grp").agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
        .write.parquet(s"$d/mv")
      // one good trigger, so the view records the version it reflects
      trigger(d, Seq((3L, "b", 31L, false)))
    }(trigger(_, Seq((2L, "b", 25L, false), (4L, "c", 7L, false), (1L, "a", 0L, true))))(
      d => recoverBeside(s"$d/mv"))(
      d => rows(spark.read.parquet(s"$d/mv")))
    // the view's version marker, then one publish
    assert(points == 6)
  }

  private def textIndex(d: String): Unit = {
    val docs = io.Tables(spark, sf, "documents")
    Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", d)
    Search.updateTextIndex(spark, d, docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "doc_id", "text")
  }

  private val textRels = Seq("postings", "term_df", "meta")

  /** What the index serves, and whether deltas are still apart. */
  private def served(d: String) = (
    Seq(Search.defaultTerms, Seq("table", "merge")).map(terms =>
      Search.indexTopK(spark, d, terms, 25).collect().map(_.toSeq).toSeq),
    textRels.map(Search.deltaDirs(spark, d, _).size))

  test("compactTextIndex: every crash point serves the same answers from one consistent index") {
    val points = crashAtEveryStep(textIndex)(Search.compactTextIndex(spark, _))(
      io.Sinks.recoverSwap(spark, _, textRels))(served)
    // three moves and three delta drops
    assert(points == 14)
  }

  private def purgeTextPoints(recover: String => Unit): Int = {
    val del = io.Tables(spark, sf, "documents")
      .where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id")
    crashAtEveryStep(textIndex)(Search.purgeTextIndex(spark, _, del, "doc_id"))(recover)(served)
  }

  test("purgeTextIndex: every crash point serves from the index before or after the purge") {
    assert(purgeTextPoints(io.Sinks.recoverSwap(spark, _, textRels)) == 14)
  }

  test("purgeTextIndex: with no explicit recovery, indexTopK serves from the index before or after the purge") {
    assert(purgeTextPoints(_ => ()) == 14)
  }

  test("updateTextIndex: every crash point serves the index without or with the whole new generation") {
    val docs = io.Tables(spark, sf, "documents")
    val points = crashAtEveryStep(
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", _))(
      // an ingest re-sends a batch only when its generation is not in
      // the index: a re-sent update would fold it in twice
      d => if (Search.deltaDirs(spark, d, "postings").isEmpty)
        Search.updateTextIndex(spark, d, docs.where(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text"))(
      io.Sinks.recoverSwap(spark, _, textRels))(served)
    // three moves onto absent targets: the journal's create, three
    // renames, the journal's delete
    assert(points == 5)
  }

  test("updateTextIndex: a refused term_df write publishes nothing, and a retry completes") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.refusedf.impl", classOf[RefuseTermDfFs].getName)
    conf.setBoolean("fs.refusedf.impl.disable.cache", true)
    val docs = io.Tables(spark, sf, "documents")
    val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    try withTempDir("refusedf") { tmp =>
      val (p, full) = (s"refusedf://$tmp/p", s"$tmp/full")
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", p)
      Search.writeTextIndex(docs, "doc_id", "text", full)
      val before = served(p)
      RefuseTermDfFs.refusing = true
      try intercept[Exception](Search.updateTextIndex(spark, p, batch, "doc_id", "text"))
      finally RefuseTermDfFs.refusing = false
      // the postings and meta written beside the refused term_df are
      // not served
      assert(served(p) == before)
      Search.updateTextIndex(spark, p, batch, "doc_id", "text")
      assert(served(p) == ((served(full)._1, Seq(1, 1, 1))))
    } finally {
      conf.unset("fs.refusedf.impl")
      conf.unset("fs.refusedf.impl.disable.cache")
    }
  }

  private def purgeAnnPoints(recover: String => Unit): Int = {
    val emb = io.Tables(spark, sf, "embeddings")
    val del = pmod(col("vec_id"), lit(37)) === 3
    crashAtEveryStep(
      d => Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), d))(
      Similarity.purgeAnnIndex(spark, _, emb.where(del).select("vec_id"), "vec_id"))(
      recover) { d =>
      val index = Similarity.readAnnIndex(spark, d)
      (rows(index.lists), Similarity.probeIndex(index, emb.where(!del), "vec_id", "embedding",
        probeFilter = col("vec_id") < 10, k = 10).collect().map(_.toSeq).toSet)
    }
  }

  test("purgeAnnIndex: every crash point serves from the index before or after the purge") {
    // two moves, no drops
    assert(purgeAnnPoints(io.Sinks.recoverSwap(spark, _, Seq("lists", "codes"))) == 8)
  }

  test("purgeAnnIndex: with no explicit recovery, readAnnIndex serves from the index before or after the purge") {
    assert(purgeAnnPoints(_ => ()) == 8)
  }

  test("updateAnnIndex after a purge crashed at any point, with no explicit recovery, keeps every listed id's codes and serves the batch") {
    val emb = io.Tables(spark, sf, "embeddings")
    val inBatch = pmod(col("vec_id"), lit(7)) === 0
    val del = pmod(col("vec_id"), lit(37)) === 3 && !inBatch
    val batchIds = rows(emb.where(inBatch).select("vec_id"))
    def update(d: String): Unit =
      Similarity.updateAnnIndex(spark, d, emb.where(inBatch), "vec_id", "embedding")
    def served(d: String) = {
      val index = Similarity.readAnnIndex(spark, d)
      val listed = rows(index.lists.select("vec_id"))
      assert(listed == rows(index.codes.select("vec_id").distinct()),
        s"$d: an id is listed without its codes, or coded without a list")
      assert(batchIds.subsetOf(listed), s"$d: the batch is not listed")
      val found = Similarity.probeIndex(index, emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 20, k = 10)
      assert(rows(found.select("vec_id")).exists(batchIds), s"$d: no probe finds a batch vector")
      (listed, rows(found))
    }
    val points = withCrashFs(withTempDir("crashfs") { tmp =>
      Similarity.writeAnnIndex(
        Similarity.annIndex(emb.where(!inBatch), "vec_id", "embedding"), s"crashfs://$tmp/pristine")
      def fresh(name: String): String = {
        FileUtils.copyDirectory(new File(s"$tmp/pristine"), new File(s"$tmp/$name"))
        s"crashfs://$tmp/$name"
      }
      def purge(d: String): Unit =
        Similarity.purgeAnnIndex(spark, d, emb.where(del).select("vec_id"), "vec_id")
      val unpurged = { val d = fresh("unpurged"); update(d); served(d) }
      val purged = { val d = fresh("purged"); purge(d); update(d); served(d) }
      assert(purged != unpurged, "the reader must tell the two states apart")
      var k = 0
      var completed = false
      while (!completed) {
        k += 1
        assert(k < 100, "the purge never completed")
        val d = fresh(s"k$k")
        CrashFs.arm(k)
        scala.util.Try(purge(d))
        completed = !CrashFs.disarm()
        update(d)
        val seen = served(d)
        assert(seen == purged || seen == unpurged, s"k=$k: the update serves neither state")
        graft.util.Scratch.delete(s"$tmp/k$k")
      }
      k - 1
    })
    assert(points == 8)
  }

  test("writeAnnIndex: a rebuild over a live index, crashed at every point, serves the old index or the new one") {
    val emb = io.Tables(spark, sf, "embeddings")
    val before = Similarity.annIndex(emb.where(pmod(col("vec_id"), lit(3)) =!= 0), "vec_id", "embedding")
    val after = Similarity.annIndex(emb, "vec_id", "embedding")
    val points = crashAtEveryStep(Similarity.writeAnnIndex(before, _))(
      Similarity.writeAnnIndex(after, _))(_ => ()) { d =>
      val index = Similarity.readAnnIndex(spark, d)
      Seq(index.coarse, index.lists, index.book, index.codes).map(rows)
    }
    // four moves onto live targets, no drops
    assert(points == 14)
  }
}

/** Local filesystem under the `refusedf://` scheme that, while
  * `RefuseTermDfFs.refusing` is set, throws on every create and mkdirs
  * of a path naming a `term_df` directory. */
class RefuseTermDfFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusedf:///")
  override def getScheme: String = "refusedf"
  private def check(p: Path): Unit =
    if (RefuseTermDfFs.refusing && p.toString.contains("/term_df"))
      throw new java.io.IOException(s"refusedf: refusing to write $p")
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    check(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def mkdirs(p: Path): Boolean = { check(p); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    check(p)
    super.mkdirs(p, permission)
  }
}

object RefuseTermDfFs {
  @volatile var refusing = false
}
