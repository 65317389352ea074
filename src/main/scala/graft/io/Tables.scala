package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Source layer: a "container" in the reference is a directory of blobs
  * (`w7/src/master/dbconn.h:107-113`); here a dataset is a directory of
  * parquet (or text) files. Spark's FileSourceScanExec does the blob
  * listing + byte-range sharding the reference hand-rolled
  * (`DBConnection::make_shards`, `w7/src/master/dbconn.h:66-104`).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one named parquet table from a scale-factor directory.
    *
    * Some generator versions write `events.ts` as parquet
    * TIMESTAMP(NANOS), which Spark 4 refuses to read as a timestamp
    * unless `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * `GraftSession.local` at construction — never mutated here: the
    * conf is consulted again at execution time when footers are
    * re-read per file, so a scoped set-then-restore would break the
    * action, and an unscoped set races in a shared session). When the
    * flag is on, nanos arrive as Long and are truncated to
    * microseconds with integer division (`div`, not `/` — double
    * division would lose precision above 2^53). Newer generators
    * write plain TIMESTAMP(MICROS), which needs no fix-up under
    * either flag value. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val raw =
        try read(spark, dir, name)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage != null && e.getMessage.toLowerCase.contains("nanos") =>
            throw new IllegalStateException(
              "events.parquet uses TIMESTAMP(NANOS); set " +
                "spark.sql.legacy.parquet.nanosAsLong=true at session " +
                "construction (GraftSession.local does) so Tables can " +
                "truncate it to microseconds", e)
        }
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw
      }
    } else {
      read(spark, dir, name)
    }

  // the ANALYZE pass is memoized ACROSS sessions — the bench recycles
  // ~60 SparkContexts and must not pay a stats rescan in each; only
  // the metadata-sized catalog install repeats. The entry carries a
  // directory-contents signature (file count + total bytes + max
  // mtime) so a rewritten parquet dir re-ANALYZEs instead of pricing
  // plans with stale row counts/NDVs; the signature is one O(files)
  // metadata listing, paid only on the once-per-session install path.
  // Keyed by (dir, table) with the signature INSIDE the value — a
  // stale signature's entry is REPLACED, not accumulated, so a
  // long-lived JVM rewriting table dirs holds one entry per table,
  // not one per rewrite.
  private val statsMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String), (String, org.apache.spark.sql.catalyst.catalog.CatalogStatistics)]

  private def dirSignature(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val files = fs.listStatus(p).filter(_.isFile)
      s"${files.length}:${files.map(_.getLen).sum}:" +
        s"${if (files.isEmpty) 0L else files.map(_.getModificationTime).max}"
    }
  }

  /** CBO feed (SURVEY §9 / round-11 verdict ask #4): every table read is
    * served through a CATALOG table carrying the engine's own one-pass
    * ANALYZE output (`Sketches.computeCatalogStats` →
    * `CatalogStatistics`), so all suite plans price joins/filters with
    * real row counts, NDVs, and min/max instead of raw file sizes — the
    * broadcast-flip and join-reorder decisions `CboSpec` pins, now
    * suite-wide. Measured correctness-neutral 228/228, plan-neutral at
    * sf0.01 and cost-neutral at sf0.1 (SURVEY §9). */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val tbl = s"graft_$name"
    val marker = s"graft.cbo.registered.$tbl"
    if (!spark.conf.getOption(marker).contains(dir)) synchronized {
      if (!spark.conf.getOption(marker).contains(dir)) {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.catalog.createTable(tbl, "parquet",
          Map("path" -> s"$dir/$name.parquet"))
        // integral columns only — the one-pass ANALYZE contract
        val integral = spark.table(tbl).schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.ShortType => f.name
        }.toSeq
        val sig = dirSignature(spark, s"$dir/$name.parquet")
        val stats = statsMemo.get((dir, name)) match {
          case Some((s, st)) if s == sig => st
          case _ =>
            val st = graft.ops.Sketches.computeCatalogStats(spark.table(tbl), integral)
            statsMemo.put((dir, name), (sig, st))
            st
        }
        org.apache.spark.sql.GraftBridge.alterTableStats(spark, tbl, Some(stats))
        spark.conf.set(marker, dir)
      }
    }
    spark.table(tbl)
  }

  /** Load a text "container": one row per line, column `value`.
    * Equivalent of the reference's blob-container input
    * (`w7/client.sh:162-168`); Spark's line reader replaces
    * `fix_word_boundary` (`w7/src/worker/worker.h:196-232`). */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Register every table as a temp view for spark.sql use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
