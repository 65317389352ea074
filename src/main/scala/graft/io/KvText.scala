package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's wire/disk format: newline-delimited `key:value` text
  * (`w7/src/worker/workerimpl.cc:256,261`), split on the LAST colon when
  * read back (`rsplit(':')`, `w7/src/python/reduce.py:9`) — keys may
  * contain `:`, values must not. Output contract: exactly R files named
  * `out_<reducer_id>`, one per hash partition, written even when the
  * partition is empty (`w7/src/worker/workerimpl.cc:319-323`; the client
  * waits for ≥R blobs, `w7/client.sh:226-233`).
  */
object KvText {

  /** Encode (key, value) columns as `key:value` lines. */
  def encode(df: DataFrame, key: String, value: String): DataFrame =
    df.select(concat_ws(":", col(key).cast("string"), col(value).cast("string")).as("value"))

  /** Write a keyed DataFrame as R `out_<j>` text files, hash-partitioned
    * by key (≙ `hash(key) % R` at `w7/src/worker/workerimpl.cc:254`).
    * Empty partitions still yield an (empty) `out_<j>` file.
    * `prePartitioned = true` skips the repartition for input that
    * already carries the `hash(key) % r` partitioning (e.g.
    * `CustomJob.run` output, whose single reduce exchange is exactly
    * this partitioning) — re-shuffling it would be a redundant second
    * exchange of the reduced relation. */
  def write(df: DataFrame, key: String, value: String, path: String, r: Int,
      prePartitioned: Boolean = false): Unit = {
    val spark = df.sparkSession
    encode(if (prePartitioned) df else df.repartition(r, col(key)), key, value)
      .write
      .mode("overwrite")
      .text(path)
    // rename part-<j>-… to out_<j>; create empty files for absent
    // partitions. Resolve the FS from the path (not the default FS) so
    // hdfs://, s3a:// etc. targets work.
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
    parts.foreach { p =>
      val j = p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val dst = new Path(dir, s"out_$j")
      require(fs.rename(p, dst), s"KvText.write: rename $p -> $dst failed")
    }
    (0 until r).foreach { j =>
      val p = new Path(dir, s"out_$j")
      if (!fs.exists(p)) fs.create(p).close()
    }
  }

  /** Read `key:value` lines back into (key, value) — split on the LAST
    * colon via greedy regex (rsplit parity, `w7/src/python/reduce.py:9`).
    * A non-empty line without any colon is corrupt input and fails the
    * job (the reference reducer's rsplit unpacking would raise too)
    * instead of silently becoming an empty key/value row. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .text(path)
      .where(length(col("value")) > 0)
      .select(
        when(col("value").rlike("^.*:[^:]*$"), col("value"))
          .otherwise(raise_error(concat(lit("malformed key:value line: "), col("value"))))
          .as("value"))
      .select(
        regexp_extract(col("value"), "^(.*):([^:]*)$", 1).as("key"),
        regexp_extract(col("value"), "^(.*):([^:]*)$", 2).as("value"))
}
