package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import ext.{Search, Similarity}
import io.Sinks

/** The engine reads its own index relations from the Spark schema in
  * their parquet footers: same schema and rows as inference, no
  * inference job, and inference itself wherever the footer cannot
  * answer. */
class IndexReadSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Same schema (nullability included) and rows as inference, and
    * `jobs` jobs to build the DataFrame: none from the footer, one when
    * it falls back to inference. */
  private def assertLikeInference(jobs: Int)(paths: String*): Unit = {
    val (read, ran) = jobsOf(Sinks.readParquet(spark, paths: _*))
    val inferred = spark.read.parquet(paths: _*)
    assert(read.schema == inferred.schema, paths.mkString(","))
    assert(rows(read) == rows(inferred), paths.mkString(","))
    assert(ran == jobs, s"${paths.mkString(",")}: $ran jobs")
  }

  private def footerKey(file: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try Option(r.getFileMetaData.getKeyValueMetaData.get(Sinks.SparkSchemaKey))
    finally r.close()
  }

  test("footer read equals inference on all seven index relations, text deltas included") {
    withTempDir("idxread") { tmp =>
      val txt = s"$tmp/txt"
      val ann = s"$tmp/ann"
      val docs = io.Tables(spark, sf, "documents")
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", txt)
      Search.updateTextIndex(spark, txt,
        docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      val emb = io.Tables(spark, sf, "embeddings")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), ann)
      for (rel <- Seq("postings", "term_df", "meta")) {
        val deltas = Search.deltaDirs(spark, txt, rel)
        assert(deltas.nonEmpty, rel)
        assertLikeInference(0)(s"$txt/$rel" +: deltas: _*)
      }
      for (rel <- Seq("coarse", "lists", "book", "codes"))
        assertLikeInference(0)(s"$ann/$rel")
    }
  }

  test("purges and updates write one schema per text relation: base and deltas read from the footer") {
    withTempDir("idxread_mix") { tmp =>
      val docs = io.Tables(spark, sf, "documents")
      def slice(m: Int) = docs.where(pmod(col("doc_id"), lit(5)) === m)
      def update(p: String, m: Int): Unit = Search.updateTextIndex(spark, p, slice(m), "doc_id", "text")
      def purge(p: String): Unit = Search.purgeTextIndex(spark, p,
        docs.where(pmod(col("doc_id"), lit(37)) === 3).select("doc_id"), "doc_id")
      def build(p: String): Unit =
        Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) > 1), "doc_id", "text", p)
      // build → purge → update
      val a = s"$tmp/a"
      build(a); purge(a); update(a, 0)
      // build → update → purge → update
      val b = s"$tmp/b"
      build(b); update(b, 0); purge(b); update(b, 1)
      for (p <- Seq(a, b); rel <- Seq("postings", "term_df", "meta")) {
        val deltas = Search.deltaDirs(spark, p, rel)
        assert(deltas.size == 1, s"$p $rel")
        assertLikeInference(0)(s"$p/$rel" +: deltas: _*)
      }
    }
  }

  test("footer read falls back to inference: missing dir, footer without the Spark key, mismatched schemas") {
    withTempDir("idxread_fb") { tmp =>
      val missing = s"$tmp/missing"
      val inferredErr = intercept[Exception](spark.read.parquet(missing))
      val readErr = intercept[Exception](Sinks.readParquet(spark, missing))
      assert(readErr.getClass == inferredErr.getClass)
      // the generator writes the sf tables without the Spark key
      val table = s"$sf/documents.parquet"
      assert(footerKey(table).isEmpty)
      assertLikeInference(1)(table)
      Seq((1L, 2L)).toDF("id", "v").write.parquet(s"$tmp/a")
      Seq((3L, "x")).toDF("id", "w").write.parquet(s"$tmp/b")
      assertLikeInference(1)(s"$tmp/a", s"$tmp/b")
    }
  }

  test("building indexTopK's DataFrame and readAnnIndex schedule no Spark job") {
    withTempDir("idxread_jobs") { tmp =>
      val txt = s"$tmp/txt"
      val ann = s"$tmp/ann"
      val docs = io.Tables(spark, sf, "documents")
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", txt)
      Search.updateTextIndex(spark, txt,
        docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      Similarity.writeAnnIndex(Similarity.annIndex(
        io.Tables(spark, sf, "embeddings"), "vec_id", "embedding"), ann)
      val (_, topkJobs) = jobsOf(Search.indexTopK(spark, txt, Search.defaultTerms, 10))
      assert(topkJobs == 0)
      val (_, annJobs) = jobsOf(Similarity.readAnnIndex(spark, ann))
      assert(annJobs == 0)
    }
  }
}
