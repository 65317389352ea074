package graft

import org.apache.spark.sql.functions._

import ext.{Search, Similarity}

/** Right-to-be-forgotten laws: purging a persisted index must equal a
  * rebuild on the retained corpus — stats included — without reading
  * the corpus, and the ANN purge must never touch the pinned
  * quantizers. Each law holds on the driver-side path (delete ids and
  * the deleted sliver read once, decrements on the driver) and on the
  * distributed one, and at the bound that switches between them. */
class PurgeSpec extends SparkSpec {
  import spark.implicits._

  private def served(path: String, terms: Seq[String]) =
    Search.indexTopK(spark, path, terms, 25)
      .orderBy(desc("score"), col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq

  private val delText = pmod(col("doc_id"), lit(37)) === 3

  /** The three text-index relations' rows. */
  private def textRels(path: String) = (
    spark.read.parquet(s"$path/postings")
      .select(col("term"), col("id"), col("dl"), col("tf"))
      .as[(String, Long, Long, Long)].collect().toSet,
    spark.read.parquet(s"$path/term_df")
      .select(col("term"), col("df"))
      .orderBy("term").as[(String, Long)].collect().toSeq,
    spark.read.parquet(s"$path/meta")
      .select(col("n_docs"), col("sum_dl"))
      .as[(Long, Long)].collect().toSeq)

  /** Build 80% + fold in 20% so the purge also has DELTAS to subtract
    * from — the production shape (ingest fold-ins accumulate between
    * purges) — then purge `delText`. */
  private def purgedText(p: String): Unit = {
    val docs = io.Tables(spark, sf, "documents")
    Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text", p)
    Search.updateTextIndex(spark, p,
      docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
    Search.purgeTextIndex(spark, p, docs.where(delText).select("doc_id"), "doc_id")
    // a purge is also a compaction: no delta dirs may survive it
    for (rel <- Seq("postings", "term_df", "meta"))
      assert(Search.deltaDirs(spark, p, rel).isEmpty, rel)
  }

  private def rebuiltText(pRef: String): Unit =
    Search.writeTextIndex(io.Tables(spark, sf, "documents").where(!delText),
      "doc_id", "text", pRef)

  test("purgeTextIndex equals a rebuild on the retained corpus (relations AND serving), folding deltas") {
    withTempDir("txtpurge_spec") { p => withTempDir("txtpurge_ref") { pRef =>
      purgedText(p)
      rebuiltText(pRef)
      // all three relations equal the rebuild's, row for row
      assert(textRels(p) == textRels(pRef))
      // and serving is bit-identical — idf/length-norm read the purged
      // stats, not just the purged postings
      for (terms <- Seq(Search.defaultTerms, Seq("table", "merge")))
        assert(served(p, terms) == served(pRef, terms), s"terms=$terms")
    }}
  }

  test("purgeTextIndex writes the rebuild's relations on both paths and at the sliver bound -1/=/+1") {
    withTempDir("txtpurge_ref") { pRef =>
      rebuiltText(pRef)
      val expected = textRels(pRef)
      // the deleted docs' postings sliver, and its delete ids
      val sliver = withTempDir("txtpurge_sliver") { s =>
        Search.writeTextIndex(io.Tables(spark, sf, "documents").where(delText),
          "doc_id", "text", s)
        spark.read.parquet(s"$s/postings").count()
      }
      val ids = io.Tables(spark, sf, "documents").where(delText).count()
      assert(ids > 0 && sliver > ids + 1, s"ids=$ids sliver=$sliver")
      val schemas = for (bound <- Seq(None, Some(0L), Some(sliver - 1), Some(sliver), Some(sliver + 1)))
        yield withTempDir("txtpurge_spec") { p =>
          bound.fold(purgedText(p))(withLocalMax(_)(purgedText(p)))
          assert(textRels(p) == expected, s"bound=$bound")
          Seq("postings", "term_df", "meta").map(rel => spark.read.parquet(s"$p/$rel").schema)
        }
      // the same columns in the same order on every path
      assert(schemas.distinct.size == 1, schemas.distinct)
    }
  }

  test("purgeTextIndex fails on an id indexed with conflicting lengths, on both paths, and swaps nothing in") {
    val docs = io.Tables(spark, sf, "documents")
    // one indexed doc folded in AGAIN with two more tokens: an
    // updateTextIndex no-collision violation
    val victim = docs.where(col("text").isNotNull).orderBy("doc_id").limit(1)
      .select(col("doc_id"), concat(col("text"), lit(" zzq qqz")).as("text"))
    for (n <- Seq(None, Some(0L)))
      withTempDir("txtpurge_conflict") { p =>
        Search.writeTextIndex(docs, "doc_id", "text", p)
        Search.updateTextIndex(spark, p, victim, "doc_id", "text")
        val before = (textRels(p), served(p, Search.defaultTerms))
        def purge(): Unit = Search.purgeTextIndex(spark, p, victim.select("doc_id"), "doc_id")
        val e = intercept[IllegalArgumentException](n.fold(purge())(withLocalMax(_)(purge())))
        assert(e.getMessage.contains("conflicting document lengths"), s"bound=$n: ${e.getMessage}")
        // nothing swapped in: base and delta still serve as before
        assert(Search.deltaDirs(spark, p, "postings").nonEmpty, s"bound=$n")
        assert((textRels(p), served(p, Search.defaultTerms)) == before, s"bound=$n")
      }
  }

  private val delAnn = pmod(col("vec_id"), lit(37)) === 3

  private def listRows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("vec_id").cast("long"), col("list_id").cast("long"))
    .as[(Long, Long)].collect().toSet

  private def codeRows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("vec_id").cast("long"), col("sub").cast("long"),
      col("code").cast("long"))
    .as[(Long, Long, Long)].collect().toSet

  test("purgeAnnIndex drops the deleted ids from lists+codes, leaves quantizers byte-untouched, serves identically") {
    withTempDir("annpurge_spec") { idx =>
      val emb = io.Tables(spark, sf, "embeddings")
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), idx)
      val original = Similarity.readAnnIndex(spark, idx)
      // the expected purged content, held as collected rows (the purge
      // rewrites the directories under the same session)
      val expLists = listRows(original.lists.where(!delAnn))
      val expCodes = codeRows(original.codes.where(!delAnn))
      def quantizerFiles(): Map[String, (Long, Long)] = {
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq("coarse", "book").flatMap { rel =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/$rel")).toSeq
            .filter(_.isFile)
            .map(st => st.getPath.toString -> (st.getLen, st.getModificationTime))
        }.toMap
      }
      val qBefore = quantizerFiles()
      // the serving REFERENCE must be materialized BEFORE the purge
      // rewrites the directories (the index relations are lazy readers):
      // the same pinned quantizers over in-plan-filtered lists/codes
      val retained = emb.where(!delAnn)
      def probe(i: Similarity.AnnIndex) =
        Similarity.probeIndex(i, retained, "vec_id", "embedding",
            probeFilter = col("vec_id") < 10, k = 10)
          .orderBy("probe_id", "rn")
          .as[(Long, Long, Long, Long)].collect().toSeq
      val probeRef = probe(Similarity.AnnIndex(original.coarse,
        original.lists.where(!delAnn), original.book,
        original.codes.where(!delAnn)))
      Similarity.purgeAnnIndex(spark, idx,
        emb.where(delAnn).select("vec_id"), "vec_id")
      // pinned quantizers: not a byte of coarse/book moved
      assert(quantizerFiles() == qBefore,
        "purge touched quantizer files — retraining desyncs surviving codes")
      val purged = Similarity.readAnnIndex(spark, idx)
      assert(listRows(purged.lists) == expLists)
      assert(codeRows(purged.codes) == expCodes)
      // serving equality: the purged ARTIFACT behaves exactly like the
      // in-plan filtered index — the rewrite is content-preserving
      assert(probe(purged) == probeRef)
      // and a purged id can never surface as a neighbor
      assert(probe(purged).forall { case (_, vid, _, _) => vid % 37 != 3 })
    }
  }

  test("purgeAnnIndex writes the same lists+codes on both paths and at the delete-id bound -1/=/+1") {
    val emb = io.Tables(spark, sf, "embeddings")
    val ids = emb.where(delAnn).count()
    assert(ids > 1)
    withTempDir("annpurge_ref") { ref =>
      Similarity.writeAnnIndex(Similarity.annIndex(emb, "vec_id", "embedding"), ref)
      val original = Similarity.readAnnIndex(spark, ref)
      val expected = (listRows(original.lists.where(!delAnn)),
        codeRows(original.codes.where(!delAnn)))
      val schemas = for (bound <- Seq(None, Some(0L), Some(ids - 1), Some(ids), Some(ids + 1)))
        yield withTempDir("annpurge_spec") { idx =>
          // the same trained index, copied, so every run purges the
          // same quantizers' codes
          org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(ref), new java.io.File(idx))
          def purge(): Unit = Similarity.purgeAnnIndex(spark, idx,
            emb.where(delAnn).select("vec_id"), "vec_id")
          bound.fold(purge())(withLocalMax(_)(purge()))
          val purged = Similarity.readAnnIndex(spark, idx)
          assert((listRows(purged.lists), codeRows(purged.codes)) == expected, s"bound=$bound")
          (purged.lists.schema, purged.codes.schema)
        }
      assert(schemas.distinct.size == 1, schemas.distinct)
    }
  }

  test("an empty delete set is a no-op: no Spark job, index files untouched") {
    withTempDir("purge_empty") { tmp =>
      val txt = s"$tmp/txt"
      val ann = s"$tmp/ann"
      val docs = io.Tables(spark, sf, "documents")
      Search.writeTextIndex(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", txt)
      // deltas present, so a rewrite would show as a compaction
      Search.updateTextIndex(spark, txt,
        docs.where(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      Similarity.writeAnnIndex(Similarity.annIndex(
        io.Tables(spark, sf, "embeddings"), "vec_id", "embedding"), ann)
      def files(): Map[String, (Long, Long)] = {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> (f.toFile.length, f.toFile.lastModified)).toMap
        finally walk.close()
      }
      val before = files()
      val (_, textJobs) = jobsOf(Search.purgeTextIndex(spark, txt,
        Seq.empty[Long].toDF("doc_id"), "doc_id"))
      val (_, nullJobs) = jobsOf(Search.purgeTextIndex(spark, txt,
        Seq(Option.empty[Long]).toDF("doc_id"), "doc_id"))
      val (_, annJobs) = jobsOf(Similarity.purgeAnnIndex(spark, ann,
        Seq.empty[Long].toDF("vec_id"), "vec_id"))
      assert((textJobs, nullJobs, annJobs) == ((0, 0, 0)))
      assert(files() == before)
    }
  }
}
