package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.MapReduceJob
import graft.ext.{Dedup, Search, Similarity}
import graft.io.Sinks
import graft.ops.TextOps
import graft.streaming.StreamOps

/** What one iteration did: its timed wall time, the operations it
  * attempted, those that failed (an exception or a failed output
  * check), and the latency of each call by span name. */
final class IterationLog {
  var wallNs = 0L
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer.empty[String]
  val calls = ArrayBuffer.empty[(String, Long)]
}

/** One run's view of the engine: the session, the optional trace, and
  * the per-iteration log every call reports to. */
final class Client(val spark: SparkSession, trace: Option[Trace]) {
  var iteration = 0
  var log = new IterationLog
  private var op = 0
  private var last = ""

  /** One public engine call plus the materialization of its result. */
  def call[T](name: String)(body: => T): T = {
    op += 1
    log.attempted += 1
    val t0 = System.nanoTime()
    val out = trace match {
      case Some(t) => t.span(name, iteration, op)(body)
      case None => body
    }
    log.calls += ((name, System.nanoTime() - t0))
    last = name
    out
  }

  /** Count `n` operations failed when `problems` is non-empty. */
  def check(n: Int, problems: Seq[String]): Unit =
    if (problems.nonEmpty) { log.failed += n; log.problems ++= problems.map(p => s"after $last: $p") }

  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name, iteration, 0)(body)
    case None => body
  }
}

/** A workload: `prepare` materializes the seeded inputs (untimed work
  * of set-up), `iterate` runs one timed iteration and then checks it. */
trait Workload {
  def name: String
  /** Untimed iterations after set-up, before the timed phase. */
  def warmIterations: Int
  /** Timed iterations at most. */
  def maxIterations: Int
  def prepare(client: Client, seed: Long, dir: String): Prepared
}

trait Prepared {
  def inputRows: Long
  def inputMb: Double
  /** Run one iteration; its timed part is recorded in `client.log.wallNs`. */
  def iterate(client: Client): Unit
  /** Untimed check of the state the iterations left, once per run. */
  def finalCheck(client: Client): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(Batch, Serve)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Write rows as parquet, one file per core, and read them back: the
    * engine only ever sees the materialized files. */
  def materialize(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): DataFrame = {
    val n = spark.sparkContext.defaultParallelism
    spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def docs(spark: SparkSession, rows: Array[(Long, String)], path: String): DataFrame =
    materialize(spark, rows.toSeq.map { case (i, t) => Row(i, t) }, docSchema, path)

  def vecs(spark: SparkSession, rows: Array[(Long, Array[Float])], path: String): DataFrame =
    materialize(spark, rows.toSeq.map { case (i, v) => Row(i, v.toSeq) }, vecSchema, path)

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def dirMb(path: String): Double = {
    val s = Files.walk(Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / (1024.0 * 1024.0)
    finally s.close()
  }

  /** Time `body` as a timed part of the iteration; its span is named
    * after the part. */
  def timed(client: Client, part: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try client.span(part)(body)
    catch {
      case e: Exception =>
        client.log.failed += 1
        client.log.problems += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    client.log.wallNs += System.nanoTime() - t0
  }

  /** Untimed verification; an exception in it fails the iteration's ops. */
  def verify(client: Client, ops: Int)(body: => Seq[String]): Unit =
    try client.check(ops, body)
    catch { case e: Exception => client.check(ops, Seq(s"check threw ${e.getMessage}".take(300))) }
}

/** Throughput-bound batch jobs, bound by scan, tokenize, shuffle,
  * native expressions and writes: one iteration is the word count on
  * both MapReduce paths, then near-dup dedup of a second corpus. It
  * never touches the text or vector indexes. */
object Batch extends Workload {
  val name = "batch"
  val warmIterations = 3
  val maxIterations = Int.MaxValue

  def prepare(client: Client, seed: Long, dir: String): Prepared = {
    val spark = client.spark
    val parts = Seq(WordCount.prepare(spark, seed, dir), DedupWorkload.prepare(spark, seed, dir))
    new Prepared {
      val inputRows = parts.map(_.inputRows).sum
      val inputMb = parts.map(_.inputMb).sum
      def iterate(client: Client): Unit = parts.foreach(_.iterate(client))
    }
  }
}

/** The paper's canonical job on both MapReduce paths: the DataFrame
  * word count written as R = 8 partitioned files, then the same job
  * through the typed `MapReduceJob` API, also R = 8. */
object WordCount {
  val copies = 4
  val reducers = 8

  private val punct = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".toSet

  /** map.py: lowercase, punctuation to space, split, drop empties. */
  val mapper: String => IterableOnce[(String, Long)] = text =>
    text.toLowerCase.map(c => if (punct(c)) ' ' else c)
      .split(' ').iterator.filter(_.nonEmpty).map(w => (w, 1L))

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val base = Inputs.baseCorpus(seed)
    val cs = Inputs.ciphers(seed, copies)
    val rows = Inputs.docCopies(base, cs, 0 until copies)
    val df = Workloads.docs(spark, rows, s"$dir/wc_docs")
    val baseCounts = Inputs.wordCounts(base)
    val expected = (0 until copies).flatMap(k => baseCounts.map { case (w, c) => cs(k)(w) -> c }).toMap
    val total = copies * baseCounts.values.sum
    new Prepared {
      val inputRows = rows.length.toLong
      val inputMb = Workloads.dirMb(s"$dir/wc_docs")
      def iterate(client: Client): Unit = {
        import client.spark.implicits._
        val outDf = s"$dir/out_df"
        val outTyped = s"$dir/out_typed"
        Seq(outDf, outTyped).foreach(Workloads.delete)
        Workloads.timed(client, "wordcount") {
          client.call("io.Sinks.writePartitioned") {
            Sinks.writePartitioned(TextOps.wordCount(df, col("text")), outDf, reducers, "word")
          }
          client.call("api.MapReduceJob.run") {
            MapReduceJob(df.select("text").as[String], mapper, (a: Long, b: Long) => a + b)
              .withReducers(reducers).run().toDF("word", "cnt")
              .write.mode("overwrite").parquet(outTyped)
          }
        }
        Workloads.verify(client, 2) {
          def read(p: String) = client.spark.read.parquet(p).collect().toSeq
            .map(r => (r.getString(0), r.getLong(1)))
          Checks.wordCount(read(outDf), read(outTyped), expected, total)
        }
      }
    }
  }
}

/** The flagship LLM-data operator: MinHash-LSH near-dup pairs with
  * exact Jaccard verification and connected components, then one
  * canonical document per cluster. */
object DedupWorkload {
  val copies = 1

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val base = Inputs.baseCorpus(seed)
    val cs = Inputs.ciphers(seed, copies)
    val rows = Inputs.docCopies(base, cs, 0 until copies)
    val df = Workloads.docs(spark, rows, s"$dir/dd_docs")
    val basePairs = Inputs.exactPairs(base)
    val shift = (k: Int) => (id: Long) => id + k * Inputs.idStride
    val expPairs = (0 until copies).flatMap(k => basePairs.map { case (a, b) => (shift(k)(a), shift(k)(b)) })
    val baseClusters = Inputs.components(basePairs)
    val expClusters = (0 until copies).flatMap(k =>
      baseClusters.map { case (id, c) => shift(k)(id) -> shift(k)(c) }).toMap
    val expCanonical = rows.map(_._1).filter(id => expClusters.get(id).forall(_ == id)).toSeq
    new Prepared {
      val inputRows = rows.length.toLong
      val inputMb = Workloads.dirMb(s"$dir/dd_docs")
      def iterate(client: Client): Unit = {
        var pairs = Seq.empty[(Long, Long)]
        var clusters = Seq.empty[(Long, Long)]
        var canonical = Seq.empty[Long]
        Workloads.timed(client, "dedup") {
          val p = client.call("ext.Dedup.pipeline") {
            val p = Dedup.pipeline(df, "doc_id", "text")
            pairs = p.pairs.select("id_a", "id_b").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
            clusters = p.clusters.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
            p
          }
          try canonical = client.call("ext.Dedup.canonical") {
            p.canonical(df, "doc_id").select("doc_id").collect().toSeq.map(_.getLong(0))
          } finally p.close()
        }
        Workloads.verify(client, 2) {
          Checks.dedup(pairs, clusters, canonical, expPairs, expClusters, expCanonical)
        }
      }
    }
  }
}

/** Index serving with writes beside reads on the same persisted
  * artifacts. Set-up builds a text index and an ANN index; every
  * iteration then serves one query and one probe batch (one client,
  * each call after the previous reply), folds in a document batch and a
  * vector batch, and streams a batch of deletes through the purge
  * operators. The next iteration's query and probes run against the
  * purged index, so each iteration also checks that no id deleted so
  * far ever surfaces. A purge folds the fold-in deltas into the base
  * relations, so every iteration starts from the same file layout. */
object Serve extends Workload {
  val name = "serve"
  // the JIT compiles Spark's planner for many iterations; a fourth
  // warm-up moves the timed window past the steepest part of that
  val warmIterations = 4
  val maxIterations = 16
  val annCopies = 2
  val foldBatch = 100
  val k = 10
  val probeBatch = 10
  /** Text deletes per iteration: documents carrying `dup`, then others. */
  val dupDeletes = 8
  val otherDeletes = 12
  /** Vector deletes per iteration beside the next probes' neighbours. */
  val randomVecDeletes = 10

  /** What iteration i sends. */
  final case class Step(
      query: Seq[String], probes: Seq[Long], foldIds: (Long, Long),
      foldVecIds: (Long, Long), textDel: Seq[Long], annDel: Seq[Long])

  def prepare(client: Client, seed: Long, dir: String): Prepared = {
    val spark = client.spark
    val steps = warmIterations + maxIterations
    require(steps * foldBatch <= math.min(Inputs.baseDocs, Inputs.baseVecs), "too few rows to fold in")
    val r = Inputs.rng(seed, 10)
    val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
    // copy 0 of the documents is indexed; copy 1 supplies the fold-ins
    val base = Inputs.baseCorpus(seed)
    val cs = Inputs.ciphers(seed, 2)
    val docRows = Inputs.docCopies(base, cs, 0 until 1)
    val foldRows = Inputs.docCopies(base.take(steps * foldBatch), cs, 1 to 1)
    // vector copies below annCopies are indexed; the next one supplies
    // the fold-ins
    val baseVecs = Inputs.baseVectors(seed)
    val sg = Inputs.signs(seed, annCopies + 1)
    val vecRows = Inputs.vecCopies(baseVecs, sg, 0 until annCopies)
    val foldVecRows = Inputs.vecCopies(baseVecs.take(steps * foldBatch), sg, annCopies to annCopies)
    def slice(ids: Array[Long], i: Int) = (ids(i * foldBatch), ids((i + 1) * foldBatch - 1))

    // text deletes: documents carrying the rare `dup` word, which every
    // query asks for — a purge that leaks shows in the next answer
    val dup = cs(0)(Inputs.dupWord)
    val (withDup, without) = docRows.map(_._1).partition(id => docRows(id.toInt)._2.split(' ').contains(dup))
    val dupDel = pick(r, withDup, steps * dupDeletes).grouped(dupDeletes).toSeq
    val otherDel = pick(r, without, steps * otherDeletes).grouped(otherDeletes).toSeq
    // vector deletes: at iteration i, the exact nearest live neighbours
    // of iteration i + 1's probes, so a leaking purge would serve them
    val probes = pick(r, vecRows.map(_._1), steps * probeBatch).grouped(probeBatch).toSeq
    val probeIds = probes.flatten.toSet
    val all = vecRows ++ foldVecRows
    val row = all.map(_._1).zipWithIndex.toMap
    // live(j): row j is in the index and may be deleted (probes never are)
    val live = Array.tabulate(all.length)(j => j < vecRows.length && !probeIds(all(j)._1))
    val annDel = (0 until steps).map { i =>
      (vecRows.length + i * foldBatch until vecRows.length + (i + 1) * foldBatch).foreach(live(_) = true)
      val near = if (i + 1 < steps) probes(i + 1).flatMap(p => nearest(all(row(p))._2, all, live, 2)) else Nil
      val rest = all.indices.filter(j => live(j) && !near.contains(all(j)._1)).map(all(_)._1).toArray
      val del = (near ++ pick(r, rest, randomVecDeletes)).distinct
      del.foreach(id => live(row(id)) = false)
      del
    }
    def query() = (Inputs.dupWord +: shuffled.shuffle(Inputs.vocab.toSeq).take(2)).map(cs(0)(_))
    val plan = (0 until steps).map { i =>
      Step(query(), probes(i), slice(foldRows.map(_._1), i), slice(foldVecRows.map(_._1), i),
        dupDel.lift(i).getOrElse(Nil) ++ otherDel.lift(i).getOrElse(Nil), annDel(i))
    }
    val finalQuery = query()

    // one file set per kind; the indexed rows and the fold-ins are id
    // ranges of it
    val allDocs = Workloads.docs(spark, docRows ++ foldRows, s"$dir/docs")
    val docsDf = allDocs.where(col("doc_id") < Inputs.idStride)
    val foldDf = allDocs.where(col("doc_id") >= Inputs.idStride)
    // the raw-vector store holds every vector ever ingested, deleted or
    // not: only the index purge keeps a deleted vector out of answers
    val storeDf = Workloads.vecs(spark, vecRows ++ foldVecRows, s"$dir/vecs")
    val vecDf = storeDf.where(col("vec_id") < annCopies * Inputs.idStride)
    val foldVecDf = storeDf.where(col("vec_id") >= annCopies * Inputs.idStride)
    val textDir = s"$dir/text_index"
    val annDir = s"$dir/ann_index"
    Workloads.timed(client, "serve.build") {
      client.call("ext.Search.writeTextIndex") {
        Search.writeTextIndex(docsDf, "doc_id", "text", textDir)
      }
      client.call("ext.Similarity.annIndex") {
        Similarity.writeAnnIndex(Similarity.annIndex(vecDf, "vec_id", "embedding"), annDir)
      }
    }

    new Prepared {
      val inputRows = (docRows.length + foldRows.length + vecRows.length + foldVecRows.length).toLong
      val inputMb = Seq("docs", "vecs").map(d => Workloads.dirMb(s"$dir/$d")).sum
      private var step = 0
      private val textGone = scala.collection.mutable.HashSet.empty[Long]
      private val annGone = scala.collection.mutable.HashSet.empty[Long]

      def iterate(client: Client): Unit = {
        val s = plan(step)
        val textStream = deleteStream(spark, s.textDel, "doc_id", s"$dir/deletes/text_$step")
        val annStream = deleteStream(spark, s.annDel, "vec_id", s"$dir/deletes/ann_$step")
        val fold = foldDf.where(col("doc_id").between(s.foldIds._1, s.foldIds._2))
        val foldVecs = foldVecDf.where(col("vec_id").between(s.foldVecIds._1, s.foldVecIds._2))
        val gone = (textGone.toSet, annGone.toSet)
        Workloads.timed(client, "serve") {
          val rows = client.call("ext.Search.indexTopK") {
            Search.indexTopK(spark, textDir, s.query, k).collect().toSeq.map(_.getLong(0))
          }
          client.check(1, Checks.ranked(rows, k, gone._1))
          val hits = client.call("ext.Similarity.probeIndex") {
            Similarity.probeIndex(Similarity.readAnnIndex(spark, annDir), storeDf,
                "vec_id", "embedding", col("vec_id").isin(s.probes: _*), k)
              .select("probe_id", "vec_id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
          }
          client.check(1, Checks.probes(hits, s.probes, k, gone._2))
          client.call("ext.Search.updateTextIndex") {
            Search.updateTextIndex(spark, textDir, fold, "doc_id", "text")
          }
          client.call("ext.Similarity.updateAnnIndex") {
            Similarity.updateAnnIndex(spark, annDir, foldVecs, "vec_id", "embedding")
          }
          client.call("streaming.StreamOps.indexPurgeApply") {
            StreamOps.indexPurgeApply(textStream, textDir, "doc_id")
          }
          client.call("streaming.StreamOps.annPurgeApply") {
            StreamOps.annPurgeApply(annStream, annDir, "vec_id")
          }
        }
        textGone ++= s.textDel
        annGone ++= s.annDel
        step += 1
      }

      /** A fresh query against the final index equals a BM25 scan of the
        * retained corpus: the indexed copy plus every fold-in so far,
        * minus every delete. */
      override def finalCheck(client: Client): Unit = {
        val folded = foldRows.take(step * foldBatch).map(_._1).toSeq
        val retained = docsDf.unionByName(foldDf.where(col("doc_id").isin(folded: _*)))
          .where(!col("doc_id").isin(textGone.toSeq: _*))
        val served = client.call("ext.Search.indexTopK") {
          Search.indexTopK(spark, textDir, finalQuery, k).collect().toSeq
            .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
        }
        Workloads.verify(client, 1) {
          val ref = client.span("check.bm25TopK") {
            Search.bm25TopK(retained, "doc_id", "text", finalQuery, k)
              .collect().toSeq.map(r => (r.getLong(0), r.getAs[Number](1).longValue))
          }
          Checks.ranked(served.map(_._1), k, textGone.toSet) ++ Checks.sameRows(served, ref)
        }
      }
    }
  }

  /** The ids of the n live rows nearest to `v` by dot product (unit
    * vectors). */
  def nearest(v: Array[Float], rows: Array[(Long, Array[Float])], live: Array[Boolean], n: Int): Seq[Long] = {
    val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(t => -t._1))
    var j = 0
    while (j < rows.length) {
      if (live(j)) {
        val u = rows(j)._2
        var d = 0.0
        var q = 0
        while (q < u.length) { d += u(q) * v(q); q += 1 }
        if (best.size < n) best.enqueue((d, rows(j)._1))
        else if (d > best.head._1) { best.dequeue(); best.enqueue((d, rows(j)._1)) }
      }
      j += 1
    }
    best.toSeq.sortBy(-_._1).map(_._2)
  }

  /** n distinct ids, seeded. */
  def pick(r: java.util.SplittableRandom, ids: Array[Long], n: Int): Seq[Long] = {
    val a = ids.clone()
    (0 until math.min(n, a.length)).map { i =>
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  /** A file stream of delete requests: one JSON-lines file in a fresh
    * directory the stream source reads, so a purge call drains exactly
    * this batch as one micro-batch. */
  def deleteStream(spark: SparkSession, ids: Seq[Long], idCol: String, dir: String): DataFrame = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = d.resolveSibling(d.getFileName.toString + ".tmp")
    Files.write(tmp, ids.map(id => s"""{"$idCol":$id}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, d.resolve("deletes.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.readStream.schema(StructType(Seq(StructField(idCol, LongType, nullable = false))))
      .json(dir)
  }
}
