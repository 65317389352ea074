package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Round-13 optimization guard: the IVF coarse quantizer and the PQ
  * codebook now train on the DRIVER over the bounded hash-ranked sample
  * (one TakeOrdered collect instead of per-round broadcast/shuffle
  * chains). These suites re-run the PREVIOUS distributed formulations —
  * copied verbatim from the round-12 tree — and assert row-for-row
  * equality of the trained relations on the fixture embeddings, so any
  * arithmetic divergence (round/`div` semantics, argmin tie-breaks,
  * empty-list fallback, seed ordering) fails here before it fails 20+
  * oracle hashes. */
class TrainerParitySpec extends SparkSpec {

  private def qvT(c: org.apache.spark.sql.Column) =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** The round-12 distributed ivfCentroids, verbatim (minus caching). */
  private def distributedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, trainRounds: Int, trainSample: Int): DataFrame = {
    val idHash = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val qv = qvT(col(vecCol))
    val sample = corpus
      .select(col(idCol).as("sid"), qv.as("qv"), idHash.as("__h"))
      .orderBy(asc("__h"), asc("sid"))
      .limit(trainSample)
      .select("sid", "qv")
      .cache()
    var cents = corpus
      .select(col(idCol).as("cent_id"), qv.as("cv"), idHash.as("__h"))
      .orderBy(asc("__h"), asc("cent_id"))
      .limit(numCentroids)
      .select("cent_id", "cv")
    for (_ <- 1 to trainRounds) {
      val asgn = sample.crossJoin(broadcast(cents))
        .select(col("sid"), col("cent_id"),
          (lit(2L) * Similarity.quantizedDot(col("qv"), col("cv"))
            - Similarity.quantizedDot(col("cv"), col("cv"))).as("cd"))
        .groupBy(col("sid"))
        .agg(max_by(col("cent_id"),
          struct(col("cd"), (lit(0L) - col("cent_id")).as("nc"))).as("list_id"))
        .join(sample, "sid")
      val trained = asgn
        .select(col("list_id"), posexplode(col("qv")))
        .groupBy("list_id", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("list_id"), col("pos"), expr("s div n").as("qc"))
        .groupBy("list_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("qc")))).as("arr"))
        .select(col("list_id").as("cent_id"),
          transform(col("arr"), e => e.getField("qc")).as("cv"))
      cents = cents.select(col("cent_id"), col("cv").as("cv0"))
        .join(broadcast(trained), Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv"), col("cv0")).as("cv"))
        .localCheckpoint(true)
    }
    cents.withColumn("nrm", Similarity.quantizedDot(col("cv"), col("cv")))
  }

  /** The round-12 distributed pqCodebookFromQ, verbatim (minus caching). */
  private def distributedBook(
      qdf: DataFrame, idCol: String,
      numSub: Int, subDim: Int, codebook: Int, trainSample: Int): DataFrame = {
    def pqSubspaces(df: DataFrame, vec: String): DataFrame = df
      .withColumn("sub", explode(sequence(lit(0), lit(numSub - 1))))
      .withColumn("sv", slice(col(vec), col("sub") * lit(subDim) + lit(1), lit(subDim)))
      .drop(vec)
    def qdist(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      Similarity.quantizedDot(x, x) - lit(2L) * Similarity.quantizedDot(x, c) +
        Similarity.quantizedDot(c, c)
    val idHash = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val ranked = qdf
      .select(col(idCol).as("sid"), col("q"), idHash.as("__h"))
      .orderBy(asc("__h"), asc("sid"))
      .limit(trainSample)
    val sample = ranked.select("sid", "q").cache()
    val seeds = pqSubspaces(
      ranked.limit(codebook)
        .withColumn("code",
          row_number().over(Window.orderBy(asc("__h"), asc("sid"))).cast("long") - 1)
        .select("code", "q"),
      "q").select(col("sub"), col("code"), col("sv").as("cv"))
    val sasgn = pqSubspaces(sample, "q")
      .join(broadcast(seeds), Seq("sub"))
      .select(col("sid"), col("sub"), col("sv"), col("code"),
        qdist(col("sv"), col("cv")).as("d"))
      .groupBy("sid", "sub")
      .agg(min_by(struct(col("code"), col("sv")), struct(col("d"), col("code"))).as("best"))
      .select(col("sub"), col("best.code").as("code"), col("best.sv").as("sv"))
    val trained = sasgn
      .select(col("sub"), col("code"), posexplode(col("sv")))
      .groupBy("sub", "code", "pos")
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("code"), col("pos"), expr("s div n").as("qc"))
      .groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("qc")))).as("arr"))
      .select(col("sub"), col("code"), transform(col("arr"), e => e.getField("qc")).as("cv"))
    seeds.select(col("sub"), col("code"), col("cv").as("cv0"))
      .join(broadcast(trained), Seq("sub", "code"), "left")
      .select(col("sub"), col("code"), coalesce(col("cv"), col("cv0")).as("cv"))
  }

  private def rowsOf(df: DataFrame, order: Seq[String]): Seq[String] =
    df.orderBy(order.map(col): _*).collect().map(_.toString).toSeq

  test("driver-local trainers reject non-integral id columns loudly") {
    // the sample collect orders by cast(id as long): exact for every
    // integral id, silently null for a non-numeric string — so the
    // trainers must fail at entry instead (round-13 verdict item)
    val emb = io.Tables(spark, sf, "embeddings")
    val strId = emb.select(
      concat(lit("v"), col("vec_id")).as("vec_id"), col("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfCentroidsForTest(strId, "vec_id", "embedding", 4, 1, 16)
    }
    assert(e1.getMessage.contains("integral"))
    val qdf = strId.select(col("vec_id"), qvT(col("embedding")).as("q"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqCodebookForTest(qdf, "vec_id", 4, 16, 4, 16)
    }
    assert(e2.getMessage.contains("integral"))
    // a null or ragged vector in the training sample fails loudly too,
    // naming the operator, the column and the fault (for a bounded
    // corpus the sample is the whole corpus, so every twin checks it)
    import spark.implicits._
    def corpus(bad: Array[Float]) = (0L until 120L).map { i =>
      (i, if (i == 57L) bad else Array(((i * 7) % 13).toFloat * 0.1f,
        ((i * 3) % 11).toFloat * 0.2f, 0.5f, ((i * 11) % 19).toFloat * 0.125f))
    }.toDF("vec_id", "embedding")
    val ops: Seq[(String, DataFrame => Unit)] = Seq(
      "annIndex" -> (df => Similarity.annIndex(df, "vec_id", "embedding",
        numCentroids = 8, dim = 4, numSub = 2, codebook = 4)),
      "semDedupKeep" -> (df => Similarity.semDedupKeep(df, "vec_id", "embedding", 1000000L)),
      "knnGraphIvf" -> (df => Similarity.knnGraphIvf(df, "vec_id", "embedding", k = 3)),
      "ivfPqResidualTopK" -> (df => Similarity.ivfPqResidualTopK(df, "vec_id", "embedding",
        col("vec_id") < 7, k = 3, numCentroids = 8, dim = 4, numSub = 2, codebook = 4)),
      "ivfTopK" -> (df => Similarity.ivfTopK(df, "vec_id", "embedding", col("vec_id") < 7, k = 3)))
    for ((bad, fault) <- Seq((null: Array[Float]) -> "null", Array(0.1f, 0.2f, 0.3f) -> "ragged");
         (who, op) <- ops) {
      val e = intercept[IllegalArgumentException](op(corpus(bad)))
      assert(Seq(who, "'embedding'", fault).forall(e.getMessage.contains),
        s"$who on a $fault vector: ${e.getMessage}")
    }
  }

  test("driver-local IVF centroids == round-12 distributed formulation") {
    val emb = io.Tables(spark, sf, "embeddings")
    for ((k, rounds, sampleN) <- Seq((64, 2, 32768), (7, 3, 100), (16, 1, 50))) {
      val local = Similarity.ivfCentroidsForTest(emb, "vec_id", "embedding", k, rounds, sampleN)
      val dist = distributedCentroids(emb, "vec_id", "embedding", k, rounds, sampleN)
      assert(rowsOf(local, Seq("cent_id")) == rowsOf(dist, Seq("cent_id")),
        s"centroids diverge at k=$k rounds=$rounds sample=$sampleN")
    }
  }

  test("driver-local PQ codebook == round-12 distributed formulation") {
    val emb = io.Tables(spark, sf, "embeddings")
    val qdf = emb.select(col("vec_id"), qvT(col("embedding")).as("q"))
    for ((numSub, subDim, cb, sampleN) <- Seq((8, 8, 16, 32768), (4, 16, 5, 37))) {
      val local = Similarity.pqCodebookForTest(qdf, "vec_id", numSub, subDim, cb, sampleN)
      val dist = distributedBook(qdf, "vec_id", numSub, subDim, cb, sampleN)
      assert(rowsOf(local, Seq("sub", "code")) == rowsOf(dist, Seq("sub", "code")),
        s"codebook diverges at numSub=$numSub cb=$cb sample=$sampleN")
    }
  }
}
