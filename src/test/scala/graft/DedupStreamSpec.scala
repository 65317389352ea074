package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ext.{Dedup, Similarity}
import graft.streaming.StreamOps

class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  test("exactKeepFirst keeps exactly one representative per duplicate group") {
    val df = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),     // same fingerprint as 1 -> dropped
      (3L, "something else"),
      (4L, "HELLO WORLD.")     // same fingerprint again -> dropped
    ).toDF("id", "text")
    val kept = Dedup.exactKeepFirst(df, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("block-broadcast near-dup kernel equals declarative crossJoin formulation") {
    val emb = io.Tables(spark, sf, "embeddings")
    val blocked = Similarity.nearDupPairs(emb, "vec_id", "embedding", 400000L)
      .as[(Long, Long, Long)].collect().toSet
    val declarative = Similarity.nearDupPairsCrossJoin(emb, "vec_id", "embedding", 400000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked == declarative)
    assert(blocked.nonEmpty)
  }

  test("embedding LSH near-dup pairs are an exactly-scored subset of brute force") {
    val emb = io.Tables(spark, sf, "embeddings")
    val brute = Similarity.nearDupPairs(emb, "vec_id", "embedding", 400000L)
      .as[(Long, Long, Long)].collect().toMap2
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 400000L, dim = 64)
      .as[(Long, Long, Long)].collect().toMap2
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, q) =>
      assert(brute.get(pair).contains(q), s"pair $pair must be in brute force with same qdot")
    }
  }

  test("streaming wordcount (complete mode) equals batch wordcount") {
    withTempDir("swc") { dirDir =>
      val dir = java.nio.file.Paths.get(dirDir)
      Files.writeString(dir.resolve("a.txt"), "The quick brown fox\nthe fox again\n")
      val streamed = StreamOps.runToMemory(
        StreamOps.streamingWordCount(spark, dir.toString), "swc_out", OutputMode.Complete())
        .as[(String, Long)].collect().toMap
      val batch = ops.TextOps.wordCount(spark.read.text(dir.toString), col("value"))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
      assert(streamed("fox") == 2L)
    }
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map { case (a, b, c) => (a, b) -> c }.toMap
  }
}
