package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Skew

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation on skewed data") {
    // 90% of rows share one hot key
    val df = spark.range(10000)
      .select(
        when(col("id") % 10 =!= 0, lit("HOT")).otherwise(concat(lit("k"), col("id") % 7)).as("k"),
        (col("id") % 100).cast("double").as("v"))
    val salted = Skew.saltedAgg(df, "k", "v", saltBuckets = 16)
      .select(col("k"), col("sum_v"), col("n"))
      .as[(String, Double, Long)].collect().map { case (k, s, n) => k -> (s, n) }.toMap
    val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().map { case (k, s, n) => k -> (s, n) }.toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == plain(k)._2, s"count for $k")
      assert(math.abs(s - plain(k)._1) < 1e-6, s"sum for $k")
    }
  }

  test("BenchScale doc inflation: pairs of the 4x corpus are exactly 4 offset copies") {
    // per-copy Caesar rotation keeps each copy's internal near-dup
    // structure identical and makes cross-copy token sets disjoint —
    // so the TRUE answer of the inflated corpus is exactly the base
    // answer replicated with id offsets. This is what makes the scale
    // probe's growth curves interpretable.
    val docs = io.Tables(spark, "/root/testdata/sf0.01", "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      ext.Dedup.nearDupPairs(df, "doc_id", "text",
          shingleN = 3, numPerms = 128, bands = 64, threshold = 0.6)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val base = pairs(docs)
    assert(base.nonEmpty)
    val expected = (0 until 4).flatMap { k =>
      val off = k.toLong * 1000000000L
      base.map { case (a, b) => (a + off, b + off) }
    }.toSet
    assert(pairs(BenchScale.inflateDocs(docs, 4)) == expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    withTempDir("warehouse") { wh =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast path
      val li = io.Tables(s2, sf, "lineitem")
      val o = io.Tables(s2, sf, "orders")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").saveAsTable("li_b")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/o_b").saveAsTable("o_b")
      val joined = s2.table("li_b")
        .join(s2.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
      s2.sql("DROP TABLE IF EXISTS li_b")
      s2.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
