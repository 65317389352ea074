package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks

/** Storage-layout operators: hive partition pruning and small-file
  * compaction. (Bucketed and Z-ordered layouts have their own specs.) */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("hive-partitioned events prune at listing level: PartitionFilters, one dir read") {
    withTempDir("hivep") { dir =>
      val ev = io.Tables(spark, sf, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      Sinks.writeHivePartitioned(ev, dir, Seq("day"))
      val oneDay = spark.read.parquet(dir).where(col("day") === "2024-01-05")
      val plan = oneDay.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"plan:\n$plan")
      // only the matching day's directory contributes input files
      val files = oneDay.select(input_file_name()).distinct().as[String].collect()
      assert(files.nonEmpty && files.forall(_.contains("day=2024-01-05")), files.mkString("\n"))
      // round trip preserves the data
      assert(spark.read.parquet(dir).count() == ev.count())
    }
  }

  test("compaction collapses a many-file table to target size, data unchanged") {
    withTempDir("compact") { dir =>
      val li = io.Tables(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
      li.repartition(64).write.mode("overwrite").parquet(dir)
      def parquetFiles = new java.io.File(dir).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parquetFiles == 64)
      val before = li.agg(
        count(lit(1)), sum("l_orderkey"), sum(col("l_quantity").cast("decimal(18,6)"))).head()
      Sinks.compact(spark, dir, targetFiles = 4)
      assert(parquetFiles == 4)
      val after = spark.read.parquet(dir).agg(
        count(lit(1)), sum("l_orderkey"), sum(col("l_quantity").cast("decimal(18,6)"))).head()
      assert(after == before)
    }
  }
}
