package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the reference's canonical
    * word count (`w7/src/python/map.py` + `reduce.py`) over the documents
    * table. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.TextOps.wordCount(
      io.Tables(spark, "/root/testdata/sf0.001", "documents"),
      col("text"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.plans ++ RelationalQueries.plans ++ ExtQueries.plans

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.sql ++ RelationalQueries.sql ++ ExtQueries.sql
}
