package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters, needed
  * to expose custom Catalyst expressions as user-facing Columns in Spark 4
  * (where `new Column(expr)` is no longer public). Single point of contact
  * with Spark internals. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` declared nullable, whatever Catalyst proves: the written
    * parquet schema then says nullable however the value was computed
    * (a `count` is non-null, the same column read back is not). */
  def nullable(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNullable(expression(c)))

  /** Logical plan of a DataFrame / DataFrame from a logical plan — for
    * custom operators (LogicalPlan + Strategy + SparkPlan). */
  def plan(df: Dataset[Row]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a temp SQL function on a live session (the builder-time
    * path is `GraftExtensions`; this one works on an existing session). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Install table-level statistics on a catalog table — the write
    * half of `ANALYZE TABLE`, fed by the engine's own one-pass stats
    * (`graft.ops.Sketches.analyzeToCatalog`) instead of Spark's
    * rescan. The session catalog's `alterTableStats` is
    * `private[sql]`, hence the bridge. */
  def alterTableStats(
      spark: SparkSession,
      table: String,
      stats: Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics]): Unit = {
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    ss.catalog.alterTableStats(ss.sqlParser.parseTableIdentifier(table), stats)
  }
}
