package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge between Columns/DataFrames and the
  * Catalyst trees under them. This is the standard extension-library
  * pattern (Spark's own connectors do the same).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression under a Column, converted eagerly (so a
    * caller can match on it, e.g. a SortOrder) and without a session:
    * the converter reads the active `SQLConf`.
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A session over `spark`'s context with its own copy of the SQL conf
    * and temp views, and the same extensions (`cloneSession` is
    * private[sql]).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Float normalization for custom-operator grouping keys (private[sql]
    * in Catalyst): -0.0 → 0.0 and canonical NaN bits, so UnsafeRow
    * byte-equality groups like Window/Aggregate do.
    */
  def normalizeFloats(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
