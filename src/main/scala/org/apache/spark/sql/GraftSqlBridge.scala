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

  /** Drain the context's listener bus, then take `session`'s own
    * StreamingQueryListenerBus off it, if it has one. Spark adds that bus
    * to the context for good on the session's first stream (and on the
    * clone each stream runs on), so per-call sessions would leak one
    * listener per call. The manager and its bus are private fields.
    */
  def detachStreamBus(session: SparkSession): Unit = {
    org.apache.spark.GraftBusDrain.drain(session.sparkContext)
    val state = session.asInstanceOf[classic.SparkSession].sessionState
    Option(privateField(classOf[internal.SessionState], "streamingQueryManager", state)).foreach { mgr =>
      session.sparkContext.listenerBus.removeListener(
        privateField(classOf[classic.StreamingQueryManager], "listenerBus", mgr)
          .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
    }
  }

  /** [[detachStreamBus]] for the clone a finished stream ran on. */
  def detachStreamBus(query: streaming.StreamingQuery): Unit = query match {
    case w: execution.streaming.runtime.StreamingQueryWrapper =>
      detachStreamBus(w.streamingQuery.sparkSessionForStream)
    case _ =>
  }

  private def privateField(cls: Class[_], name: String, of: AnyRef): AnyRef = {
    val f = cls.getDeclaredField(name)
    f.setAccessible(true)
    f.get(of)
  }

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
