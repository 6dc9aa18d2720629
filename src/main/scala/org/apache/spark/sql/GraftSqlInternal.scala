package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface needed to materialize a
  * DataFrame from a custom logical plan node (the documented pattern for
  * out-of-tree Catalyst operators — same access route every Spark
  * extension library uses). Nothing else from the internal API leaks
  * through here. */
object GraftSqlInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Column ↔ Expression bridges (classic.ExpressionUtils): let library
    * code compose custom codegen Expressions into Column trees without a
    * session-side function-registry round-trip. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Spark's own union/binary-op widening rule (TypeCoercion) — lets the
    * as-of merge exec accept the same mixed time types the composed
    * union+window plan coerces (e.g. timestamp vs timestamp_ntz). */
  def widerTypeForTwo(a: org.apache.spark.sql.types.DataType,
                      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findWiderTypeForTwo(a, b)

  /** Idempotently register a planner strategy on this session. */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** The finished execution an end event reports (null when the
    * execution posted none) — lets a listener match the end event's
    * execution id to a QueryExecutionListener callback. */
  def executionEndQe(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = e.qe
}
