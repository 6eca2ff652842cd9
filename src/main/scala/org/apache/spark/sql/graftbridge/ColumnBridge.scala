package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's private[sql] Column↔Expression conversion, so
  * graft can expose custom Catalyst expressions (e.g. Fingerprint64) as
  * ordinary Columns. Lives under org.apache.spark.sql for access. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column → catalyst Expression conversion. ExpressionUtils wraps
    * lazily in a ColumnNodeExpression, which is fine inside DataFrame
    * analysis but unresolvable when the expression is returned from a
    * FunctionRegistry builder — this walks the column node tree now. */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** A DataFrame over an already analysed plan, without re-resolving
    * its relation. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the async listener bus (test support: job-count assertions
    * need delivered events before reading their counters). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
