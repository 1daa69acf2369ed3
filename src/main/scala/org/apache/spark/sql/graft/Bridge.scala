package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `Dataset.ofRows` and `ExpressionUtils` (private[sql])
  * so graft can build a DataFrame from a custom LogicalPlan and a
  * Column from a custom Catalyst expression — the standard
  * extension-library pattern (a class placed under org.apache.spark.sql
  * to use the package-private API; no Spark internals are modified).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Column over `e` itself: it needs no function-registry entry, so
    * it resolves on whichever session analyzes it.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
