package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `private[sql]` access shim: building a DataFrame from a custom
  * LogicalPlan needs `classic.Dataset.ofRows`, and building a Column from
  * a custom Expression needs `classic.ExpressionUtils`; Spark scopes both
  * to its own package tree — the standard extension-library pattern is a
  * bridge object in a `org.apache.spark.sql` subpackage. No Spark
  * internals are modified. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Column over `e` — no function name, so nothing enters the
    * session-global function registry. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Expression of `c`, to be the child of a custom Expression
    * (resolved together with the Column built over it). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
