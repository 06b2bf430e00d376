package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Interop shim: `Column ⇄ Expression` bridging lives behind
 * `private[sql]` in Spark 4 (columns wrap ColumnNodes, not Expressions).
 * This object re-exports the two conversions the engine's custom
 * expressions need, and `Dataset.ofRows`, which the executor needs to
 * run a rewritten logical plan. Kept deliberately minimal — nothing else
 * from Spark internals is re-exported.
 */
object interop {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over `plan`, which must be analyzable in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
