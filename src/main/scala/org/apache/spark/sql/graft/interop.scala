package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/**
 * Interop shim: `Column ⇄ Expression` bridging lives behind
 * `private[sql]` in Spark 4 (columns wrap ColumnNodes, not Expressions).
 * This object re-exports the two conversions the engine's custom
 * expressions need, and `Dataset.ofRows`, adaptive execution's result
 * stage and a frame's encoder, which the executor needs to run a
 * rewritten logical plan and to compute and hand back rows itself. Kept
 * deliberately minimal — nothing else from Spark internals is re-exported
 * (`localTask` holds the task set-up).
 */
object interop {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over `plan`, which must be analyzable in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `rows` of `df`'s physical plan, whose output is `output`, as the
    * `Row`s `df.collect()` hands back. */
  def fromInternal(df: DataFrame, output: Seq[Attribute], rows: Array[InternalRow]): Array[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    rows.map(ds.exprEnc.resolveAndBind(output, ds.sparkSession.sessionState.analyzer).createDeserializer())
  }

  /** `f` of `plan`'s final physical plan, run as adaptive execution runs
    * its result stage (`executeCollect` does the same with `f =
    * _.executeCollect()`). The stage cleans up its operators (a sort frees
    * its sorter) once `f` returns, on a thread of its own, so whatever `f`
    * computes from the plan must be computed inside `f`. */
  def onFinalPlan[T](plan: SparkPlan)(f: SparkPlan => T): T = plan match {
    case adaptive: AdaptiveSparkPlanExec => adaptive.withFinalPlanUpdate(f)
    case other => f(other)
  }
}
