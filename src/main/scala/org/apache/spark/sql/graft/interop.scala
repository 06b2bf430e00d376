package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery

/**
 * Interop shim: `Column ⇄ Expression` bridging lives behind
 * `private[sql]` in Spark 4 (columns wrap ColumnNodes, not Expressions).
 * This object re-exports the two conversions the engine's custom
 * expressions need, the two pieces the executor needs to run an
 * optimized plan of its own and to hand back rows it computed itself (a
 * frame over a given optimized plan, and a frame's encoder), and the
 * session clone a stream replay runs on. Kept
 * deliberately minimal — nothing else from Spark internals is re-exported
 * (`localTask` holds the task set-up).
 */
object interop {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame with `df`'s analyzed plan whose optimized plan is `optimized`
    * (a rewrite of `df`'s), planned as it stands: not optimized again, and
    * prepared as a plan without adaptive execution is. Planning happens
    * once, when the frame's physical plan is first asked for, under the
    * conf of the thread that asks. Running it goes through its own
    * `QueryExecution`, so the SQL execution that runs it describes the plan
    * that ran. */
  def planned(df: DataFrame, optimized: LogicalPlan): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = new QueryExecution(ds.sparkSession, ds.queryExecution.analyzed) {
      private lazy val prepared = ReuseExchangeAndSubquery(QueryExecution.prepareExecutedPlan(sparkSession, optimized))
      override def optimizedPlan: LogicalPlan = optimized
      override def executedPlan: SparkPlan = prepared
    }
    new classic.Dataset[Row](qe, ds.encoder)
  }

  /** A session whose conf, temporary views, functions and SQL listeners
    * start as copies of `s`'s, so settings and views made on it stay off
    * `s`: the per-query session Spark itself makes for a streaming query. */
  def cloneSession(s: SparkSession): SparkSession = s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `rows` of `df`'s physical plan, whose output is `output`, as the
    * `Row`s `df.collect()` hands back. */
  def fromInternal(df: DataFrame, output: Seq[Attribute], rows: Array[InternalRow]): Array[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    rows.map(ds.exprEnc.resolveAndBind(output, ds.sparkSession.sessionState.analyzer).createDeserializer())
  }
}
