package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{BaseSubqueryExec, QueryExecution, SparkPlan, SubqueryExec, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery

/**
 * Interop shim: `Column ⇄ Expression` bridging lives behind
 * `private[sql]` in Spark 4 (columns wrap ColumnNodes, not Expressions).
 * This object re-exports the two conversions the engine's custom
 * expressions need; a frame over a parsed plan (analysed as `spark.sql`
 * analyses its parse); what the executor needs to run an optimized plan
 * of its own and to hand back rows it computed itself (a frame over a
 * given optimized plan, the physical rewrite that keeps that plan's
 * subqueries and aggregates in process, with the subquery node it puts in
 * ([[InProcessSubqueryExec]]), and a frame's encoder); and the session
 * clone a stream replay runs on. Kept deliberately minimal — nothing else
 * from Spark internals is re-exported (`localTask` holds the task set-up).
 */
object interop {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over `parsed`, a plan the session's SQL parser returned:
    * what `spark.sql` returns for the text it was parsed from. */
  def ofRows(spark: SparkSession, parsed: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], parsed)

  /** A frame with `df`'s analyzed plan whose optimized plan is `optimized`
    * (a rewrite of `df`'s), planned as it stands: not optimized again,
    * prepared as a plan without adaptive execution is, and rewritten by
    * [[inProcess]] to stop when `killed` is set. Planning happens once,
    * when the frame's physical plan is first asked for, under the conf of
    * the thread that asks. Running it goes through its own
    * `QueryExecution`, so the SQL execution that runs it describes the plan
    * that ran. */
  def planned(df: DataFrame, optimized: LogicalPlan, killed: AtomicBoolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = new QueryExecution(ds.sparkSession, ds.queryExecution.analyzed) {
      private lazy val prepared =
        ReuseExchangeAndSubquery(inProcess(QueryExecution.prepareExecutedPlan(sparkSession, optimized), killed))
      override def optimizedPlan: LogicalPlan = optimized
      override def executedPlan: SparkPlan = prepared
    }
    new classic.Dataset[Row](qe, ds.encoder)
  }

  /** A prepared physical plan whose subqueries and aggregates run without
    * a job, without cleaning a closure and without reserving a memory page
    * for a few groups, subquery plans included:
    *  - each subquery's plan is computed in process by the thread that
    *    needs its value ([[InProcessSubqueryExec]]), not as a job on
    *    Spark's subquery pool;
    *  - each hash aggregate becomes the object hash aggregate Spark plans
    *    for typed aggregates, over the same fields. It builds its RDD with
    *    no closure cleaning (the hash aggregate's `mapPartitionsWithIndex`
    *    re-reads and parses its class on every execution), and below
    *    `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups
    *    (128) it holds them in a plain hash map, where the hash aggregate
    *    reserves a whole memory page on its first row; past that count it
    *    sorts the rest, which does reserve memory. */
  private def inProcess(plan: SparkPlan, killed: AtomicBoolean): SparkPlan = plan.transformUpWithSubqueries {
    case SubqueryExec(name, child, maxNumRows) => InProcessSubqueryExec(name, child, maxNumRows)(killed)
    case a: HashAggregateExec =>
      ObjectHashAggregateExec(a.requiredChildDistributionExpressions, a.isStreaming, a.numShufflePartitions,
        a.groupingExpressions, a.aggregateExpressions, a.aggregateAttributes, a.initialInputBufferOffset,
        a.resultExpressions, a.child)
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

/** A subquery's plan whose rows are computed once, by the thread that first
  * asks for them, as [[localTask.rows]] computes a plan's rows: in process
  * when `child` is one partition with narrow lineage, else as jobs, as
  * `SubqueryExec` runs them. At most `maxNumRows` rows are computed (2 for a
  * scalar subquery, whose expression then raises Spark's own error on more
  * than one), and setting `killed` stops the computation at its next row. */
case class InProcessSubqueryExec(name: String, child: SparkPlan, maxNumRows: Option[Int])(killed: AtomicBoolean)
    extends BaseSubqueryExec with UnaryExecNode {

  @transient private lazy val rows: Array[InternalRow] = localTask.rows(child, killed, maxNumRows)

  override def executeCollect(): Array[InternalRow] = rows
  override protected def doExecute(): RDD[InternalRow] =
    throw QueryExecutionErrors.executeCodePathUnsupportedError(nodeName)
  override protected def otherCopyArgs: Seq[AnyRef] = killed :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): InProcessSubqueryExec =
    copy(child = newChild)(killed)
  override def doCanonicalize(): SparkPlan = InProcessSubqueryExec("Subquery", child.canonicalized, maxNumRows)(killed)
  override protected def stringArgs: Iterator[Any] = Iterator(name, s"[id=#$id]")
}
