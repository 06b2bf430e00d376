package graft.plans

import graft.operators.MaterializedAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, MultiInstanceRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/**
 * Automatic materialized-aggregate rewrite: a Catalyst optimizer rule
 * (registered through [[GraftExtensions]]) that serves whole-table
 * grouped aggregates from a registered [[graft.operators.MaterializedAgg]]
 * state instead of re-scanning the corpus — the query-serving half of
 * incremental view maintenance. The reference recomputes every
 * aggregate per request (`app/routes_ai.py:91` via `app/db.py:5`); at
 * 100 TB the same `GROUP BY` question should hit the key-sized state
 * the pipeline already maintains.
 *
 * Match contract (STRICT — anything else is left untouched, so wrong
 * answers are impossible by construction):
 *  - the aggregate's child is the registered base table itself, a pure
 *    column-pruning Project over it, or a deterministic Filter whose
 *    predicate references ONLY the group-key columns (a key-only
 *    predicate keeps or drops whole groups, so applying it to the
 *    key-sized state is exact; any predicate touching a non-key column
 *    changes group contents and must not be served);
 *  - grouping expressions are a SUBSET of the MV's key attributes: the
 *    exact key set maps state rows through directly; a strict subset —
 *    including the empty set, i.e. a global aggregate — serves by
 *    RE-AGGREGATING the key-sized state (aggregate navigation:
 *    COUNT → SUM of partial counts, SUM → SUM, MIN/MAX → MIN/MAX of
 *    partial extremes — exact for these distributive functions, and a
 *    state-sized job instead of a corpus scan);
 *  - every output is a group key or a non-DISTINCT, unfiltered
 *    COUNT(*) / COUNT(measure) / SUM / MIN / MAX / AVG over one of the
 *    registered measure columns — AVG is derived as sum over the
 *    NON-NULL count (`cnt` state column; dividing by the row count
 *    would be silently wrong whenever the measure carries NULLs), the
 *    others map to state columns directly. COUNT(*) and COUNT of a
 *    non-null literal map to `n`; COUNT(NULL) is zero for every group
 *    and is never served.
 *
 * A HAVING clause needs no special casing: it analyzes to a Filter
 * ABOVE the Aggregate over the aggregate's output attributes, and the
 * rewrite replaces the Aggregate underneath it with the same output
 * ids (post-state filters are always safe). A HAVING on a group KEY is
 * pushed below the aggregate by the optimizer and lands in the
 * key-only-Filter case above.
 *
 * The rewrite preserves the original output names AND expression ids,
 * so parent operators are oblivious; the MV-side plan is re-instanced
 * per rewrite (`MultiInstanceRelation.newInstance`) so two served
 * aggregates in one query never share attribute ids. Staleness is the
 * caller's contract: register the state frame kept current by
 * `MaterializedAgg.refresh` / `Streams.AggMaintainer` (re-register
 * after a refresh to advance the served snapshot — automated by
 * `AggMaintainer.serveThrough`; the same snapshot discipline as the
 * sketch-serving catalog).
 */
object MvCatalog {

  final case class Registered(
      baseName: String, basePlan: LogicalPlan,
      keys: Seq[String], measures: Seq[String], mvName: String)

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Seq[Registered]]()

  /** Register `state` (a [[graft.operators.MaterializedAgg.build]]/
    * `refresh` output for `baseTable` grouped by `keys` over `measure`)
    * as the serving source for matching aggregates. The state is
    * MATERIALIZED here (`localCheckpoint`) — the registered snapshot
    * must be precomputed rows, or serving would silently re-run the
    * aggregation through a lazy view; in a lakehouse deployment this is
    * the already-persisted state table. The base is remembered by its
    * optimized plan so `sameResult` sees through view/alias wrappers. */
  def register(spark: SparkSession, baseTable: String, keys: Seq[String],
      measure: String, state: DataFrame,
      mvName: String = "graft_mv_state"): Unit =
    registerMulti(spark, baseTable, keys, Seq(measure), state, mvName)

  /** [[register]] for a multi-measure state
    * ([[graft.operators.MaterializedAgg.buildMulti]]). */
  def registerMulti(spark: SparkSession, baseTable: String, keys: Seq[String],
      measures: Seq[String], state: DataFrame,
      mvName: String = "graft_mv_state"): Unit = {
    val cols = state.columns.map(_.toLowerCase).toSet
    val needed = keys.map(_.toLowerCase) ++ ("n" +:
      MaterializedAgg.colNames(measures).flatMap { case (_, (c, s, mn, mx)) =>
        Seq(c, s, mn, mx) }).map(_.toLowerCase)
    require(needed.forall(cols.contains),
      s"state must carry ${needed.mkString(", ")}; has ${state.columns.mkString(", ")}")
    state.localCheckpoint(true).createOrReplaceTempView(mvName)
    val entry = Registered(baseTable,
      spark.table(baseTable).queryExecution.optimizedPlan,
      keys, measures, mvName)
    reg.merge(spark, Seq(entry),
      (old, add) => old.filterNot(_.mvName == mvName) ++ add)
  }

  def clear(spark: SparkSession): Unit = { reg.remove(spark); () }

  def registered(spark: SparkSession): Seq[Registered] =
    reg.getOrDefault(spark, Seq.empty)
}

class MvRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val regs = MvCatalog.registered(session)
    if (regs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        // a malformed external replacement of the MV view must break the
        // REWRITE, never the query — fall through to the plain aggregate
        regs.view.flatMap { r =>
          try rewrite(groupExprs, aggExprs, child, r)
          catch { case scala.util.control.NonFatal(_) => None }
        }.headOption.getOrElse(agg)
    }
  }

  /** The aggregate child, stripped of pure column-pruning Projects and
    * of at most one Filter (validated against the keys by the caller). */
  private def strip(p: LogicalPlan,
      cond: Option[Expression]): Option[(Option[Expression], LogicalPlan)] =
    p match {
      case Project(projList, inner)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(inner, cond)
      case Filter(c, inner) if cond.isEmpty => strip(inner, Some(c))
      case other => Some((cond, other))
    }

  private def rewrite(groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan, r: MvCatalog.Registered): Option[LogicalPlan] = {
    val (cond, inner) = strip(child, None).getOrElse(return None)
    if (!inner.sameResult(r.basePlan)) return None
    // grouping must be a SUBSET of the MV keys (attributes, no
    // expressions): the exact key set serves state rows directly; a
    // strict subset — including the empty set, a global aggregate —
    // serves by RE-AGGREGATING the key-sized state (COUNT(*) → SUM(n),
    // SUM → SUM, MIN → MIN, MAX → MAX, AVG → SUM(sum)/SUM(cnt) — the
    // classic aggregate-navigation roll-up, exact for these functions)
    val groupAttrs = groupExprs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val keySet = r.keys.map(_.toLowerCase).toSet
    if (!groupAttrs.map(_.name.toLowerCase).toSet.subsetOf(keySet)) return None
    val exactKeys = groupAttrs.map(_.name.toLowerCase).toSet == keySet
    // a below-aggregate Filter is exact on the state iff it is a
    // deterministic, subquery-free predicate over the group keys alone
    cond.foreach { c =>
      if (!c.deterministic) return None
      if (c.exists(_.isInstanceOf[PlanExpression[_]])) return None
      if (!c.references.forall(a => keySet.contains(a.name.toLowerCase))) return None
    }

    // strip alias/view wrappers (EliminateView ran in the optimizer's
    // early batch, so a View injected NOW would reach the planner), then
    // RE-INSTANCE the leaves: two served aggregates in one query must
    // not embed the same attribute ids twice
    val mvPlan = EliminateSubqueryAliases(
      session.table(r.mvName).queryExecution.analyzed).transformUp {
      case v: View => v.child
    }.transformUp {
      case m: MultiInstanceRelation => m.newInstance()
    }
    def mvAttr(name: String): Attribute =
      mvPlan.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalStateException(
          s"registered MV '${r.mvName}' is missing column '$name'"))
    // measure column name -> (cnt, sum, min, max) state columns — the
    // same naming contract MaterializedAgg.buildMulti wrote
    val mcols: Map[String, (String, String, String, String)] =
      MaterializedAgg.colNames(r.measures)
        .map { case (m, ns) => m.toLowerCase -> ns }.toMap
    def measureOf(e: Expression): Option[(String, String, String, String)] =
      e match {
        case a: AttributeReference => mcols.get(a.name.toLowerCase)
        case _ => None
      }
    def serveAgg(fn: AggregateFunction): Option[Expression] = fn match {
      case c: Count if c.children.forall {
          case l: Literal => l.value != null
          case _ => false
        } =>
        Some(mvAttr("n"))
      case c: Count if c.children.sizeIs == 1 =>
        measureOf(c.children.head).map { case (cnt, _, _, _) => mvAttr(cnt) }
      case s: Sum => measureOf(s.child).map { case (_, sm, _, _) => mvAttr(sm) }
      case mn: Min => measureOf(mn.child).map { case (_, _, m, _) => mvAttr(m) }
      case mx: Max => measureOf(mx.child).map { case (_, _, _, m) => mvAttr(m) }
      case av: Average => measureOf(av.child).map { case (cnt, sm, _, _) =>
        // SQL AVG = sum / NON-NULL count; NULL (not an error, not a
        // wrong number) when every measure in the group is NULL
        val c = Cast(mvAttr(cnt), DoubleType)
        If(GreaterThan(c, Literal(0.0d)),
          Divide(Cast(mvAttr(sm), DoubleType), c),
          Literal(null, DoubleType))
      }
      case _ => None
    }
    // roll-up mapping for a key-SUBSET grouping: re-aggregate the
    // key-sized state instead of the corpus. Exact for these functions
    // (COUNT/SUM are distributive over the partial counts/sums; MIN/MAX
    // over partial extremes; AVG from total sum over total non-null
    // count). COUNT coalesces to 0 so a global count of an empty base
    // stays 0, not NULL. Decimal SUMs widen precision on re-summation
    // and fail the dataType check below — they fall through untouched.
    def rollupAgg(fn: AggregateFunction): Option[Expression] = fn match {
      case c: Count if c.children.forall {
          case l: Literal => l.value != null
          case _ => false
        } =>
        Some(Coalesce(Seq(Sum(mvAttr("n")).toAggregateExpression(), Literal(0L))))
      case c: Count if c.children.sizeIs == 1 =>
        measureOf(c.children.head).map { case (cnt, _, _, _) =>
          Coalesce(Seq(Sum(mvAttr(cnt)).toAggregateExpression(), Literal(0L)))
        }
      case s: Sum => measureOf(s.child).map { case (_, sm, _, _) =>
        Sum(mvAttr(sm)).toAggregateExpression() }
      case mn: Min => measureOf(mn.child).map { case (_, _, m, _) =>
        Min(mvAttr(m)).toAggregateExpression() }
      case mx: Max => measureOf(mx.child).map { case (_, _, _, m) =>
        Max(mvAttr(m)).toAggregateExpression() }
      case av: Average => measureOf(av.child).map { case (cnt, sm, _, _) =>
        val c = Cast(Sum(mvAttr(cnt)).toAggregateExpression(), DoubleType)
        If(GreaterThan(c, Literal(0.0d)),
          Divide(Cast(Sum(mvAttr(sm)).toAggregateExpression(), DoubleType), c),
          Literal(null, DoubleType))
      }
      case _ => None
    }
    val served: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name)
        if groupAttrs.exists(_.exprId == a.exprId) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name)
        if !ae.isDistinct && ae.filter.isEmpty =>
        (if (exactKeys) serveAgg(ae.aggregateFunction)
         else rollupAgg(ae.aggregateFunction)) match {
          case Some(e) if e.dataType == al.dataType =>
            Alias(e, name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    }
    val source = cond match {
      case Some(c) =>
        Filter(c.transform { case a: AttributeReference => mvAttr(a.name) }, mvPlan)
      case None => mvPlan
    }
    if (exactKeys) Some(Project(served, source))
    else Some(Aggregate(groupAttrs.map(a => mvAttr(a.name)), served, source))
  }
}
