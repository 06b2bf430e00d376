package graft.exec

import java.util.concurrent.{Executors, TimeUnit, TimeoutException => JTimeoutException}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, HintInfo, Join, JoinHint, LeafNode,
  LogicalPlan, Project, Repartition, SHUFFLE_HASH, SHUFFLE_REPLICATE_NL}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graft.{interop, localTask}
import org.apache.spark.sql.internal.SQLConf
import graft.core._
import graft.safety.Validator
import graft.safety.Validator.Validated

/**
 * Execution layer: cost gate + timed, LIMIT-capped, read-only execution
 * (V9/V10 in SURVEY.md §2.8; ref `app/ai/nl2sql.py:332-374`,
 * `app/routes_ai.py:277-306`).
 *
 * Scale notes: the only distributed step is the Spark action itself; the
 * driver never materializes more than the injected LIMIT (default 100,
 * hard ceiling `maxRows` 500 — ref README.md:113-118). The cost gate reads
 * optimizer statistics off the already-built plan — no extra cluster
 * round-trip (unlike the reference's separate EXPLAIN connection).
 * The validated query is analysed and optimized once, for the read-only
 * guard and the cost gate. A query whose estimated input (the summed leaf
 * `sizeInBytes` of that optimized plan, subquery plans included) is below
 * [[SmallInputMaxBytes]] then runs that optimized plan rewritten to one
 * partition ([[onePartition]]), planned once without adaptive execution
 * ([[interop.planned]]: with no exchange there is no stage to re-plan),
 * interpreted and in process, for that one execution only. One partition:
 * every scan, join and `Expand` (the joins the optimizer made from IN,
 * EXISTS, EXCEPT or a correlated scalar subquery included, and a distinct
 * aggregate's or a ROLLUP's `Expand`) sits behind a narrow coalesce and
 * joins are hinted not to broadcast, so the planner inserts no exchange,
 * where scheduling the jobs of a shuffle, a range-partition
 * sample or a broadcast would cost more than the rows. Interpreted:
 * whole-stage codegen off and interpreted expression factories, because
 * compiling a query's generated classes with Janino costs more than it
 * saves when the query reads a few thousand rows, and a fresh question
 * compiles all of its own. In process: such a plan's RDD is one partition
 * whose dependencies are narrow all the way down, and that partition is
 * computed in this process as a task of its own, with no Spark job
 * ([[collectSmall]]), since a job's fixed cost (scheduling, closure
 * cleaning, task set-up) is most of a small answer's time. So is an
 * uncorrelated scalar subquery's plan, by the thread that needs its value,
 * and each hash aggregate runs as an object hash aggregate, which cleans
 * no closure and holds up to 128 groups without reserving a memory page
 * ([[interop.planned]]). What still runs jobs: an outer or anti join with
 * no equality, whose only plans broadcast, and inputs above the bound. The narrow-lineage guard is a correctness rule, not a tuning
 * one: a shuffle's map side runs only as a stage the scheduler runs first,
 * and a plan that shuffles, computed in process where nothing had run that
 * stage, returned wrong rows with no error. A plain small frame handed to
 * [[collectWithTimeout]] (a sketch-served answer) is not rewritten: it
 * runs its own plan, interpreted, in process when that plan has no
 * exchange and as the session's adaptive plan runs when it shuffles.
 * Larger inputs keep the session's compiled, partitioned, adaptive plan
 * and its jobs.
 */
object Executor {

  /** Governance defaults (ref: routes_ai.py:134-135, README.md:113-118,
    * routes_ai.py:281-285). */
  val DefaultLimit = 100
  val MaxRows = 500
  val DefaultTimeoutMs = 5000L
  val ExplainGateRows = 100000L

  /** Inputs below this many estimated bytes run interpreted, in one partition
    * and in process. Set from a sweep over the 21 pilot questions on sf0.1
    * parquet (customer 316 KB, orders 2.7 MB, lineitem 10.8 MB), median of
    * ten steady-state asks on a 4-core VM, before the one-partition rewrite:
    * at 1 MiB the 21 took 2142 ms together against 2641 ms with every query
    * compiled, and no question's median rose by more than 5 ms; at 16 MiB the
    * `orders` questions (150k rows) ran slower than at 1 MiB (pilot/14 116 →
    * 166 ms, pilot/17 130 → 208 ms) and the `lineitem` one tripled (pilot/5
    * 166 → 502 ms), as per-row interpretation overtook the compile time it
    * saves. One task over 1 MiB is still a few milliseconds of work. */
  val SmallInputMaxBytes: Long = 1L << 20

  /** The per-execution settings of a small input: interpreted (whole-stage
    * codegen off, interpreted expression factories), and no size limit on
    * a join side in one partition, which the planner otherwise shuffles
    * once its *estimated* size passes `spark.sql.maxSinglePartitionBytes`
    * (128 MB): a join's estimate multiplies its sides' estimates, so a
    * join over a join of tiny tables can pass it. */
  private val SmallInputConf = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.MAX_SINGLE_PARTITION_BYTES.key -> Long.MaxValue.toString)

  /** Build the capped DataFrame for validated SQL: analyse the validator's
    * parse of it (`v.plan`; the text is not parsed again) and inject
    * `limit(n)` when the plan had no top-level LIMIT —
    * semantics of the reference's AST rewrite (nl2sql.py:299-306). */
  def frame(spark: SparkSession, v: Validated, limit: Int = DefaultLimit): DataFrame = {
    val df = interop.ofRows(spark, v.plan)
    if (v.needsLimit) df.limit(math.min(limit, MaxRows)) else df
  }

  /**
   * EXPLAIN cost gate (V9, ref routes_ai.py:277-285): reject when the
   * optimizer's estimated output cardinality exceeds `maxEstimatedRows`.
   * Uses Catalyst plan statistics (rowCount when CBO/row-count stats are
   * available, else a sizeInBytes-derived estimate) instead of the
   * reference's Postgres `EXPLAIN … rows=` regex.
   */
  def costGate(df: DataFrame, maxEstimatedRows: Long = ExplainGateRows): Either[EngineError, Unit] = {
    val stats = df.queryExecution.optimizedPlan.stats
    val estRows: BigInt = stats.rowCount.getOrElse {
      // Conservative fallback: assume ~32 bytes/row when only sizeInBytes
      // is known (parquet views without ANALYZE).
      val width = math.max(32, df.schema.fields.length * 16)
      stats.sizeInBytes / width
    }
    if (estRows > BigInt(maxEstimatedRows))
      Left(PlanTooLargeError(s"Plan too large: estimated rows $estRows > $maxEstimatedRows"))
    else Right(())
  }

  /** Estimated input of a plan: the summed `sizeInBytes` of its leaves,
    * the leaves of every subquery plan included. */
  private[exec] def inputBytes(plan: LogicalPlan): BigInt =
    (plan +: plan.subqueriesAll).flatMap(_.collectLeaves()).map(_.stats.sizeInBytes).sum

  private def isSmall(df: DataFrame): Boolean =
    inputBytes(df.queryExecution.optimizedPlan) < SmallInputMaxBytes

  private val ShuffleHash = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
  private val ReplicateNl = Some(HintInfo(strategy = Some(SHUFFLE_REPLICATE_NL)))

  /** The plan a small input runs: an optimized plan with every scan, every
    * join and every `Expand`, subquery plans included, behind a narrow
    * coalesce to one partition (`Repartition(1, shuffle = false)`, no
    * shuffle), placed above the projections and filters over what it
    * coalesces so that a file scan still prunes columns and pushes filters. A child in one
    * partition satisfies every distribution that a sort, an aggregate, a
    * window or a join requires, so the planner inserts no exchange. A
    * join's own output is not one partition to the planner (it is the pair
    * of its sides' partitionings), so a join over a join would shuffle both
    * sides without the coalesce above the inner one. Joins are hinted so
    * that none broadcasts, which would run a job of its own: an equi-join
    * as a local hash join (SHUFFLE_HASH on both sides), an inner join with
    * no equality as a cartesian product (SHUFFLE_REPLICATE_NL, which reads
    * both one-partition sides in place); an outer or anti join with no
    * equality has no such plan and still broadcasts. An `Expand` (a
    * distinct aggregate's or a ROLLUP's) reports an unknown partitioning,
    * so the aggregate above it would shuffle without the coalesce above it.
    * The rows are the same: a coalesce moves no row, a hint changes only
    * the join's strategy. */
  private[exec] def onePartition(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case leaf: LeafNode => coalesced(leaf)
    case p @ (_: Project | _: Filter) => p.children.head match {
      case Repartition(1, false, scan) => coalesced(p.withNewChildren(Seq(scan)))
      case _ => p
    }
    case j: Join if ExtractEquiJoinKeys.unapply(j).isDefined =>
      coalesced(j.copy(hint = JoinHint(ShuffleHash, ShuffleHash)))
    case j: Join if j.joinType.isInstanceOf[InnerLike] =>
      coalesced(j.copy(hint = JoinHint(ReplicateNl, ReplicateNl)))
    case j: Join => coalesced(j)
    case e: Expand => coalesced(e)
  }

  private def coalesced(plan: LogicalPlan): LogicalPlan = Repartition(1, shuffle = false, plan)

  /** Timed collect with job-group cancellation — the Spark analogue of
    * `SET LOCAL statement_timeout` (V10, ref nl2sql.py:332-342). A small
    * input ([[SmallInputMaxBytes]]) runs its own plan as [[collectSmall]]
    * runs it, planned on the worker thread under its interpreted conf:
    * in process where that plan allows, and as the session's adaptive
    * plan runs (its shuffle stages and their partitions coalesced by
    * adaptive execution) where it shuffles. */
  def collectWithTimeout(spark: SparkSession, df: DataFrame, timeoutMs: Long): Either[EngineError, Array[Row]] =
    timed(spark, df, isSmall(df), timeoutMs, new AtomicBoolean)

  /** `df`'s rows, on a single-use worker thread in a job group of its own:
    * `df.collect()`, or [[collectSmall]] when `small`. On timeout the job
    * group is cancelled and `killed` is set, so an in-process task (a
    * subquery's of a frame [[interop.planned]] with the same flag
    * included) is killed at the next row a scan hands it, as cancelling the
    * job group kills a job's tasks. A small frame's settings live only on
    * the worker thread: a clone of the session conf for its planning, and
    * local properties the thread's jobs hand to their tasks (and the
    * in-process task to itself). The session conf is never written, since
    * a set/restore on it would race with concurrent work. */
  private def timed(spark: SparkSession, df: DataFrame, small: Boolean, timeoutMs: Long,
      killed: AtomicBoolean): Either[EngineError, Array[Row]] = {
    val group = s"graft-exec-${System.nanoTime()}"
    // a daemon: a query still computing after its timeout must not hold the JVM open
    val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, group); t.setDaemon(true); t
    }
    try {
      val fut = pool.submit(new java.util.concurrent.Callable[Array[Row]] {
        override def call(): Array[Row] = {
          val sc = spark.sparkContext
          sc.setJobGroup(group, "graft timed execution", interruptOnCancel = true)
          try {
            if (!small) df.collect()
            else {
              val conf = df.sparkSession.sessionState.conf.clone()
              SmallInputConf.foreach { case (k, v) => conf.setConfString(k, v); sc.setLocalProperty(k, v) }
              SQLConf.withExistingConf(conf)(collectSmall(df, killed))
            }
          } finally sc.clearJobGroup()
        }
      })
      try Right(fut.get(timeoutMs, TimeUnit.MILLISECONDS))
      catch {
        case _: JTimeoutException =>
          killed.set(true)
          spark.sparkContext.cancelJobGroup(group)
          fut.cancel(true)
          Left(TimeoutError(s"Execution exceeded ${timeoutMs}ms"))
        case e: java.util.concurrent.ExecutionException =>
          Left(ExecutionError(Option(e.getCause).getOrElse(e).getMessage.take(1000)))
      }
    } finally pool.shutdownNow()
  }

  /** A small frame's rows, in one SQL execution, so SQL listeners see it
    * with the plan that ran. When the plan's RDD is one partition whose
    * dependencies are narrow all the way down, that partition is computed
    * as a task of its own, with no job ([[localTask.rows]]); building the
    * RDD first computes the plan's subqueries (in process for a frame
    * [[interop.planned]]) and runs its broadcasts as jobs (only an outer or
    * anti join with no equality has one). Otherwise the plan runs as
    * `collect()` runs it, as does an adaptive plan (a plain frame's that
    * shuffles), whose stages run as jobs. `killed` stops the task at its
    * next row. */
  private def collectSmall(df: DataFrame, killed: AtomicBoolean): Array[Row] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val rows = plan match {
        case _: AdaptiveSparkPlanExec => plan.executeCollect()
        case _ => localTask.rows(plan, killed)
      }
      interop.fromInternal(df, plan.output, rows)
    }
  }

  /** JSON-safe coercion at the sink (ref nl2sql.py:325-330): Decimal →
    * double, temporal → ISO-8601 string, nested → a *JSON document
    * string* (the reference's `json.dumps` contract for nested values,
    * nl2mongo.py:220-222). String quoting/escaping is shared with the
    * response envelope (`Responses.jsonValue`) so a nested text value
    * containing `,`/`]`/`"` can never corrupt the payload. */
  def jsonSafe(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue()
    case d: scala.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case _: collection.Seq[_] | _: collection.Map[_, _] | _: Row => nestedJson(v)
    case other => other
  }

  /** Render a nested value as a valid JSON document (json.dumps shape:
    * `", "` / `": "` separators, properly quoted strings). */
  private def nestedJson(v: Any): String = v match {
    case s: collection.Seq[_] => s.map(nestedJson).mkString("[", ", ", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => graft.api.Responses.jsonString(String.valueOf(k)) + ": " + nestedJson(x) }
        .mkString("{", ", ", "}")
    case r: Row => r.toSeq.map(nestedJson).mkString("[", ", ", "]")
    case other => graft.api.Responses.jsonValue(jsonSafe(other))
  }

  /** Full guarded execution: cost gate → timed collect → JSON-safe rows +
    * explain capture (the reference's `/ai/run` tail — main.py:298-331). */
  def run(
      spark: SparkSession,
      v: Validated,
      limit: Int = DefaultLimit,
      timeoutMs: Long = DefaultTimeoutMs): Either[EngineError, QueryResult] =
    execute(spark, v, limit, timeoutMs).map(_._2)

  /** [[run]], also handing back the executed frame, whose analyzed plan is
    * the validated query's (a caller reads it instead of parsing and
    * analysing the SQL again) and whose optimized and physical plans are
    * the ones that ran: for a small input, [[onePartition]] of the
    * validated frame's optimized plan, planned by [[interop.planned]]
    * with the flag the timeout sets, so a subquery computed in process
    * stops with the answer. */
  private[graft] def execute(
      spark: SparkSession,
      v: Validated,
      limit: Int,
      timeoutMs: Long): Either[EngineError, (DataFrame, QueryResult)] =
    // Planning itself can throw (analysis errors, ANSI cast failures
    // surfacing through constant folding in the cost gate's optimized
    // plan) — the always-answer contract (V13) requires an error
    // envelope, never an exception, so the whole pipeline is guarded.
    try {
      val df = frame(spark, v, limit)
      val killed = new AtomicBoolean
      for {
        _ <- readOnly(df.queryExecution.analyzed)
        _ <- costGate(df)
        small = isSmall(df)
        toRun = if (small) interop.planned(df, onePartition(df.queryExecution.optimizedPlan), killed) else df
        // the plan that runs is vetted too, not only the one it came from
        _ <- readOnly(toRun.queryExecution.optimizedPlan)
        rows <- timed(spark, toRun, small, timeoutMs, killed)
      } yield (toRun, QueryResult(
        sql = v.sql,
        columns = toRun.columns.toSeq,
        rows = rows.toSeq.map(_.toSeq.map(jsonSafe)),
        rowcount = rows.length,
        explain = toRun.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(ExecutionError(Option(e.getMessage).getOrElse(e.getClass.getName).take(1000)))
    }

  /** Read-only guard on a RESOLVED plan, subquery plans included: the
    * parse-time NAME denylist can miss a registry alias (`try_reflect`
    * resolves to the same reflection call as `reflect`), the resolved
    * plan cannot. The scan is applied DIRECTLY to this query's plans
    * rather than by toggling spark.graft.readOnly around execution:
    * the conf is session-global, so a per-query set/restore races with
    * concurrent work on a shared session (another thread's legitimate
    * write failing inside the window, or an overlapping run restoring the
    * flag away mid-analysis). The direct check is per-query, race-free,
    * and independent of whether GraftExtensions is registered; sessions
    * that want the analyzer-rule layer on EVERYTHING (not just engine
    * queries) still opt in via the conf. */
  private def readOnly(plan: LogicalPlan): Either[EngineError, Unit] =
    graft.plans.ReadOnlyGuard
      .firstOffenseDeep(plan)
      .map(what => SqlSafetyError(s"Statically un-vettable construct: $what is not allowed"))
      .toLeft(())

  /** Validate + execute raw SQL in one call. */
  def runSql(
      spark: SparkSession,
      sql: String,
      allowedTables: Set[String],
      limit: Int = DefaultLimit,
      timeoutMs: Long = DefaultTimeoutMs): Either[EngineError, QueryResult] =
    Validator.validate(spark, sql, allowedTables).flatMap(run(spark, _, limit, timeoutMs))
}
