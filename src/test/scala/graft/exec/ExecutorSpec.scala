package graft.exec

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkEnv, SparkThrowable}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FileSourceScanExec, QueryExecution,
  SimpleMode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graft.{InProcessSubqueryExec, localTask}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.core.{ExecutionError, PlanTooLargeError, QueryResult, SqlSafetyError, TimeoutError}
import graft.eval.SchoolFixture
import graft.safety.Validator
import graft.sources.Sources

class ExecutorSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  lazy val tables: Set[String] = Sources.register(spark, sfDir).toSet
  lazy val school: Set[String] = SchoolFixture.register(spark).toSet

  private def compiledStages(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }.size

  /** Exchanges and coalesces of the physical plan that ran (an answer's
    * frame is the one that ran), subquery plans included. */
  private def exchanges(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    }.size

  private def coalesces(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case c: CoalesceExec => c }.size

  private def executeOn(sql: String, tables: Set[String]): (DataFrame, QueryResult) = {
    val v = Validator.validate(spark, sql, tables).fold(e => fail(s"$sql: ${e.message}"), identity)
    Executor.execute(spark, v, Executor.DefaultLimit, Executor.DefaultTimeoutMs)
      .fold(e => fail(s"$sql: ${e.message}"), identity)
  }

  private def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("|")).sorted

  /** Returns once the listener bus has delivered every event posted before
    * the call: the bus delivers a queue's events in order but on its own
    * thread, so a marker job is run and its start awaited. */
  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val marker = s"listener-barrier-${System.nanoTime()}"
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of jobs it ran in Executor's job groups. */
  private def withExecJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (Option(p.getProperty("spark.jobGroup.id")).exists(_.startsWith("graft-exec-"))) jobs.incrementAndGet()
      }
    }
    drainListeners()
    sc.addSparkListener(listener)
    try {
      val a = f
      drainListeners()
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("unbounded select gets LIMIT injected (cap 100)") {
    val r = Executor.runSql(spark, "SELECT l_orderkey FROM lineitem", tables)
    assert(r.exists(_.rowcount == 100))
  }

  test("explicit limit is preserved, not overridden") {
    val r = Executor.runSql(spark, "SELECT l_orderkey FROM lineitem LIMIT 7", tables)
    assert(r.exists(_.rowcount == 7))
  }

  test("requested limit above MaxRows is clamped") {
    val r = Executor.runSql(spark, "SELECT l_orderkey FROM lineitem", tables, limit = 10000)
    assert(r.exists(_.rowcount == Executor.MaxRows))
  }

  test("cost gate rejects an unbounded cartesian explosion") {
    tables // force registration
    val df = spark.sql(
      "SELECT * FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c")
    assert(Executor.costGate(df, maxEstimatedRows = 100000) ==
      Left(PlanTooLargeError(Executor.costGate(df, 100000).swap.toOption.get.message)))
  }

  test("cost gate admits a limited query") {
    tables
    val v = Validator.validate(spark, "SELECT * FROM lineitem LIMIT 10", tables).toOption.get
    val df = Executor.frame(spark, v)
    assert(Executor.costGate(df).isRight)
  }

  test("result shape matches the reference envelope") {
    val r = Executor.runSql(spark,
      "SELECT c_name, c_acctbal FROM customer ORDER BY c_custkey LIMIT 3", tables)
    val qr = r.toOption.get
    assert(qr.columns == Seq("c_name", "c_acctbal"))
    assert(qr.rowcount == 3 && qr.rows.size == 3)
    assert(qr.explain.nonEmpty)
  }

  test("jsonSafe coerces decimals, dates and timestamps") {
    assert(Executor.jsonSafe(new java.math.BigDecimal("1.5")) == 1.5)
    assert(Executor.jsonSafe(java.sql.Date.valueOf("2024-01-02")) == "2024-01-02")
    assert(Executor.jsonSafe(java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
      .toString.startsWith("2024-01-02T03:04:05"))
  }

  test("jsonSafe renders nested values as valid JSON (json.dumps shape)") {
    // A text value containing `", ]"` must not corrupt the envelope.
    val v = Executor.jsonSafe(Seq("a\"b", ", ]", "c"))
    assert(v == """["a\"b", ", ]", "c"]""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = mapper.readTree(v.asInstanceOf[String])
    assert(parsed.isArray && parsed.size == 3 && parsed.get(1).asText == ", ]")
    // maps and rows nest recursively; scalar coercion still applies inside
    val m = Executor.jsonSafe(Map("k\"1" -> Seq(1, 2), "d" -> java.sql.Date.valueOf("2024-01-02")))
    val pm = mapper.readTree(m.asInstanceOf[String])
    assert(pm.get("k\"1").get(1).asInt == 2 && pm.get("d").asText == "2024-01-02")
  }

  /** r15 ADVICE (high + medium), verified as the advisor ran it: the
    * try_reflect ALIAS walked the full default path because (a) the
    * parse-time name denylist didn't know it and (b) nothing ever set
    * spark.graft.readOnly, so the resolved-expression layer never
    * engaged. Both layers now fire on Executor.run itself. */
  test("try_reflect (and every reflection alias) is denied on the default runSql path") {
    Seq(
      "SELECT try_reflect('java.lang.System', 'getenv', 'PATH') AS v FROM nation LIMIT 1",
      "SELECT reflect('java.lang.System', 'getenv', 'PATH') AS v FROM nation LIMIT 1"
    ).foreach { sql =>
      val r = Executor.runSql(spark, sql, tables)
      assert(r.isLeft, s"must not execute: $sql")
      // and no result row ever carried an environment value
      assert(!r.exists(_.rows.exists(_.exists(v => v != null && v.toString.contains("/")))))
    }
  }

  test("guarded execution never mutates the session-global readOnly conf (race-free by design)") {
    // own the initial state (the shared session may carry another
    // suite's leftover value): the resolved-plan layer is applied
    // per-query inside run(), NOT by toggling the session conf — a
    // set/restore window would race with concurrent work on a shared
    // session (round-16 self-review)
    spark.conf.unset("spark.graft.readOnly")
    // nor does the interpreted path leak its settings into the session
    // conf or the calling thread's local properties
    val confBefore = spark.conf.getAll
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    def props = keys.map(spark.sparkContext.getLocalProperty)
    val propsBefore = props
    assert(Executor.runSql(spark, "SELECT n_name FROM nation LIMIT 3", tables).isRight)
    assert(spark.conf.get("spark.graft.readOnly", "unset") == "unset")
    assert(spark.conf.getAll == confBefore)
    assert(props == propsBefore)
    // a caller-pinned value is untouched either way
    spark.conf.set("spark.graft.readOnly", "true")
    try {
      assert(Executor.runSql(spark, "SELECT n_name FROM nation LIMIT 3", tables).isRight)
      assert(spark.conf.get("spark.graft.readOnly") == "true")
    } finally spark.conf.unset("spark.graft.readOnly")
  }

  /** The resolved-plan layer must hold even when the parse-time NAME
    * denylist is bypassed entirely (the r15 hole class: an alias the
    * list didn't know). Simulate the bypass by handing Executor.run a
    * pre-"Validated" reflection query directly — the run-side scan of
    * the analyzed plan (all aliases resolve to CallMethodViaReflection)
    * must still refuse to execute it. */
  test("reflection survives a name-denylist bypass: Executor.run's resolved-plan layer refuses") {
    tables
    val sql = "SELECT try_reflect('java.lang.System', 'getenv', 'PATH') AS v FROM nation LIMIT 1"
    val smuggled = Validator.Validated(sql, spark.sessionState.sqlParser.parsePlan(sql), needsLimit = false)
    val r = Executor.run(spark, smuggled)
    assert(r.isLeft, "a smuggled reflection query must not execute")
    assert(!r.exists(_.rows.exists(_.exists(v => v != null && v.toString.contains("/")))))
  }

  private def workers = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-exec-"))

  private def settled(within: Long)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + within * 1000000
    while (!cond && System.nanoTime() < end) Thread.sleep(10)
    cond
  }

  /** The in-process path keeps the timeout: the timed-out task is killed
    * at the next row a scan hands it, and its memory (here the sorter an
    * aggregation of more than 128 groups falls back to: the innermost
    * side's key changes at every row) goes back to the pool. It runs before
    * "timeout cancels a long-running query", whose timed-out job keeps its
    * executor task (and that task's memory) until the task's next check
    * for a kill. */
  test("a timed-out answer computed in process stops and releases its memory") {
    school
    val memory = SparkEnv.get.memoryManager
    val before = memory.executionMemoryUsed
    @volatile var peak = before
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { peak = math.max(peak, memory.executionMemoryUsed); Thread.sleep(5) })
    poller.start()
    // ~3·10⁸ rows: minutes of work, so only a kill stops it within the waits below
    val sql = "SELECT c.score_id, COUNT(*) AS n FROM scores a CROSS JOIN scores b CROSS JOIN scores c " +
      "GROUP BY c.score_id"
    val t0 = System.nanoTime()
    val r = Executor.runSql(spark, sql, school, timeoutMs = 1500)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(r.left.exists(_.isInstanceOf[TimeoutError]), r)
    assert(ms < 1500 + 2000, s"answered after $ms ms")
    val stuck = workers // may be empty: the worker can have stopped already
    stuck.foreach(_.join(10000))
    assert(stuck.forall(!_.isAlive), "the worker kept running")
    assert(settled(10000)(memory.executionMemoryUsed == before), "the task kept its memory")
    polling = false
    poller.join()
    assert(peak > before, "the aggregation held no execution memory")
    assert(Executor.runSql(spark, "SELECT COUNT(*) AS n FROM students", school).exists(_.rows == Seq(Seq(100L))))
  }

  /** The next test's triple cross join, on the engine's own path: the cost
    * gate admits it (a global COUNT(*) is one estimated row), its input is
    * three scans of a 117 KB file, so it runs interpreted as nested
    * cartesian products in one partition, in process and with no job.
    * Killed on timeout, its task stops (a cartesian product checks for a
    * kill at each row of its outer side) and its memory (the buffered inner
    * sides) goes back to the pool. */
  test("a timed-out cross join on the engine's path runs in process and releases its memory") {
    tables
    val memory = SparkEnv.get.memoryManager
    val before = memory.executionMemoryUsed
    val sql = "SELECT COUNT(*) AS c FROM (SELECT a.l_orderkey FROM lineitem a CROSS JOIN lineitem b " +
      "CROSS JOIN lineitem c) t"
    val v = Validator.validate(spark, sql, tables).fold(e => fail(e.message), identity)
    assert(Executor.costGate(Executor.frame(spark, v)).isRight)
    val (r, jobs) = withExecJobs(Executor.run(spark, v, timeoutMs = 900))
    assert(r.left.exists(_.isInstanceOf[TimeoutError]), r)
    assert(jobs == 0, "the cross join ran as a job")
    val stuck = workers
    stuck.foreach(_.join(20000))
    assert(stuck.forall(!_.isAlive), "the worker kept running")
    assert(settled(10000)(memory.executionMemoryUsed == before), "the task kept its memory")
  }

  /** The same triple cross join inside an uncorrelated scalar subquery: the
    * subquery is computed in process too, by the answer's worker, and the
    * timeout kills it there. */
  test("a timed-out scalar subquery stops in process and releases its memory") {
    tables
    val memory = SparkEnv.get.memoryManager
    val before = memory.executionMemoryUsed
    val sql = "SELECT n_name FROM nation WHERE n_nationkey < " +
      "(SELECT COUNT(*) FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c)"
    val (r, jobs) = withExecJobs(Executor.runSql(spark, sql, tables, timeoutMs = 900))
    assert(r.left.exists(_.isInstanceOf[TimeoutError]), r)
    assert(jobs == 0, "the subquery ran as a job")
    val stuck = workers
    stuck.foreach(_.join(20000))
    assert(stuck.forall(!_.isAlive), "the worker kept running")
    assert(settled(10000)(memory.executionMemoryUsed == before), "the task kept its memory")
  }

  test("timeout cancels a long-running query") {
    tables
    val v = Validator.validate(spark,
      "SELECT COUNT(*) AS c FROM (SELECT a.l_orderkey FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c) t",
      tables).toOption.get
    val df = spark.sql(v.sql)
    val r = Executor.collectWithTimeout(spark, df, timeoutMs = 900)
    assert(r.isLeft)
  }

  /** Template shapes on the school fixture: small inputs, so each runs
    * interpreted, and each must return what the compiled path returns. */
  test("a small query runs interpreted and returns the compiled path's rows") {
    val shapes = Seq( // (sql, ORDER BY is total)
      "SELECT student_name, age FROM students WHERE age > 15 ORDER BY student_id LIMIT 10" -> true,
      "SELECT grade, COUNT(*) AS n, AVG(score) AS avg_score FROM scores GROUP BY grade HAVING COUNT(*) > 10" -> false,
      "SELECT student_id, course_id, score, LAG(score) OVER (PARTITION BY student_id ORDER BY course_id) AS prev " +
        "FROM scores WHERE student_id <= 5" -> false,
      "SELECT * FROM (SELECT course_id, student_id, score, ROW_NUMBER() OVER " +
        "(PARTITION BY course_id ORDER BY score DESC, student_id) AS rn FROM scores) t WHERE rn <= 3" -> false,
      "WITH per_course AS (SELECT course_id, AVG(score) AS avg_score FROM scores GROUP BY course_id) " +
        "SELECT c.course_name, p.avg_score FROM per_course p JOIN courses c ON c.course_id = p.course_id" -> false,
      "SELECT student_id, score FROM scores WHERE course_id = 3 AND score > (SELECT AVG(score) FROM scores)" -> false,
      "SELECT student_name FROM students WHERE student_id IN (SELECT student_id FROM scores WHERE score >= 99)" -> false,
      "SELECT DISTINCT c.dept, s.grade_level FROM scores x JOIN students s ON s.student_id = x.student_id " +
        "JOIN courses c ON c.course_id = x.course_id WHERE x.grade = 'A'" -> false,
      "SELECT student_id FROM scores WHERE grade = 'A' INTERSECT SELECT student_id FROM scores WHERE grade = 'F'" -> false,
      "SELECT student_id, CASE WHEN age > 16 THEN 'older' END AS band FROM students WHERE student_id <= 20" -> false)
    shapes.foreach { case (sql, total) =>
      val v = Validator.validate(spark, sql, school).fold(e => fail(s"$sql: ${e.message}"), identity)
      val (df, r) = Executor.execute(spark, v, Executor.DefaultLimit, Executor.DefaultTimeoutMs)
        .fold(e => fail(s"$sql: ${e.message}"), identity)
      assert(Executor.inputBytes(df.queryExecution.optimizedPlan) < Executor.SmallInputMaxBytes, sql)
      assert(compiledStages(df) == 0, sql)
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      assert(expected.size <= Executor.DefaultLimit, sql)
      if (total) assert(r.rows == expected, sql)
      else assert(sorted(r.rows) == sorted(expected), sql)
    }
    // ORDER BY + LIMIT keeps its order
    val ordered = Executor.runSql(spark,
      "SELECT student_id FROM students ORDER BY age DESC, student_id LIMIT 5", school).toOption.get
    assert(ordered.rows == spark.sql(
      "SELECT student_id FROM students ORDER BY age DESC, student_id LIMIT 5").collect().toSeq.map(_.toSeq))
  }

  /** The gain itself: a query never seen before compiles no class. The
    * interpreted factory mode is a Spark-internal setting, so this also
    * catches an upgrade that silently stops honouring it. (A few helpers
    * generate code whatever the mode, keyed by schema only: orderings for
    * ORDER BY + LIMIT, row joiners, and a broadcast build side's key
    * projection, which Spark builds on a thread of its own.) */
  test("a fresh small query compiles no generated code") {
    school
    val warm = "SELECT grade, SUM(score) AS total FROM scores WHERE year > 2000 GROUP BY grade"
    assert(Executor.runSql(spark, warm, school).isRight) // schema-keyed helpers
    val salt = System.nanoTime() % 100000 + 100000 // a literal no earlier query compiled
    val sql = s"SELECT grade, SUM(score * $salt) AS total FROM scores WHERE year > 2000 GROUP BY grade"
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = Executor.runSql(spark, sql, school)
    assert(r.exists(_.rowcount > 0))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("a query whose input exceeds the bound keeps whole-stage codegen") {
    val rows = Executor.SmallInputMaxBytes / 8 * 2 // 8 bytes per range id
    spark.range(0, rows).createOrReplaceTempView("big_input")
    val v = Validator.validate(spark,
      "SELECT id FROM big_input WHERE id % 1000 = 7 ORDER BY id LIMIT 10", Set("big_input")).toOption.get
    val (df, r) = Executor.execute(spark, v, Executor.DefaultLimit, Executor.DefaultTimeoutMs).toOption.get
    assert(Executor.inputBytes(df.queryExecution.optimizedPlan) >= Executor.SmallInputMaxBytes)
    assert(r.rows.map(_.head) == (0 until 10).map(i => 7L + 1000L * i))
    assert(compiledStages(df) > 0)
  }

  /** Every shape the templates emit, on small inputs: the answer runs the
    * one-partition frame and has the rows `spark.sql` returns, in the same
    * order where the ORDER BY is total. */
  test("a small answer runs in one partition and returns spark.sql's rows") {
    school
    val shapes = Seq( // (sql, ORDER BY is total)
      "SELECT student_name, age FROM students WHERE age > 15 ORDER BY age DESC, student_id LIMIT 10" -> true,
      "SELECT grade, COUNT(*) AS n, AVG(score) AS avg_score FROM scores GROUP BY grade " +
        "HAVING COUNT(*) > 10 ORDER BY grade" -> true,
      "SELECT s.student_name, x.course_id, x.score FROM scores x JOIN students s " +
        "ON s.student_id = x.student_id WHERE x.score > 95 ORDER BY x.score_id" -> true,
      "SELECT c.course_name, COUNT(x.score_id) AS n FROM courses c LEFT JOIN scores x " +
        "ON x.course_id = c.course_id AND x.score > 99 GROUP BY c.course_name" -> false,
      "SELECT student_id, course_id, score, RANK() OVER (PARTITION BY course_id ORDER BY score DESC) AS r " +
        "FROM scores WHERE student_id <= 10 ORDER BY course_id, r, student_id" -> true,
      "WITH per_student AS (SELECT student_id, AVG(score) AS avg_score FROM scores GROUP BY student_id) " +
        "SELECT p.student_id, p.avg_score FROM per_student p " +
        "WHERE p.avg_score > (SELECT AVG(avg_score) + 5 FROM per_student)" -> false,
      "SELECT student_id, score FROM scores WHERE course_id = 3 AND score > (SELECT AVG(score) FROM scores)" -> false,
      "SELECT student_name FROM students WHERE student_id IN (SELECT student_id FROM scores WHERE score >= 99)" -> false,
      "SELECT student_id FROM scores WHERE grade = 'A' UNION SELECT student_id FROM scores WHERE grade = 'F'" -> false,
      "SELECT s.student_id, c.course_id FROM students s JOIN courses c ON c.course_id > s.age - 10 " +
        "WHERE s.student_id <= 5" -> false)
    shapes.foreach { case (sql, total) =>
      val (df, r) = executeOn(sql, school)
      assert(coalesces(df) > 0, sql)
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      assert(expected.nonEmpty && expected.size <= Executor.DefaultLimit, sql)
      if (total) assert(r.rows == expected, sql)
      else assert(sorted(r.rows) == sorted(expected), sql)
    }
  }

  /** An answer whose plan has no exchange is computed in process: no
    * Spark job at all. Of the last five shapes, three used to shuffle or
    * broadcast: a join side whose estimated size passes
    * `spark.sql.maxSinglePartitionBytes` (a join's estimate is the product
    * of its sides'), an inner join with no equality, and a join over a
    * join's output; a union and a full outer join need nothing more. */
  test("sort, aggregate, window, join and union answers plan no exchange and run no job") {
    school
    Seq(
      "SELECT student_id, age FROM students ORDER BY age DESC, student_id",
      "SELECT grade, COUNT(*) AS n FROM scores GROUP BY grade ORDER BY n DESC",
      "SELECT student_id, course_id, LAG(score) OVER (PARTITION BY student_id ORDER BY course_id) AS prev " +
        "FROM scores WHERE student_id <= 20",
      "SELECT s.student_name, x.score FROM scores x JOIN students s ON s.student_id = x.student_id " +
        "WHERE x.score > 90",
      "SELECT s.student_name, x.score FROM students s LEFT JOIN scores x ON x.student_id = s.student_id " +
        "AND x.course_id = 1",
      "WITH p AS (SELECT a.student_id AS s1, b.student_id AS s2, COUNT(*) AS c FROM scores a JOIN scores b " +
        "ON a.course_id = b.course_id AND a.student_id < b.student_id GROUP BY a.student_id, b.student_id) " +
        "SELECT p.s1, p.s2, p.c FROM students s JOIN p ON p.s1 = s.student_id WHERE p.c > 5",
      "SELECT a.student_id AS s1, b.student_id AS s2 FROM students a JOIN students b " +
        "ON a.student_id < b.student_id AND a.grade_level <> b.grade_level WHERE a.student_id <= 3 AND b.student_id <= 40",
      "SELECT c.course_name, SUM(x.score) AS total FROM scores x JOIN students s ON s.student_id = x.student_id " +
        "JOIN courses c ON c.course_id = x.course_id GROUP BY c.course_name ORDER BY c.course_name",
      "SELECT student_id FROM scores WHERE grade = 'A' UNION SELECT student_id FROM scores WHERE grade = 'F'",
      "SELECT s.student_id, x.score FROM (SELECT * FROM students WHERE student_id <= 10) s " +
        "FULL OUTER JOIN (SELECT * FROM scores WHERE course_id = 1) x ON x.student_id = s.student_id"
    ).foreach { sql =>
      val ((df, r), jobs) = withExecJobs(executeOn(sql, school))
      assert(r.rowcount > 0, sql)
      assert(exchanges(df) == 0, s"$sql\n${r.explain}")
      assert(jobs == 0, s"$sql ran $jobs jobs\n${r.explain}")
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      if (expected.size <= Executor.DefaultLimit) // else the LIMIT keeps any 100 of them
        assert(r.rows.map(_.mkString("|")).sorted == expected.map(_.mkString("|")).sorted, sql)
    }
  }

  /** A small frame whose plan shuffles (here a plain `spark.sql` frame,
    * not the one-partition rewrite) is not computed in process:
    * its RDD has a shuffle dependency, so it runs as jobs, with the rows
    * `collect()` gives. In a session without adaptive execution nothing
    * has run the shuffle's map side when the plan's RDD is built. */
  test("a small frame whose plan shuffles still runs as a job") {
    school
    val static = spark.newSession() // a conf of its own, so the shared session's is not written
    static.conf.set("spark.sql.adaptive.enabled", "false")
    SchoolFixture.register(static)
    val sqls = Seq(
      "SELECT grade, COUNT(*) AS n FROM scores GROUP BY grade ORDER BY grade",
      "SELECT COUNT(*) AS n, MAX(score) AS top FROM scores WHERE year > 2022",
      "WITH p AS (SELECT a.student_id AS s1, b.student_id AS s2, COUNT(*) AS c FROM scores a JOIN scores b " +
        "ON a.course_id = b.course_id AND a.student_id < b.student_id GROUP BY a.student_id, b.student_id), " +
        "pairs AS (SELECT st1.student_id AS s1, st2.student_id AS s2 FROM students st1 JOIN students st2 " +
        "ON st1.student_id < st2.student_id AND st1.grade_level <> st2.grade_level) " +
        "SELECT ROUND(CAST(SUM(COALESCE(p.c, 0)) AS DOUBLE) / COUNT(*), 4) AS v " +
        "FROM pairs LEFT JOIN p ON p.s1 = pairs.s1 AND p.s2 = pairs.s2")
    for (session <- Seq(spark, static); sql <- sqls) {
      val df = session.sql(sql)
      assert(Executor.inputBytes(df.queryExecution.optimizedPlan) < Executor.SmallInputMaxBytes, sql)
      val (rows, jobs) = withExecJobs(Executor.collectWithTimeout(session, df, Executor.DefaultTimeoutMs))
      assert(rows.map(_.toSeq.map(_.toSeq)) == Right(session.sql(sql).collect().toSeq.map(_.toSeq)), sql)
      assert(jobs > 0, sql)
      assert(exchanges(df) > 0, sql)
    }
  }

  /** A plain small frame (a sketch-served answer) is not rewritten: SQL
    * listeners see one execution, of that frame's own plan, which its
    * `explain` then prints. A plan with no exchange is computed in process;
    * one that shuffles runs as the session's adaptive plan, which here
    * coalesces 200 shuffle partitions. */
  test("a plain small frame runs its own plan, adaptive where it shuffles") {
    val session = spark.newSession() // a conf of its own, so the shared session's is not written
    session.conf.set("spark.sql.shuffle.partitions", "200")
    SchoolFixture.register(session)
    Sources.register(session, sfDir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    session.listenerManager.register(listener)
    try Seq(
      "SELECT grade, COUNT(*) AS n FROM scores GROUP BY grade ORDER BY grade" -> true,
      "SELECT n_name FROM nation WHERE n_regionkey = 1" -> false
    ).foreach { case (sql, shuffles) =>
      val df = session.sql(sql)
      assert(Executor.inputBytes(df.queryExecution.optimizedPlan) < Executor.SmallInputMaxBytes, sql)
      drainListeners()
      seen.clear()
      val (rows, jobs) = withExecJobs(Executor.collectWithTimeout(session, df, Executor.DefaultTimeoutMs))
      val executions = seen.asScala.toSeq
      assert(rows.map(_.toSeq.map(_.toSeq)) == Right(session.sql(sql).collect().toSeq.map(_.toSeq)), sql)
      assert(executions.size == 1 && (executions.head eq df.queryExecution), s"$sql: ${executions.size} executions")
      val plan = df.queryExecution.executedPlan
      val explain = df.queryExecution.explainString(SimpleMode)
      assert(compiledStages(df) == 0, explain)
      if (shuffles) {
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec] && explain.contains("isFinalPlan=true"), explain)
        val reads = collect(plan) { case r: AQEShuffleReadExec => r }
        assert(reads.nonEmpty && reads.forall(_.partitionSpecs.size < 200), explain)
        assert(jobs > 0, sql)
      } else {
        assert(plan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty && exchanges(df) == 0, explain)
        assert(jobs == 0, explain)
      }
    } finally session.listenerManager.unregister(listener)
  }

  test("an error raised while computing in process answers ExecutionError") {
    school
    val (r, jobs) = withExecJobs(
      Executor.runSql(spark, "SELECT student_id, score / (score - score) AS r FROM scores ORDER BY score_id", school))
    assert(jobs == 0)
    r match {
      case Left(ExecutionError(message)) => assert(message.contains("DIVIDE_BY_ZERO"), message)
      case other => fail(s"expected an ExecutionError, got $other")
    }
  }

  /** The rewrite comes after the optimizer, so it cannot block the fold:
    * what runs is the folded relation, behind one coalesce. */
  test("an answer the optimizer folds into a local relation still runs no job") {
    school
    val ((df, r), jobs) = withExecJobs(executeOn("SELECT student_name, age FROM students WHERE age > 15", school))
    assert(r.rowcount > 0)
    df.queryExecution.optimizedPlan match {
      case Repartition(1, false, _: LocalRelation) =>
      case other => fail(s"not folded:\n$other")
    }
    assert(jobs == 0, r.explain)
  }

  test("COUNT(*) over a filter that keeps no row answers one row, 0") {
    school
    tables
    Seq("SELECT COUNT(*) AS n FROM scores WHERE score > 1000" -> school,
        "SELECT COUNT(*) AS n FROM nation WHERE n_nationkey < 0" -> tables).foreach { case (sql, ts) =>
      val (_, r) = executeOn(sql, ts)
      assert(r.rows == Seq(Seq(0L)), sql)
    }
  }

  test("an input above the bound keeps its exchanges and no coalesce") {
    val rows = Executor.SmallInputMaxBytes / 8 * 2 // 8 bytes per range id
    spark.range(0, rows).createOrReplaceTempView("big_agg_input")
    val (df, r) = executeOn(
      "SELECT id % 7 AS k, COUNT(*) AS n FROM big_agg_input GROUP BY id % 7 ORDER BY k", Set("big_agg_input"))
    assert(r.rows.map(_.head) == (0 until 7).map(_.toLong))
    assert(coalesces(df) == 0)
    assert(exchanges(df) > 0, r.explain)
  }

  /** The guard reads the plan that runs, not only the one it came from. */
  test("the read-only guard vets the one-partition frame that runs") {
    tables
    val sql = "SELECT try_reflect('java.lang.System', 'getenv', 'PATH') AS v, n_name FROM nation " +
      "ORDER BY n_nationkey LIMIT 1"
    val smuggled = Validator.Validated(sql, spark.sessionState.sqlParser.parsePlan(sql), needsLimit = false)
    val ran = Executor.onePartition(Executor.frame(spark, smuggled).queryExecution.optimizedPlan)
    assert(ran.collectWithSubqueries { case r: Repartition => r }.nonEmpty)
    assert(graft.plans.ReadOnlyGuard.firstOffenseDeep(ran).isDefined)
    assert(Executor.run(spark, smuggled).left.exists(_.isInstanceOf[SqlSafetyError]))
    // an admitted small answer's plan passes the same guard
    val (df, _) = executeOn("SELECT n_name FROM nation ORDER BY n_regionkey, n_nationkey", tables)
    assert(coalesces(df) > 0)
    assert(graft.plans.ReadOnlyGuard.firstOffenseDeep(df.queryExecution.optimizedPlan).isEmpty)
  }

  /** The coalesce goes above a scan's projections and filters, so a file
    * scan of a small answer still reads only the columns it needs and
    * pushes its filters down. */
  test("a small answer's file scan still prunes columns and pushes filters") {
    tables
    val (df, r) = executeOn("SELECT n_name FROM nation WHERE n_regionkey = 1 ORDER BY n_name", tables)
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1 && coalesces(df) == 1, r.explain)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("n_name", "n_regionkey"), r.explain)
    assert(scans.head.dataFilters.nonEmpty, r.explain)
    assert(r.rows == spark.sql("SELECT n_name FROM nation WHERE n_regionkey = 1 ORDER BY n_name")
      .collect().toSeq.map(_.toSeq))
  }

  /** The optimizer turns IN, EXISTS, NOT EXISTS and EXCEPT into semi or
    * anti joins, and a correlated scalar subquery into an outer join.
    * The one-partition rewrite comes after it, so these joins are hinted
    * and coalesced like written ones: no broadcast, no job. */
  test("the joins the optimizer makes run in one partition and no job") {
    school
    Seq(
      "SELECT student_name FROM students WHERE student_id IN (SELECT student_id FROM scores WHERE score >= 99)",
      "SELECT s.student_id, s.student_name FROM students s WHERE EXISTS " +
        "(SELECT 1 FROM scores x WHERE x.student_id = s.student_id AND x.score = 100)",
      "SELECT s.student_id FROM students s WHERE NOT EXISTS " +
        "(SELECT 1 FROM scores x WHERE x.student_id = s.student_id AND x.grade = 'F')",
      "SELECT student_id FROM scores WHERE course_id = 1 EXCEPT SELECT student_id FROM scores WHERE course_id = 2",
      "SELECT x.student_id, x.score FROM scores x WHERE x.course_id = 2 AND x.score > " +
        "(SELECT AVG(y.score) + 20 FROM scores y WHERE y.course_id = x.course_id)"
    ).foreach { sql =>
      val ((df, r), jobs) = withExecJobs(executeOn(sql, school))
      assert(jobs == 0, s"$sql ran $jobs jobs\n${r.explain}")
      assert(exchanges(df) == 0, s"$sql\n${r.explain}")
      assert(coalesces(df) > 0, sql)
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      assert(expected.nonEmpty && expected.size <= Executor.DefaultLimit, sql)
      assert(sorted(r.rows) == sorted(expected), sql)
    }
  }

  /** Two distinct aggregates (the optimizer's `RewriteDistinctAggregates`
    * plans an `Expand` under them, as in school/149) and a ROLLUP (an
    * `Expand` of its own) aggregate over an `Expand`, whose partitioning is
    * unknown to the planner; coalesced above the `Expand`, they plan no
    * exchange and run no job. */
  test("an aggregate over an Expand runs in one partition and no job") {
    school
    Seq(
      "SELECT ROUND(COUNT(DISTINCT CASE WHEN course_id = 1 THEN student_id END) * 1.0 / " +
        "COUNT(DISTINCT student_id), 4) AS share FROM scores",
      "SELECT course_id, grade, COUNT(*) AS n FROM scores WHERE course_id <= 2 GROUP BY ROLLUP(course_id, grade)"
    ).foreach { sql =>
      val ((df, r), jobs) = withExecJobs(executeOn(sql, school))
      assert(jobs == 0, s"$sql ran $jobs jobs\n${r.explain}")
      assert(exchanges(df) == 0, s"$sql\n${r.explain}")
      assert(collect(df.queryExecution.executedPlan) { case e: ExpandExec => e }.nonEmpty, r.explain)
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      assert(expected.nonEmpty && expected.size <= Executor.DefaultLimit, sql)
      assert(sorted(r.rows) == sorted(expected), sql)
    }
  }

  /** An uncorrelated scalar subquery's plan is computed in process too, by
    * the thread that needs its value, so the answer runs no job: a
    * subquery over a join, one over a grouped subquery, one nested in
    * another, one in the SELECT list, and one with no row (NULL). */
  test("uncorrelated scalar subqueries are computed in process and run no job") {
    school
    tables
    val noRow = "SELECT n_name, (SELECT r_name FROM region WHERE r_regionkey < 0) AS none FROM nation " +
      "WHERE n_nationkey < 3"
    Seq(
      "SELECT DISTINCT st.student_name FROM scores s JOIN students st ON st.student_id = s.student_id " +
        "WHERE s.score >= (SELECT MAX(sc.score) FROM scores sc JOIN courses c ON c.course_id = sc.course_id " +
        "WHERE c.course_name = 'Algebra') ORDER BY st.student_name" -> school,
      "SELECT course_id FROM scores GROUP BY course_id HAVING COUNT(*) >= " +
        "(SELECT MEDIAN(c) FROM (SELECT COUNT(*) AS c FROM scores GROUP BY course_id) t) ORDER BY course_id" -> school,
      "SELECT student_id, score FROM scores WHERE course_id = 3 AND score > " +
        "(SELECT AVG(score) FROM scores WHERE year > (SELECT MIN(year) FROM scores))" -> school,
      "SELECT student_id, score - (SELECT AVG(score) FROM scores) AS diff FROM scores WHERE course_id = 2" -> school,
      noRow -> tables
    ).foreach { case (sql, ts) =>
      val ((df, r), jobs) = withExecJobs(executeOn(sql, ts))
      assert(jobs == 0, s"$sql ran $jobs jobs\n${r.explain}")
      assert(collectWithSubqueries(df.queryExecution.executedPlan) { case s: InProcessSubqueryExec => s }.nonEmpty,
        r.explain)
      val expected = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
      assert(expected.nonEmpty && expected.size <= Executor.DefaultLimit, sql)
      assert(sorted(r.rows) == sorted(expected), sql)
      if (sql == noRow) assert(r.rows.forall(_(1) == null), r.rows)
    }
  }

  test("a scalar subquery of more than one row fails as it does in spark.sql") {
    school
    val sql = "SELECT student_id FROM students WHERE age = (SELECT age FROM students WHERE student_id <= 2)"
    val condition = intercept[SparkThrowable](spark.sql(sql).collect()).getCondition
    assert(condition != null)
    val (r, jobs) = withExecJobs(Executor.runSql(spark, sql, school))
    assert(jobs == 0)
    r match {
      case Left(ExecutionError(message)) => assert(message.contains(condition), message)
      case other => fail(s"expected an ExecutionError, got $other")
    }
  }

  /** A small answer's aggregates run as object hash aggregates, which hold
    * up to 128 groups in a plain hash map: computing a few groups reserves
    * no execution memory, where a hash aggregate reserves a whole page on
    * its first row. */
  test("a small grouped answer runs no hash aggregate and holds no memory for a few groups") {
    school
    val sql = "SELECT grade, COUNT(*) AS n, AVG(score) AS a, COUNT(DISTINCT course_id) AS d FROM scores GROUP BY grade"
    val (df, r) = executeOn(sql, school)
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case a: HashAggregateExec => a }.isEmpty, r.explain)
    assert(collectWithSubqueries(plan) { case a: ObjectHashAggregateExec => a }.nonEmpty, r.explain)
    assert(sorted(r.rows) == sorted(spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))))
    // the answer's partition again, under a task of this test's own, reading the pool at every row
    val memory = SparkEnv.get.memoryManager
    val before = memory.executionMemoryUsed
    val rdd = plan.execute()
    val held = localTask.run(spark.sparkContext, new AtomicBoolean) { task =>
      rdd.iterator(rdd.partitions.head, task).map(_ => memory.executionMemoryUsed - before).max
    }
    assert(held == 0, r.explain)
  }

  /** The cache manager substitutes a cached fragment before the optimizer
    * runs, so the one-partition plan reads the cache even when the cached
    * fragment is more than one leaf (here a filtered view). */
  test("an answer over a cached, filtered view is read from the cache") {
    school
    val sql = "SELECT course_id, COUNT(*) AS n, MAX(score) AS top FROM a_scores GROUP BY course_id ORDER BY course_id"
    spark.sql("SELECT * FROM scores WHERE grade = 'A'").createOrReplaceTempView("a_scores")
    val uncached = spark.sql(sql).collect().toSeq.map(_.toSeq.map(Executor.jsonSafe))
    spark.catalog.cacheTable("a_scores")
    try {
      val (df, r) = executeOn(sql, Set("a_scores"))
      assert(collectWithSubqueries(df.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }.nonEmpty,
        r.explain)
      assert(coalesces(df) > 0 && exchanges(df) == 0, r.explain)
      assert(uncached.nonEmpty && r.rows == uncached)
    } finally {
      spark.catalog.uncacheTable("a_scores")
      spark.catalog.dropTempView("a_scores")
    }
  }

  /** A small answer is still one SQL execution that listeners see, and
    * what they see is the plan that ran: no adaptive wrapper, the plan the
    * answer's `explain` prints. */
  test("a SQL listener sees each small answer once, with the plan that ran") {
    school
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try Seq(
      "SELECT grade, COUNT(*) AS n FROM scores GROUP BY grade ORDER BY grade",
      "SELECT student_name FROM students WHERE student_id IN (SELECT student_id FROM scores WHERE score >= 99)",
      "SELECT student_id, score FROM scores WHERE course_id = 3 AND score > (SELECT AVG(score) FROM scores)"
    ).foreach { sql =>
      drainListeners()
      seen.clear()
      val (df, r) = executeOn(sql, school)
      drainListeners()
      val executions = seen.asScala.toSeq
      assert(executions.size == 1, s"$sql: ${executions.size} executions")
      val plan = executions.head.executedPlan
      assert(plan eq df.queryExecution.executedPlan, sql)
      assert(plan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty, sql)
      assert(executions.head.explainString(SimpleMode) == r.explain, sql)
      assert(r.explain.contains("Coalesce 1"), r.explain)
      // the answer's frame still carries the validated query's analyzed plan
      assert(df.queryExecution.analyzed.collectWithSubqueries { case p: Repartition => p }.isEmpty, sql)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Many threads asking one engine get the answers one thread gets: the
    * chosen SQL and the row multiset of each answer, or the same error.
    * The set covers an answer computed in process, asks whose SQL has an
    * uncorrelated scalar subquery (computed in process by each answer's
    * own thread), an outer join with no equality (a broadcast job) and a
    * timeout (a task killed in process). */
  test("concurrent asks on one engine answer as sequential asks do") {
    school
    val engine = new graft.api.Engine(spark, SchoolFixture.tables, SchoolFixture.fks)
    def answer(r: Either[graft.core.EngineError, QueryResult]): Either[String, (String, Seq[String])] =
      r.fold(e => Left(e.kind), q => Right((q.sql, sorted(q.rows))))
    val crossJoin = "SELECT a.student_id, COUNT(*) AS n FROM scores a CROSS JOIN scores b CROSS JOIN scores c " +
      "GROUP BY a.student_id"
    val outerNonEqui = "SELECT s.student_id, c.course_id FROM students s LEFT JOIN courses c " +
      "ON c.course_id > s.age - 8 WHERE s.student_id <= 6"
    val asks: Seq[(String, () => Either[String, (String, Seq[String])])] =
      Seq(11, 43, 75, 107, 139, 171, 203, 235, 267, 299).map { i =>
        val q = graft.eval.Evaluation.schoolCorpus(i).question
        q -> (() => answer(engine.ask(q)))
      } ++ Seq(
        outerNonEqui -> (() => answer(engine.run(outerNonEqui))),
        crossJoin -> (() => answer(engine.run(crossJoin, timeoutMs = 300))))
    val sequential = asks.map { case (k, ask) => k -> ask() }.toMap
    assert(sequential(crossJoin) == Left("timeout"))
    assert(sequential(outerNonEqui).isRight)
    assert(sequential.values.count(_.exists(_._1.toUpperCase.contains("(SELECT"))) >= 1, sequential)
    val (_, outerJobs) = withExecJobs(engine.run(outerNonEqui))
    assert(outerJobs > 0, "the outer join with no equality no longer broadcasts")
    val threads = math.min(Runtime.getRuntime.availableProcessors, 8)
    val rounds = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val runs = (0 until threads).map { t =>
        val mine = asks.drop(t % asks.size) ++ asks.take(t % asks.size) // each thread starts elsewhere
        pool.submit(() => Seq.fill(rounds)(mine.map { case (k, ask) => k -> ask() }).flatten)
      }
      val answers = runs.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(answers.size == threads * rounds * asks.size)
      val differing = answers.filter { case (k, a) => a != sequential(k) }
      assert(differing.isEmpty, differing.take(3).map { case (k, a) => s"$k: $a, alone ${sequential(k)}" })
    } finally pool.shutdownNow()
  }
}
