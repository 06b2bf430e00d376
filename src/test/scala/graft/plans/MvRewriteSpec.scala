package graft.plans

import graft.SparkSpec
import graft.operators.MaterializedAgg
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

class MvRewriteSpec extends SparkSpec {

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.isDefined

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withMv[A](f: => A): A =
    try f finally MvCatalog.clear(spark)

  private lazy val setup: Unit = {
    Sources.register(spark, sfDir)
  }

  test("matching GROUP BY serves from the MV state: no Aggregate in the optimized plan, same rows") {
    setup
    withMv {
      val state = MaterializedAgg.build(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
      val sql = "SELECT o_orderpriority, COUNT(*) AS c, SUM(o_totalprice) AS s, " +
        "MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx, " +
        "AVG(o_totalprice) AS av FROM orders GROUP BY o_orderpriority"
      val direct = rows(spark.sql(sql)) // before registration: plain aggregate
      MvCatalog.register(spark, "orders", Seq("o_orderpriority"), "o_totalprice", state)
      val served = spark.sql(sql)
      assert(!hasAggregate(served), served.queryExecution.optimizedPlan.toString)
      assert(rows(served) == direct)
    }
  }

  test("non-matching shapes are untouched: WHERE, different keys, DISTINCT, other measures") {
    setup
    withMv {
      val state = MaterializedAgg.build(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
      MvCatalog.register(spark, "orders", Seq("o_orderpriority"), "o_totalprice", state)
      val filtered = spark.sql("SELECT o_orderpriority, COUNT(*) AS c FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_orderpriority")
      assert(hasAggregate(filtered), "a WHERE must not be served from whole-table state")
      val otherKeys = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS c FROM orders GROUP BY o_orderstatus")
      assert(hasAggregate(otherKeys))
      val distinct = spark.sql("SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS d " +
        "FROM orders GROUP BY o_orderpriority")
      assert(hasAggregate(distinct))
      val otherMeasure = spark.sql("SELECT o_orderpriority, SUM(o_custkey) AS s " +
        "FROM orders GROUP BY o_orderpriority")
      assert(hasAggregate(otherMeasure))
    }
  }

  test("re-registering a refreshed state advances the served snapshot") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", 1L), ("a", 5L), ("b", 7L)).toDF("g", "v")
      base.createOrReplaceTempView("mv_rw_base")
      MvCatalog.register(spark, "mv_rw_base", Seq("g"), "v",
        MaterializedAgg.build(base, Seq("g"), "v"), mvName = "mv_rw_state")
      val sql = "SELECT g, COUNT(*) AS c, SUM(v) AS s FROM mv_rw_base GROUP BY g"
      assert(rows(spark.sql(sql)) == Seq("[a,2,6]", "[b,1,7]"))
      // a batch lands: fold it and re-register
      val inserts = Seq(("b", 3L)).toDF("g", "v")
      val deletes = Seq(("a", 1L)).toDF("g", "v")
      val current = base.exceptAll(deletes).unionAll(inserts)
      val refreshed = MaterializedAgg.refresh(
        MaterializedAgg.build(base, Seq("g"), "v"),
        inserts, deletes, current, Seq("g"), "v")
      MvCatalog.register(spark, "mv_rw_base", Seq("g"), "v", refreshed,
        mvName = "mv_rw_state")
      val served = spark.sql(sql)
      assert(!hasAggregate(served), served.queryExecution.optimizedPlan.toString)
      // served numbers are the POST-change truth even though mv_rw_base
      // (the registered base view) still holds the pre-change rows —
      // the snapshot contract: the registered state IS the serving truth
      assert(rows(served) == Seq("[a,1,5]", "[b,2,10]"))
    }
  }

  test("engine answers are unchanged by registration — the NL path serves through the rewrite transparently") {
    setup
    withMv {
      val engine = graft.api.Engine.forFixtures(spark, sfDir)
      val sql = "SELECT o_orderpriority, COUNT(*) AS c FROM orders " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
      val before = engine.run(sql).toOption.get.rows
      MvCatalog.register(spark, "orders", Seq("o_orderpriority"), "o_totalprice",
        MaterializedAgg.build(spark.table("orders"), Seq("o_orderpriority"), "o_totalprice"))
      val after = engine.run(sql).toOption.get.rows
      assert(after == before, s"served=$after direct=$before")
      // and the equivalent plan is aggregate-free once registered
      assert(!hasAggregate(spark.sql(sql)))
    }
  }

  /** A small input runs the executor's one-partition plan, whose scans
    * sit behind a coalesce: the served answer must still read the state,
    * not the base table. */
  test("an engine answer over a small materialized table does not scan the base relation") {
    setup
    withMv {
      val engine = graft.api.Engine.forFixtures(spark, sfDir)
      val sql = "SELECT c_mktsegment, COUNT(*) AS n, SUM(c_acctbal) AS s FROM customer " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
      val direct = engine.run(sql).toOption.get
      assert(direct.explain.contains("customer.parquet"), direct.explain)
      assert(direct.explain.contains("Coalesce 1"), direct.explain)
      engine.materialize("customer", Seq("c_mktsegment"), "c_acctbal")
      val served = engine.run(sql).toOption.get
      assert(!served.explain.contains("customer.parquet"), served.explain)
      assert(served.rows == direct.rows)
    }
  }

  test("Engine.materialize registers and serves in one call") {
    setup
    withMv {
      val engine = graft.api.Engine.forFixtures(spark, sfDir)
      val state = engine.materialize("orders", Seq("o_orderstatus"), "o_totalprice")
      assert(state.columns.toSeq ==
        Seq("o_orderstatus", "n", "cnt_v", "sum_v", "min_v", "max_v"))
      val served = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS c FROM orders GROUP BY o_orderstatus")
      assert(!hasAggregate(served), served.queryExecution.optimizedPlan.toString)
    }
  }

  test("AVG serves sum over the NON-NULL count: correct under NULL measures, NULL for all-NULL groups") {
    setup
    withMv {
      import spark.implicits._
      // a: one null among values; b: ALL null — SQL AVG must be 5.0 and NULL
      val base = Seq(("a", Option(4L)), ("a", Option(6L)), ("a", Option.empty[Long]),
        ("b", Option.empty[Long]), ("b", Option.empty[Long])).toDF("g", "v")
        .localCheckpoint(true)
      base.createOrReplaceTempView("mv_null_base")
      MvCatalog.register(spark, "mv_null_base", Seq("g"), "v",
        MaterializedAgg.build(base, Seq("g"), "v"), mvName = "mv_null_state")
      val sql = "SELECT g, COUNT(*) AS n, COUNT(v) AS c, AVG(v) AS av " +
        "FROM mv_null_base GROUP BY g"
      val served = spark.sql(sql)
      assert(!hasAggregate(served), served.queryExecution.optimizedPlan.toString)
      assert(rows(served) == Seq("[a,3,2,5.0]", "[b,2,0,null]"))
    }
  }

  test("COUNT(NULL) is never served (it is 0 per group, not n); COUNT(1) is") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", 1L), ("b", 2L)).toDF("g", "v").localCheckpoint(true)
      base.createOrReplaceTempView("mv_cntnull_base")
      MvCatalog.register(spark, "mv_cntnull_base", Seq("g"), "v",
        MaterializedAgg.build(base, Seq("g"), "v"), mvName = "mv_cntnull_state")
      val cntNull = spark.sql(
        "SELECT g, COUNT(NULL) AS c FROM mv_cntnull_base GROUP BY g")
      assert(hasAggregate(cntNull), "COUNT(NULL) must fall through")
      assert(rows(cntNull) == Seq("[a,0]", "[b,0]"))
      val cntOne = spark.sql(
        "SELECT g, COUNT(1) AS c FROM mv_cntnull_base GROUP BY g")
      assert(!hasAggregate(cntOne), cntOne.queryExecution.optimizedPlan.toString)
      assert(rows(cntOne) == Seq("[a,1]", "[b,1]"))
    }
  }

  test("two served aggregates in one query get independent attribute ids (self-join of the same GROUP BY)") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", 1L), ("a", 3L), ("b", 7L)).toDF("g", "v")
        .localCheckpoint(true)
      base.createOrReplaceTempView("mv_dual_base")
      MvCatalog.register(spark, "mv_dual_base", Seq("g"), "v",
        MaterializedAgg.build(base, Seq("g"), "v"), mvName = "mv_dual_state")
      val df = spark.sql(
        "SELECT x.g, x.c, y.s FROM " +
          "(SELECT g, COUNT(*) AS c FROM mv_dual_base GROUP BY g) x JOIN " +
          "(SELECT g, SUM(v) AS s FROM mv_dual_base GROUP BY g) y ON x.g = y.g")
      assert(!hasAggregate(df), df.queryExecution.optimizedPlan.toString)
      val out = df.queryExecution.optimizedPlan.output.map(_.exprId)
      assert(out.distinct.size == out.size, s"duplicate ids in $out")
      assert(rows(df) == Seq("[a,2,4]", "[b,1,7]"))
    }
  }

  test("HAVING on served outputs and a key-only WHERE are served; a non-key WHERE is not") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", 1L), ("a", 3L), ("a", 8L), ("b", 7L), ("c", 2L))
        .toDF("g", "v").localCheckpoint(true)
      base.createOrReplaceTempView("mv_having_base")
      MvCatalog.register(spark, "mv_having_base", Seq("g"), "v",
        MaterializedAgg.build(base, Seq("g"), "v"), mvName = "mv_having_state")
      val having = spark.sql("SELECT g, COUNT(*) AS c, AVG(v) AS av " +
        "FROM mv_having_base GROUP BY g HAVING COUNT(*) > 1")
      assert(!hasAggregate(having), having.queryExecution.optimizedPlan.toString)
      assert(rows(having) == Seq("[a,3,4.0]"))
      val keyWhere = spark.sql("SELECT g, SUM(v) AS s FROM mv_having_base " +
        "WHERE g <> 'b' GROUP BY g")
      assert(!hasAggregate(keyWhere), keyWhere.queryExecution.optimizedPlan.toString)
      assert(rows(keyWhere) == Seq("[a,12]", "[c,2]"))
      // a predicate over the MEASURE changes group contents: fall through
      val measureWhere = spark.sql("SELECT g, SUM(v) AS s FROM mv_having_base " +
        "WHERE v > 2 GROUP BY g")
      assert(hasAggregate(measureWhere), "non-key WHERE must not be served")
      assert(rows(measureWhere) == Seq("[a,11]", "[b,7]"))
    }
  }

  test("multi-measure registration serves per-measure aggregates from one state") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", 1L, Option(10L)), ("a", 3L, Option.empty[Long]),
        ("b", 7L, Option(2L))).toDF("g", "v1", "v2").localCheckpoint(true)
      base.createOrReplaceTempView("mv_multi_base")
      MvCatalog.registerMulti(spark, "mv_multi_base", Seq("g"), Seq("v1", "v2"),
        MaterializedAgg.buildMulti(base, Seq("g"), Seq("v1", "v2")),
        mvName = "mv_multi_state")
      val df = spark.sql("SELECT g, COUNT(*) AS n, SUM(v1) AS s1, " +
        "COUNT(v2) AS c2, AVG(v2) AS av2, MAX(v1) AS mx1 " +
        "FROM mv_multi_base GROUP BY g")
      assert(!hasAggregate(df), df.queryExecution.optimizedPlan.toString)
      assert(rows(df) == Seq("[a,2,4,1,10.0,3]", "[b,1,7,1,2.0,7]"))
    }
  }

  test("key-subset and global aggregates serve by re-aggregating the state, never rescanning the base") {
    setup
    withMv {
      import spark.implicits._
      val base = Seq(("a", "x", 1L), ("a", "y", 3L), ("a", "y", Option.empty[Long].getOrElse(5L)),
        ("b", "x", 7L), ("b", "y", 2L)).toDF("g1", "g2", "v").localCheckpoint(true)
      base.createOrReplaceTempView("mv_rollup_base")
      MvCatalog.register(spark, "mv_rollup_base", Seq("g1", "g2"), "v",
        MaterializedAgg.build(base, Seq("g1", "g2"), "v"), mvName = "mv_rollup_state")
      val basePlan = spark.table("mv_rollup_base").queryExecution.optimizedPlan
      def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists(_.sameResult(basePlan))
      // subset grouping: GROUP BY g1 rolls up the (g1, g2) state
      val sub = spark.sql("SELECT g1, COUNT(*) AS c, SUM(v) AS s, MIN(v) AS mn, " +
        "MAX(v) AS mx, AVG(v) AS av FROM mv_rollup_base GROUP BY g1")
      assert(!scansBase(sub), sub.queryExecution.optimizedPlan.toString)
      assert(rows(sub) == Seq("[a,3,9,1,5,3.0]", "[b,2,9,2,7,4.5]"))
      // global aggregate: no grouping at all
      val global = spark.sql("SELECT COUNT(*) AS c, SUM(v) AS s, AVG(v) AS av " +
        "FROM mv_rollup_base")
      assert(!scansBase(global), global.queryExecution.optimizedPlan.toString)
      assert(rows(global) == Seq("[5,18,3.6]"))
      // a NON-key grouping column still falls through to the base
      val nonKey = spark.sql("SELECT v, COUNT(*) AS c FROM mv_rollup_base GROUP BY v")
      assert(scansBase(nonKey), "grouping outside the key set must not be served")
      // DISTINCT aggregates are not distributive over the state
      val distinct = spark.sql(
        "SELECT g1, COUNT(DISTINCT v) AS d FROM mv_rollup_base GROUP BY g1")
      assert(scansBase(distinct))
    }
  }

  test("clear() stops the rewrite") {
    setup
    withMv {
      val state = MaterializedAgg.build(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
      MvCatalog.register(spark, "orders", Seq("o_orderpriority"), "o_totalprice", state)
      MvCatalog.clear(spark)
      val df = spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS c FROM orders GROUP BY o_orderpriority")
      assert(hasAggregate(df))
    }
  }

  test("group-key order and aliasing are preserved through the rewrite") {
    setup
    withMv {
      val state = MaterializedAgg.build(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
      MvCatalog.register(spark, "orders", Seq("o_orderpriority"), "o_totalprice", state)
      val served = spark.sql("SELECT COUNT(*) AS c, o_orderpriority AS prio " +
        "FROM orders GROUP BY o_orderpriority ORDER BY prio")
      assert(!hasAggregate(served), served.queryExecution.optimizedPlan.toString)
      val direct = graft.operators.MaterializedAgg.build(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
        .select(col("n").as("c"), col("o_orderpriority").as("prio")).orderBy("prio")
      assert(rows(served) == rows(direct))
    }
  }
}
