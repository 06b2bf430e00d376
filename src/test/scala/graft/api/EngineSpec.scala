package graft.api

import graft.SparkSpec
import graft.catalog.Profiler

class EngineSpec extends SparkSpec {

  lazy val engine: Engine = Engine.forFixtures(spark, sfDir)

  test("schemaOverview reflects all fixture tables with typed columns") {
    val ov = engine.schemaOverview
    assert(ov.contains("customer"))
    val cols = ov("customer").map(_._1)
    assert(cols.contains("c_custkey") && cols.contains("c_mktsegment"))
  }

  test("schemaId is stable across calls") {
    assert(engine.schemaId == engine.schemaId)
    assert(engine.schemaId.matches("[0-9a-f]{16}"))
  }

  test("run executes validated SQL and reports explain + explanation") {
    val r = engine.run("SELECT c_name FROM customer ORDER BY c_custkey LIMIT 5")
    val qr = r.toOption.get
    assert(qr.rowcount == 5)
    assert(qr.explanation.contains("customer"))
  }

  test("run rejects writes with the error envelope") {
    val r = engine.run("DROP TABLE customer")
    assert(r.swap.exists(_.kind == "unsafe_sql"))
  }

  test("nl2sql generates validated SQL without executing") {
    val r = engine.nl2sql("show me customers")
    assert(r.isRight)
    val (sql, slice) = r.toOption.get
    assert(sql.toLowerCase.startsWith("select"))
    assert(slice.tables.nonEmpty)
  }

  test("ask answers a count question via the template fallback chain") {
    val r = engine.ask("how many customers are there")
    val qr = r.toOption.get
    assert(qr.rowcount >= 1)
    assert(qr.sql.toLowerCase.contains("count"))
  }

  test("run/ask envelopes carry per-column lineage for a joined aggregate") {
    val r = engine.run(
      "SELECT n.n_name, sum(c.c_acctbal) AS total_bal " +
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "GROUP BY n.n_name")
    val qr = r.toOption.get
    val lin = qr.lineage.toMap
    assert(lin("n_name") == Seq("nation.n_name"), qr.lineage.toString)
    assert(lin("total_bal") == Seq("customer.c_acctbal"), qr.lineage.toString)
    // the NL path carries it too (column provenance is part of the
    // answer envelope, not only the raw-SQL surface); COUNT(*) derives
    // from no column values, so its source set is legitimately empty —
    // the envelope must still cover every output column
    val asked = engine.ask("how many customers are there").toOption.get
    assert(asked.lineage.map(_._1) == asked.columns, asked.lineage.toString)
    val askedCol = engine.ask("average account balance per market segment").toOption.get
    assert(askedCol.lineage.exists(_._2.contains("customer.c_acctbal")),
      askedCol.lineage.toString + " sql=" + askedCol.sql)
  }

  test("LLM candidates are tried first, validated, and fall through on bad SQL") {
    // canned client: first candidate is unsafe, second is valid - the
    // reference's fallback chain must skip the bad one and run the good one
    val canned = new graft.gen.LlmClient {
      def chatComplete(s: String, u: String, m: Int) = Right(
        "QUERY: DROP TABLE customer\n" +
          "QUERY: SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment LIMIT 10")
    }
    val e = Engine.forFixtures(spark, sfDir, canned)
    val r = e.ask("how many customers per market segment")
    val qr = r.toOption.get
    assert(qr.sql.contains("GROUP BY c_mktsegment"))
    assert(qr.rowcount == 5)
  }

  test("LLM client failure falls back to templates transparently") {
    val failing = new graft.gen.LlmClient {
      def chatComplete(s: String, u: String, m: Int) = Left("llm down")
    }
    val e = Engine.forFixtures(spark, sfDir, failing)
    assert(e.ask("how many customers are there").isRight)
  }

  test("ask never throws on unanswerable input (always-answer envelope)") {
    val r = engine.ask("zzz qqq completely unrelated gibberish")
    // either a template result or a clean engine error - never an exception
    assert(r.isRight || r.isLeft)
  }

  test("ask routes collection-linked questions through the document builders (NL→doc dispatch)") {
    // register a document collection next to the SQL tables (the
    // reference routes by Mongo URL, routes_ai.py:150-159; here routing
    // is per-question by the N3 fuzzy link)
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-docs")
    java.nio.file.Files.write(dir.resolve("docs.json"), Seq(
      """{"_id": "p1", "user": {"name": "ana", "age": 31}, "wellness": 10.5, "city": "lima"}""",
      """{"_id": "p2", "user": {"name": "bob", "age": 25}, "wellness": 7.0, "city": "quito"}""",
      """{"_id": "p3", "user": {"name": "cho", "age": 41}, "wellness": 12.25, "city": "lima"}""")
      .mkString("\n").getBytes("UTF-8"))
    graft.sources.DocSource.register(spark, dir.toString, "residents")
    val e = new Engine(spark, engine.tables, engine.fks,
      docCollections = Seq("residents"))
    // find shape: filter + the _id-first envelope
    val found = e.ask("residents with wellness above 8").toOption.get
    assert(found.columns.head == "_id")
    assert(found.rows.map(_.head).toSet == Set("p1", "p3"))
    assert(found.sql.contains("\"collection\": \"residents\""), found.sql)
    assert(found.sql.contains("$gt"), found.sql)
    // aggregate shape: grouped count as a $group pipeline
    val agged = e.ask("how many residents per city").toOption.get
    assert(agged.sql.contains("$group"), agged.sql)
    assert(agged.columns.toSeq == Seq("_id", "agg_value"))
    assert(agged.rows.map(r => (r.head, r(1))).toSet == Set(("lima", 2L), ("quito", 1L)))
    // SQL questions still serve from the SQL path on the same engine
    val sqlR = e.ask("how many customers are there").toOption.get
    assert(sqlR.sql.toLowerCase.contains("count(*)"))
    // direct entry (the reference's _handle_mongodb_query analogue)
    assert(e.askDocs("residents with wellness above 8").isRight)
    // a dead collection registration must not break always-answer: the
    // doc route degrades to the SQL path (or a clean error), never throws
    val dead = new Engine(spark, engine.tables, engine.fks,
      docCollections = Seq("no_such_collection_view"))
    val r = dead.ask("how many customers are there")
    assert(r.toOption.exists(_.sql.toLowerCase.contains("count")))
  }

  test("profiler computes row counts, distincts and numeric stats in one pass") {
    val meta = Profiler.crawl(spark, Seq("nation", "region"), engine.fks)
    val nation = meta.tables("nation")
    assert(nation.rowCount.contains(25L))
    val nk = nation.columns.find(_.name == "n_nationkey").get
    assert(nk.distinctCount.exists(d => d >= 24 && d <= 26)) // approx distinct
    assert(nk.min.contains(0.0) && nk.max.contains(24.0))
    val nname = nation.columns.find(_.name == "n_name").get
    assert(nname.uniqueValues.exists(_.size == 25)) // low-cardinality domain captured
    assert(meta.synonyms.nonEmpty)
  }

  test("profiler exact mode matches reference COUNT(DISTINCT) semantics") {
    val meta = Profiler.crawl(spark, Seq("region"), Nil, exact = true)
    val rk = meta.tables("region").columns.find(_.name == "r_regionkey").get
    assert(rk.distinctCount.contains(5L))
  }

  /** r15 verdict #6: `limit(n)` (reference parity, crawler.py:204-220)
    * reads head-of-file — at 100 TB the "sample" is one parquet file's
    * first rows. The seeded sampler must (a) reproduce exactly under a
    * fixed seed, and (b) escape write-order skew the head sampler is
    * blind to. */
  test("sampleUnbiased: seed-deterministic, and uniform where head sampling is skew-blind") {
    import spark.implicits._
    // skew-ordered fixture: every head-of-file row is category 'head'
    val df = (0 until 1000).map(i => (i.toLong, if (i < 500) "head" else "tail"))
      .toDF("id", "cat").coalesce(1)
    // the parity sampler sees ONLY the write-order head
    val headCats = df.limit(10).collect().map(_.getString(1)).toSet
    assert(headCats === Set("head"), "head sampler must expose the skew this test plants")
    // fixed seed → identical sample, twice
    def ids(seed: Long) = Profiler.sampleUnbiased(df, 50, seed)
      .collect().map(_.getLong(0)).toSeq
    assert(ids(7L) === ids(7L), "fixed seed must reproduce the exact sample")
    assert(ids(7L) !== ids(8L), "different seeds must draw different samples")
    // the uniform draw reaches past the head block (P[all-head] = 2^-50)
    val cats = Profiler.sampleUnbiased(df, 50, 7L).collect().map(_.getString(1)).toSet
    assert(cats === Set("head", "tail"), s"uniform sample must span the skew: $cats")
    // profileTable: sampleSeed switches samplers; stats stay exact either way
    val parity = Profiler.profileTable(spark, "t", df)
    val unbiased = Profiler.profileTable(spark, "t", df, sampleSeed = Some(7L))
    assert(parity.rowCount == unbiased.rowCount)
    assert(parity.sampleRows.forall(_("cat") == "head"))
    // same seed → byte-identical sampleRows across calls
    assert(unbiased.sampleRows ===
      Profiler.profileTable(spark, "t", df, sampleSeed = Some(7L)).sampleRows)
  }

  test("approx-marked questions serve from the sketch index; the routed plan never rescans the corpus") {
    import org.apache.spark.sql.functions._
    spark.sql("SELECT event_type, user_id, value, to_date(ts) AS day FROM events")
      .createOrReplaceTempView("events_keyed")
    try {
      engine.sketches.indexDistinct("events_keyed", "user_id", Seq("event_type", "day"))
      engine.sketches.indexQuantiles("events_keyed", "value", Seq("event_type", "day"))

      // routed plan quality: the estimate reads ONLY the persisted index
      // (InMemoryTableScan), never the parquet corpus
      val df = engine.sketches.route("roughly how many distinct user_id per event_type").get
      // leaf check, not a plan-string check: InMemoryRelation PRINTS its
      // stored build plan (which names the parquet it was built from),
      // and AQE wraps the physical tree — the optimized LOGICAL plan's
      // leaves are what actually gets read: the cached index relation,
      // never a parquet LogicalRelation
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.nodeName.contains("InMemoryRelation")),
        leaves.map(_.nodeName).mkString(","))

      // the engine answers through the envelope with the approx contract
      val r = engine.ask("roughly how many distinct user_id per event_type",
        timeoutMs = 60000L).toOption.get
      assert(r.columns == Seq("event_type", "distinct_est"), r.columns)
      val exact = spark.table("events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n")).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(r.rowcount == exact.size)
      r.rows.foreach { row =>
        val (et, est) = (row.head.toString, row(1).toString.toDouble)
        assert(math.abs(est - exact(et)) <= exact(et) * 0.05, s"$et: $est vs ${exact(et)}")
      }
      assert(r.explanation.contains("sketch index"))

      // quantile route: global median of value from the KLL index
      val q = engine.ask("roughly the median value", timeoutMs = 60000L).toOption.get
      assert(q.columns.contains("q_0_5"), q.columns)

      // cohort-overlap route: Theta intersection, still index-only
      engine.sketches.indexCohorts("events", "event_type", "user_id")
      val ov = engine.sketches
        .route("roughly how many user_id did both purchase and click").get
      assert(ov.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.nodeName.contains("InMemoryRelation")))
      val both = ov.collect()(0).getLong(0).toDouble
      val exactBoth = spark.table("events").where(col("event_type") === "purchase")
        .select("user_id").distinct()
        .join(spark.table("events").where(col("event_type") === "click")
          .select("user_id").distinct(), "user_id").count()
      assert(math.abs(both - exactBoth) <= exactBoth * 0.05, s"$both vs $exactBoth")
      // a cohort the index does not carry is never served (no
      // fabrication) — the exact path answers instead
      assert(engine.sketches
        .route("roughly how many user_id did both purchase and refund").isEmpty)

      // explicit-API form: askApprox serves a MARKER-LESS covered
      // question (the method choice is the consent)...
      val ap = engine.askApprox("how many distinct user_id per event_type",
        timeoutMs = 60000L).toOption.get
      assert(ap.sql.contains("served from registered serving state"), ap.sql)
      assert(ap.columns == Seq("event_type", "distinct_est"), ap.columns)
      // ...and an uncovered question falls through to the exact pipeline
      val fallthrough = engine.askApprox("how many customers are there",
        timeoutMs = 60000L).toOption.get
      assert(!fallthrough.sql.contains("served from registered"), fallthrough.sql)

      // UNMARKED questions never reach the sketch path (no silent
      // degradation to estimates): the exact ask path answers
      val ex = engine.ask("how many distinct user_id values are in events",
        timeoutMs = 60000L).toOption.get
      assert(!ex.sql.contains("served from registered"), ex.sql)
    } finally engine.sketches.clear()
  }

  test("drift questions route to the registered stream monitor through Engine.ask; unnamed monitors never serve") {
    import org.apache.spark.sql.functions._
    val docs = spark.table("documents")
    val m = new graft.streaming.Streams.VocabDriftMaintainer("text")
    (0 until 2).foreach(i => m.onBatch(
      docs.where(col("lang") =!= "en" && pmod(col("doc_id"), lit(2)) === i),
      i.toLong))
    try {
      engine.sketches.registerDrift("crawl", m,
        docs.where(col("lang") === "en"), "text")
      // full envelope, NO approximation marker needed — the drift
      // answer is exact over the folded state
      // 60s timeout: these tests pin ROUTING correctness, not latency —
      // under the full 71-suite JVM a GC pause can blow the 5s default
      // and flake the envelope .get (observed once in a full run)
      val r = engine
        .ask("how different is the crawl from the reference corpus?",
          timeoutMs = 60000L)
        .toOption.get
      assert(r.sql.contains("served from registered serving state"), r.sql)
      // the explain is of the plan that ran: its adaptive plan, final
      assert(r.explain.contains("AdaptiveSparkPlan isFinalPlan=true"), r.explain)
      assert(r.columns == Seq("vocab_a", "vocab_b", "vocab_shared",
        "jsd_micro", "kl_ab_micro", "kl_ba_micro"), r.columns)
      // the served answer equals the batch operator over the same docs
      // (counts exactly; micro divergences within the ±1 summation-
      // order grid cell, as in the StreamsSpec fold≡batch pin)
      val batch = graft.operators.TextAnalysis.vocabDivergence(
        docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"), "text").collect()(0)
      assert((0 to 2).forall(i =>
        r.rows(0)(i).toString.toLong == batch.getLong(i)),
        s"${r.rows(0)} vs $batch")
      assert((3 to 5).forall(i =>
        math.abs(r.rows(0)(i).toString.toLong - batch.getLong(i)) <= 1),
        s"${r.rows(0)} vs $batch")
      // the attribution half routes too — and the served plan reads
      // ONLY the persisted reference histogram + the driver-local
      // state frame, never the documents corpus (same leaf discipline
      // as the sketch routes)
      val t = engine.sketches
        .route("which tokens drive the drift in the crawl?").get
      assert(t.columns.toSeq ==
        Seq("token", "cnt_a", "cnt_b", "log_ratio_micro"), t.columns.toSeq)
      assert(t.count() > 0)
      val leaves = t.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(l =>
        l.nodeName.contains("InMemoryRelation") ||
          l.nodeName.contains("LocalRelation")),
        leaves.map(_.nodeName).mkString(","))
      // a question naming an unregistered monitor never serves — no
      // fabrication; the exact path answers instead
      assert(engine.sketches
        .route("how different is the snapshot from the reference corpus?")
        .isEmpty)
    } finally engine.sketches.clear()
  }

  test("engine answers track the stream-maintained MV snapshot with no manual re-registration") {
    import org.apache.spark.sql.functions._
    try {
      val maintainer = new graft.streaming.Streams.AggMaintainer(
        spark.table("orders"), Seq("o_orderpriority"), "o_totalprice")
        .serveThrough("orders", mvName = "engine_mv_stream")
      val sql = "SELECT o_orderpriority, COUNT(*) AS c, SUM(o_totalprice) AS s " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
      // a change batch lands through the foreachBatch handler: three
      // deletes of existing rows, two inserts with fresh keys
      val del = spark.table("orders").orderBy("o_orderkey").limit(3)
        .withColumn("op", lit("D"))
      val ins = spark.table("orders").orderBy("o_orderkey").limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("I"))
      maintainer.onBatch(del.unionByName(ins), 0L)
      // the ENGINE path (validate → rewrite → execute) must return the
      // POST-batch truth even though the registered base table still
      // holds the pre-change parquet rows — the snapshot advanced on
      // batch commit, and the plan is served (no Aggregate)
      assert(spark.sql(sql).queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, "the engine query must serve from the maintained state")
      val got = engine.run(sql).toOption.get.rows
        .map(r => (String.valueOf(r(0)), String.valueOf(r(1)),
          math.round(r(2).toString.toDouble)))
      val want = maintainer.currentTable.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("c"), sum(col("o_totalprice")).as("s"))
        .orderBy("o_orderpriority").collect()
        .map(r => (r.getString(0), String.valueOf(r.getLong(1)),
          math.round(r.getDouble(2))))
      assert(got == want.toSeq, s"served=$got rebuilt=${want.toSeq}")
    } finally graft.plans.MvCatalog.clear(spark)
  }
}
