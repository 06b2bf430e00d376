package graft.api

import org.apache.spark.sql.SparkSession
import graft.catalog.{Fingerprint, Profiler}
import graft.core._
import graft.exec.Executor
import graft.explain.Explainer
import graft.gen.{LlmClient, NoOpLlmClient, Ranker, Templates}
import graft.link.{Fuzzy, Intent}
import graft.safety.Validator
import graft.sources.Sources

/**
 * Engine facade — the reference's API surface re-expressed as a library
 * (SURVEY.md §3; ref `app/main.py`, `app/routes_ai.py`):
 *
 *  - `run(sql)`        ≙ POST /ai/run   (validate → cap → gate → execute)
 *  - `ask(question)`   ≙ POST /ai/ask   (link → intent → generate → rank →
 *                                        validate → execute, fallback chain)
 *  - `nl2sql(question)`≙ POST /ai/nl2sql (generation + validation, no exec)
 *  - `schemaOverview`  ≙ GET /schema/overview
 *  - `profile`         ≙ POST /models/train's crawl stage
 *
 * The ask path never throws: failures return the error envelope, matching
 * the reference's always-answer contract (V13, routes_ai.py:111-147).
 */
final class Engine(
    val spark: SparkSession,
    val tables: Seq[String],
    val fks: Seq[FkEdge],
    llm: LlmClient = NoOpLlmClient,
    val docCollections: Seq[String] = Nil) {

  // lazy vals, not defs: the registered tables' schemas are fixed for
  // the Engine's lifetime, and both are on every ask/nl2sql/candidates
  // path — re-reading every table's schema from the catalog per
  // question was pure overhead (round-17 ADVICE).
  private lazy val lightweightSchema: Map[String, Seq[String]] =
    tables.map(t => t -> spark.table(t).schema.fieldNames.toSeq).toMap

  /** The UNPRUNED catalog as a slice, for FK-chain shapes whose links
    * the top-4 relevance slice can drop (Templates.candidates `full`).
    * Alphabetical ListMap: deterministic iteration, no relevance claim. */
  private lazy val fullSlice: graft.core.SchemaSlice = graft.core.SchemaSlice(
    scala.collection.immutable.ListMap(lightweightSchema.toSeq.sortBy(_._1): _*))

  /** Sketch-index registry for approx-tolerant serving: register
    * indexes with `sketches.indexDistinct` / `indexQuantiles`, and
    * approximation-marked questions ("roughly how many distinct …")
    * are answered from the persisted index instead of a corpus scan
    * (see [[graft.catalog.SketchCatalog]] for the routing contract). */
  val sketches = new graft.catalog.SketchCatalog(spark)

  /** Memoized per-table categorical value domains (Profiler
    * `stringDomains`) for value linking: templates resolving an NL token
    * against DATA values ("all math courses" → `dept = 'math'`) call
    * this lazily, so a table is scanned at most once per engine instance
    * and only when a value-linking template actually fires on it —
    * never eagerly across the catalog. Failures resolve to no domains
    * (the ask path's always-answer contract). */
  private val domainCache = new scala.collection.concurrent.TrieMap[String, Map[String, Seq[String]]]
  private def valueDomains(table: String): Map[String, Seq[String]] =
    if (!tables.contains(table)) Map.empty
    else domainCache.getOrElseUpdate(table,
      try Profiler.stringDomains(spark, table)
      catch { case scala.util.control.NonFatal(_) => Map.empty })

  /** Dotted leaf paths of a document collection's inferred schema
    * ("user.age"), so field linking and predicates reach into nesting.
    * Arrays of structs ("orders[].amount" in Mongo terms) contribute the
    * index-free dotted path, matching how Mongo-style dotted paths
    * address array elements (ref app/mongodb_adapter.py:97-148 infers
    * them the same way). */
  private def leafPaths(schema: org.apache.spark.sql.types.StructType,
      prefix: String = ""): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case s: org.apache.spark.sql.types.StructType => leafPaths(s, prefix + f.name + ".")
        case a: org.apache.spark.sql.types.ArrayType =>
          a.elementType match {
            case s: org.apache.spark.sql.types.StructType => leafPaths(s, prefix + f.name + ".")
            case _ => Seq(prefix + f.name)
          }
        case _ => Seq(prefix + f.name)
      }
    }

  private def docSchemas: Map[String, Seq[String]] =
    docCollections.map(c => c -> leafPaths(spark.table(c).schema)).toMap

  /** Connection test (S2, ref main.py:184-195): `SELECT 1` scalar probe. */
  def connectTest: Boolean =
    try spark.sql("SELECT 1").collect()(0).getInt(0) == 1
    catch { case scala.util.control.NonFatal(_) => false }

  def schemaOverview: Map[String, Seq[(String, String, Boolean)]] =
    Sources.overview(spark, tables)

  def schemaId: String = Fingerprint.schemaId(lightweightSchema)

  def profile(exact: Boolean = false): SchemaMetadata =
    Profiler.crawl(spark, tables, fks, exact)

  /**
   * Train a schema model (the reference's POST /models/train path,
   * routes_models.py:169-220): crawl → fingerprint → skip-if-exists →
   * embed elements → persist. Returns the schema id. Progress is staged
   * like the reference's tracker (crawl/embed/save).
   */
  def train(modelDir: String, forceRetrain: Boolean = false,
      progress: Option[graft.ml.TrainingProgress] = None): String = {
    val p = progress.getOrElse(new graft.ml.TrainingProgress(Seq("crawl", "embed", "save")))
    val id = schemaId
    if (!forceRetrain && graft.ml.ModelStore.exists(modelDir, id)) {
      Seq("crawl", "embed", "save").foreach(p.update(_, 100)); return id
    }
    val meta = profile()
    p.update("crawl", 100)
    val (model, encoder) = graft.ml.Embeddings.train(spark, id, meta)
    p.update("embed", 100)
    graft.ml.ModelStore.save(spark, modelDir, model, encoder)
    p.update("save", 100)
    id
  }

  /** Trained-model ask path (ref routes_ai.py:173-226): semantic
    * retrieval narrows the slice; falls through to the fuzzy/template
    * `ask` on any failure (V14 fallback chain). */
  def askWithModel(modelDir: String, question: String,
      limit: Int = Executor.DefaultLimit): Either[EngineError, QueryResult] = {
    try {
      val id = schemaId
      if (!graft.ml.ModelStore.exists(modelDir, id)) return ask(question, limit)
      val (model, encoder) = graft.ml.ModelStore.load(spark, modelDir, id)
      val r = graft.ml.Embeddings.retrieve(spark, model, encoder, question)
      val schema = lightweightSchema
      // ListMap preserves retrieval rank (templates target the best table);
      // retrieved columns lead each table's list so intent templates pick
      // the semantically-matched group/agg columns, padded with the rest.
      val slice = SchemaSlice(scala.collection.immutable.ListMap(
        r.tables.flatMap { t =>
          schema.get(t).map { all =>
            val hits = r.columns.collect { case (`t`, c) => c }
            t -> (hits ++ all.filterNot(hits.contains)).take(Fuzzy.TopColumns)
          }
        }: _*))
      if (slice.tables.isEmpty) return ask(question, limit)
      val analysis = Intent.analyze(question, tables)
      val cands = Templates.candidates(slice, fks, analysis, question, valueDomains, fullSlice)
      val ranked = Ranker.rank(cands, slice.tables.keySet)
      ranked.view.map { case (c, _) =>
        Validator.validate(spark, c.sql, tables.toSet).flatMap(answer(_, limit, Executor.DefaultTimeoutMs))
      }.collectFirst { case Right(res) => Right(res) }
        .getOrElse(ask(question, limit))
    } catch {
      case scala.util.control.NonFatal(_) => ask(question, limit)
    }
  }

  /** Guarded execution of an admitted statement, enriched with its
    * plan-derived explanation and per-column lineage. Both read plans
    * already built: the validated parse and the executed frame's
    * analyzed plan. */
  private def answer(v: Validator.Validated, limit: Int,
      timeoutMs: Long): Either[EngineError, QueryResult] =
    Executor.execute(spark, v, limit, timeoutMs).map { case (df, r) =>
      r.copy(explanation = Explainer.explain(v.plan), lineage = lineageOf(df))
    }

  /** Per-column provenance for the answer envelope — guarded: lineage
    * is an enrichment, never a reason to fail an answered question
    * (always-answer, V13). */
  private def lineageOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Seq[String])] =
    try graft.explain.Lineage.of(df).map(c => (c.column, c.sources))
    catch { case scala.util.control.NonFatal(_) => Nil }

  /** Direct SQL execution with the full safety chain (ref main.py:298-331). */
  def run(sql: String, limit: Int = Executor.DefaultLimit,
      timeoutMs: Long = Executor.DefaultTimeoutMs): Either[EngineError, QueryResult] =
    Validator.validate(spark, sql, tables.toSet).flatMap(answer(_, limit, timeoutMs))

  /** Column-level lineage of an ADMITTED statement: the Validator's
    * full safety chain runs first (denylist / table allow-list), then
    * the analyzed plan is traversed WITHOUT executing anything — a
    * provenance surface alongside [[run]]'s explanation
    * (`explain/Lineage.scala`). */
  def lineage(sql: String): Either[EngineError, Seq[graft.explain.Lineage.ColumnLineage]] =
    Validator.validate(spark, sql, tables.toSet)
      .map(_ => graft.explain.Lineage.of(spark, sql))

  /** The candidates [[ask]] and [[nl2sql]] try, in rank order, and the
    * relevance slice they were ranked against: the question's slice of the
    * catalog and its intent, then `extra`'s candidates (the LLM's, on
    * `ask`) and the template candidates, ranked by [[Ranker]]. The
    * candidate dump (`graft.tools.Candidates`) prints these. */
  private[graft] def rankedCandidates(question: String,
      extra: (SchemaSlice, Intent.Analysis) => Seq[Templates.Candidate] = (_, _) => Nil)
      : (SchemaSlice, Seq[(Templates.Candidate, Double)]) = {
    val slice = Fuzzy.selectRelevant(question, lightweightSchema)
    val analysis = Intent.analyze(question, tables)
    val cands = extra(slice, analysis) ++
      Templates.candidates(slice, fks, analysis, question, valueDomains, fullSlice)
    (slice, Ranker.rank(cands, slice.tables.keySet))
  }

  /** The configured LLM's candidates for a question, prompted with its
    * slice and intent; none from the offline no-op client. */
  private def llmCandidates(question: String, slice: SchemaSlice,
      analysis: Intent.Analysis): Seq[Templates.Candidate] =
    llm.chatComplete(
      system = "Generate SQL candidates prefixed QUERY: for the user question.",
      user = Prompting.build(question, slice, analysis), maxTokens = 512) match {
      case Right(raw) => graft.gen.LlmCandidates.parse(raw)
        .flatMap(Validator.extractSql)
        .map(Templates.Candidate(_, 0.7, "llm"))
      case Left(_) => Nil
    }

  /** Generation without execution (ref main.py:262-296). */
  def nl2sql(question: String): Either[EngineError, (String, SchemaSlice)] = {
    val (slice, ranked) = rankedCandidates(question)
    ranked.view
      .map { case (c, _) =>
        Validator.validate(spark, c.sql, tables.toSet,
          needsAggregation = false, wantsDistinct = false).map(_ => c.sql)
      }
      .collectFirst { case Right(sql) => Right((sql, slice)) }
      .getOrElse(Left(SqlSafetyError("No valid candidate generated")))
  }

  /** Sketch-served answer as a QueryResult, or None to fall through to
    * exact generation. Never throws (always-answer). */
  private def serveFromSketches(question: String, limit: Int, timeoutMs: Long,
      requireMarker: Boolean): Option[QueryResult] =
    try {
      sketches.route(question, requireMarker).flatMap { df =>
        val capped = df.limit(limit)
        Executor.collectWithTimeout(spark, capped, timeoutMs) match {
          case Right(rows) => Some(QueryResult(
            sql = "-- served from registered serving state (no corpus scan)",
            columns = capped.columns.toSeq,
            rows = rows.toSeq.map(_.toSeq.map(Executor.jsonSafe)),
            rowcount = rows.length,
            explain = capped.queryExecution
              .explainString(org.apache.spark.sql.execution.SimpleMode),
            explanation = "Served from registered state without a corpus " +
              "scan: mergeable sketch indexes (HLL/KLL/Theta/CMS — ±5% " +
              "distinct / ±3 rank points / one-sided frequency) or a " +
              "stream-maintained drift monitor (exact over folded docs)."))
          case Left(_) => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Explicit approx-tolerant ask (the API-flag form of the marker
    * routing): the method choice is the approximation consent, so a
    * covered question serves from the sketch indexes WITHOUT needing a
    * "roughly" marker; anything uncovered falls through to the exact
    * [[ask]] pipeline unchanged. */
  def askApprox(question: String, limit: Int = Executor.DefaultLimit,
      timeoutMs: Long = Executor.DefaultTimeoutMs): Either[EngineError, QueryResult] =
    serveFromSketches(question, limit, timeoutMs, requireMarker = false)
      .map(Right(_))
      .getOrElse(ask(question, limit, timeoutMs))

  /**
   * Materialize a grouped aggregate and register it for automatic
   * serving: every engine query (NL-generated or direct [[run]]) whose
   * plan is a matching whole-table GROUP BY is rewritten by
   * [[graft.plans.MvRewrite]] onto the key-sized state instead of
   * re-scanning the corpus — the serving half of incremental view
   * maintenance (refresh the state with
   * [[graft.operators.MaterializedAgg.refresh]] and call this again to
   * advance the served snapshot). Returns the materialized state frame.
   */
  def materialize(table: String, keys: Seq[String], measure: String,
      mvName: String = "graft_mv_state"): org.apache.spark.sql.DataFrame = {
    val state = graft.operators.MaterializedAgg.build(
      spark.table(table), keys, measure)
    graft.plans.MvCatalog.register(spark, table, keys, measure, state, mvName)
    spark.table(mvName)
  }

  /** [[materialize]] over several measure columns — one shared state
    * pass, every listed measure's COUNT/SUM/MIN/MAX/AVG served, plus
    * key-subset roll-ups and global aggregates (aggregate navigation
    * over the key-sized state). */
  def materializeMulti(table: String, keys: Seq[String], measures: Seq[String],
      mvName: String = "graft_mv_state"): org.apache.spark.sql.DataFrame = {
    val state = graft.operators.MaterializedAgg.buildMulti(
      spark.table(table), keys, measures)
    graft.plans.MvCatalog.registerMulti(spark, table, keys, measures, state, mvName)
    spark.table(mvName)
  }

  /** Full NL→SQL→result pipeline with candidate fallback chain
    * (ref routes_ai.py:150-317). Tries LLM candidates first when a client
    * is configured, then deterministic templates — executing the first
    * candidate that survives validation and the cost gate. */
  def ask(question: String, limit: Int = Executor.DefaultLimit,
      timeoutMs: Long = Executor.DefaultTimeoutMs): Either[EngineError, QueryResult] = {
    // NL→document dispatch (ref routes_ai.py:150-159 routes Mongo URLs to
    // the nl2mongo generator): when a registered COLLECTION outscores
    // every SQL table on the N3 fuzzy link, the question is served by the
    // find/aggregate builders; a failed doc attempt falls through to the
    // SQL path below (V14 fallback chain, always-answer).
    if (docCollections.nonEmpty) {
      // guarded like every ask stage: a dropped collection view (or any
      // linking failure) must fall through to SQL generation, never
      // break the always-answer contract
      val routed = try {
        val ds = docSchemas
        val docScore = ds.map { case (c, fs) => Fuzzy.tableScore(question, c, fs) }
          .maxOption.getOrElse(0)
        val sqlScore = lightweightSchema.map { case (t, cs) => Fuzzy.tableScore(question, t, cs) }
          .maxOption.getOrElse(0)
        if (docScore > sqlScore) Some(askDocsWith(ds, question, limit)) else None
      } catch { case scala.util.control.NonFatal(_) => None }
      routed match {
        case Some(r @ Right(_)) => return r
        case _ => // fall through to SQL generation
      }
    }
    // Approx-tolerant serving: an approximation-marked question covered
    // by a registered sketch index is answered from the index — a
    // few-KB merge instead of a corpus scan. Guarded like every ask
    // stage: any routing/execution failure falls through to exact
    // generation (V14 always-answer), and unmarked questions never
    // reach this path at all.
    serveFromSketches(question, limit, timeoutMs, requireMarker = true)
      .foreach(r => return Right(r))
    val (_, ranked) = rankedCandidates(question, llmCandidates(question, _, _))
    if (ranked.isEmpty) return Left(SqlSafetyError("No candidates generated"))

    val needsAgg = Intent.needsAggregation(question)
    val wantsDistinct = Intent.wantsDistinct(question)

    var lastErr: EngineError = SqlSafetyError("No candidate validated")
    for ((c, _) <- ranked) {
      Validator.validate(spark, c.sql, tables.toSet, needsAgg, wantsDistinct)
        .flatMap(answer(_, limit, timeoutMs)) match {
        case r @ Right(_) => return r
        case Left(err) => lastErr = err
      }
    }
    Left(lastErr)
  }

  /**
   * NL→document-query pipeline (ref `_handle_mongodb_query`,
   * routes_ai.py:150-159 + nl2mongo.py:64-116): fuzzy-link the question
   * to ONE registered collection, build a find spec or aggregate
   * pipeline deterministically ([[graft.gen.Nl2Doc]]), execute through
   * [[graft.sources.DocSource]] (read-only by construction — there is no
   * statement surface to validate), and return the `_id`-first JSON
   * envelope. The echoed "sql" is the generated query JSON, the same
   * `query_dict` shape the reference logs.
   */
  def askDocs(question: String,
      limit: Int = Executor.DefaultLimit): Either[EngineError, QueryResult] =
    try askDocsWith(docSchemas, question, limit)
    catch {
      case scala.util.control.NonFatal(e) =>
        Left(ExecutionError(s"document query failed: ${e.getMessage}"))
    }

  /** [[askDocs]] over an already-computed schema map — the routed ask
    * path reuses the map it scored with instead of re-crawling every
    * collection's schema. */
  private def askDocsWith(ds: Map[String, Seq[String]], question: String,
      limit: Int): Either[EngineError, QueryResult] = {
    try {
      graft.gen.Nl2Doc.linkCollection(question, ds) match {
        case None => Left(SqlSafetyError("No collection linked to the question"))
        case Some(c) =>
          // top-level arrays of scalars: the fields $unwind may target
          val arrays = spark.table(c).schema.fields.collect {
            case f => f.dataType match {
              case a: org.apache.spark.sql.types.ArrayType
                if !a.elementType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
                Some(f.name)
              case _ => None
            }
          }.flatten.toSet
          val q = graft.gen.Nl2Doc.build(question, c, ds(c), arrays)
          val df = q.spec match {
            case Left(spec) =>
              graft.sources.DocSource.find(spark.table(c),
                spec.copy(limit = math.min(spec.limit, limit)))
            case Right(stages) =>
              graft.sources.DocSource.aggregate(spark.table(c), stages).limit(limit)
          }
          val (cols, rows) = graft.sources.DocSource.jsonEnvelope(df)
          Right(QueryResult(q.render, cols, rows, rows.size,
            graft.sources.DocSource.explain(df)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(ExecutionError(s"document query failed: ${e.getMessage}"))
    }
  }
}

object Engine {
  /** Build an engine over the fixture tables in `dir`. */
  def forFixtures(spark: SparkSession, dir: String, llm: LlmClient = NoOpLlmClient): Engine = {
    val registered = Sources.register(spark, dir)
    new Engine(spark, registered, Sources.fixtureFks, llm)
  }

  /** Settings-driven client selection like the reference (`app/settings.py`
    * → llm.py:16-18): a real HTTP client when LLM_BASE_URL + LLM_MODEL are
    * set in the environment, the offline no-op otherwise. */
  def envLlm(env: Map[String, String] = sys.env): LlmClient =
    graft.gen.HttpLlmClient.fromEnv(env).getOrElse(NoOpLlmClient)

  /** Engine over a live JDBC database: crawl + register every table, use
    * the crawled FK graph (ref connect → crawl → ready,
    * `app/routes_ai.py:28-89`). */
  def forJdbc(spark: SparkSession, url: String, llm: LlmClient = NoOpLlmClient): Engine = {
    val schema = graft.sources.JdbcSource.registerJdbc(spark, url)
    new Engine(spark, schema.tables.map(_.name), schema.relationships, llm)
  }
}

/** Prompt/context builder (N5 in SURVEY.md §2.9; ref
  * query_intent.py:324-379, nl2sql.py:78-85). */
object Prompting {
  def build(question: String, slice: SchemaSlice, analysis: Intent.Analysis): String = {
    val schemaText = slice.tables.toSeq.sortBy(_._1)
      .map { case (t, cols) => s"- $t(${cols.mkString(", ")})" }.mkString("\n")
    val hints = analysis.hints.map("- " + _).mkString("\n")
    s"""Schema:
       |$schemaText
       |
       |Detected intent: ${analysis.intent.name} (confidence ${analysis.confidence})
       |Required clauses: ${analysis.requiredClauses.mkString(", ")}
       |Guidance:
       |$hints
       |
       |Question: $question
       |Answer with SQL only. Use exact table and column names.""".stripMargin
  }
}
