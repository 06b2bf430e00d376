package graft.gen

import graft.core.{FkEdge, SchemaSlice}
import graft.link.Intent
import graft.link.Intent.Analysis

/**
 * Deterministic SQL candidate generation (N10/J2 in SURVEY.md §2.9; ref
 * `app/models/inference.py:215-246`, `app/models/trainer.py:275-303`) —
 * the offline-testable generation path the reference falls back to when no
 * LLM is configured.
 *
 * Slot rules the generators share, one resolver each:
 *  - [[isKeyish]]: a key column is named `*_id`, `id` or `*key`.
 *  - [[yearOrDate]]: a period column's name holds "year" or "date".
 *  - [[gradeColumn]]: a dimension's grade column is its first named `grade*`.
 *  - [[soleMeasure]]: a fact's measure is its only column that is not a
 *    key, not a string domain and not excluded; zero or several give none.
 *  - [[edgesInto]]: a dimension's facts are the sliced tables with an FK
 *    into it, in FK order.
 *  - [[otherEdges]]: a fact's other dimensions are its FKs into other
 *    sliced tables, in FK order.
 *  - [[bridges]]: a bridge fact between two dimensions is a table with an
 *    FK into each; every FK into the first is paired with the table's
 *    first FK into the second, in FK order ([[bridgesWhere]] for a second
 *    side given by a test).
 *  - [[sumOrAvg]]: "total" and "sum" name SUM, any other aggregate word AVG.
 *  - [[countWord]]: a count is "one" to "five" or digits.
 *  - [[ordinalOffset]]: an ordinal ([[ordinals]] "first" to "twelfth", or
 *    "23rd") is a 0-based offset.
 */
object Templates extends TemplatesShapes1 with TemplatesShapes2
    with TemplatesShapes3 with TemplatesShapes4 with TemplatesShapes5
    with TemplatesShapes6 with TemplatesShapes7 with TemplatesShapes8
    with TemplatesConjunctive {

  final case class Candidate(sql: String, confidence: Double, method: String)

  val DefaultLimit = 100

  /** Per-table template: first 5 columns, LIMIT 100 (conf 0.5), with a
    * deterministic total order (key-ish column first, then the
    * projection) so the LIMIT window is well-defined — an unordered
    * LIMIT returns an engine-dependent subset, which made the fallback
    * answers unscoreable against any gold (round-12 verdict #5) and
    * unreproducible run to run.
    *
    * Cost trade (deliberate): ORDER BY + LIMIT plans as
    * TakeOrderedAndProject — a per-partition top-K heap over the
    * projected columns and a driver merge, never a global sort, but it
    * does READ the whole table where an unordered LIMIT's CollectLimit
    * early-exits after a few partitions. For the interactive NL path
    * this is bounded by the executor's timeout guard
    * (`Executor.collectWithTimeout`); a deployment previewing
    * petabyte-scale tables should register a sampled view for the
    * browse surface rather than trade away answer determinism. */
  def tableCandidates(slice: SchemaSlice): Seq[Candidate] =
    slice.tables.toSeq.sortBy(_._1).map { case (t, cols) =>
      val proj = if (cols.isEmpty) "*" else cols.take(5).mkString(", ")
      val order = if (cols.isEmpty) ""
        else " ORDER BY " +
          (Seq(keyishColumn(t, cols)) ++ cols.take(5)).distinct.mkString(", ")
      Candidate(s"SELECT $proj FROM $t$order LIMIT $DefaultLimit", 0.5, "template")
    }

  /** FK-join template from the first edge connecting two sliced tables
    * (conf 0.6). When the question strongly names columns on each side
    * ("student names with their scores" → students.student_name,
    * scores.score), the projection narrows to those columns and the
    * result carries a deterministic total order on the fact table's
    * key-ish column; otherwise the generic first-3-per-side shape is
    * kept. */
  def joinCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String = ""): Seq[Candidate] = {
    val tables = slice.tables.keySet
    fks.filter(e => tables.contains(e.fromTable) && tables.contains(e.toTable))
      .take(1)
      .map { e =>
        def strongCols(cols: Seq[String]): Seq[String] =
          if (question.isEmpty) Nil
          else cols.filter(c => graft.link.Fuzzy.nameScore(c, question.toLowerCase) >= 110)
            .filterNot(c => c == e.fromColumn || c == e.toColumn)
        val fromStrong = strongCols(slice.tables(e.fromTable))
        val toStrong = strongCols(slice.tables(e.toTable))
        // deterministic order: the fact table's own key-ish column
        val keyish = keyishColumn(e.fromTable, slice.tables(e.fromTable))
        if (fromStrong.nonEmpty && toStrong.nonEmpty) {
          val proj = (toStrong.take(3).map(c => s"t.$c") ++ fromStrong.take(3).map(c => s"f.$c")).mkString(", ")
          Candidate(
            s"SELECT $proj FROM ${e.fromTable} f JOIN ${e.toTable} t ON f.${e.fromColumn} = t.${e.toColumn} " +
              s"ORDER BY f.$keyish LIMIT $DefaultLimit",
            0.62, "template_join")
        } else {
          val fromCols = slice.tables(e.fromTable).take(3).map(c => s"f.$c")
          val toCols = slice.tables(e.toTable).take(3).map(c => s"t.$c")
          val proj = (fromCols ++ toCols).mkString(", ")
          // same total-order discipline as the strong branch: key-ish
          // fact column first, then the projection, so the LIMIT
          // window is deterministic and the preview is gold-scoreable
          val order = (Seq(s"f.$keyish") ++ fromCols ++ toCols).distinct.mkString(", ")
          Candidate(
            s"SELECT $proj FROM ${e.fromTable} f JOIN ${e.toTable} t ON f.${e.fromColumn} = t.${e.toColumn} " +
              s"ORDER BY $order LIMIT $DefaultLimit",
            0.6, "template_join")
        }
      }
  }

  // "each" without "for" covers the reference UI's own sample phrasing
  // "Count how many items are in each category" (frontend/src/pages/
  // Chat.jsx:84); "every" is its natural-speech twin ("items in every
  // category") — anchored at $ like the other group-phrase heads
  // trailing punctuation is tolerated before the anchor: "orders per
  // customer?" must still yield group noun "customer", not fall back to
  // whole-question stripping (which mis-ranked the group column whenever
  // a measure word survived the filler pass)
  private[gen] val perPhraseRe =
    raw"(?:\bper\b|\bfor each\b|\bgrouped by\b|\bby\b|\beach\b|\bevery\b)\s+([a-z0-9_ ]+?)\s*[?.!]*$$".r

  // ------------------------------------------------- filter extraction
  // The reference DETECTS filter intent and hands literal extraction to
  // the LLM (query_intent.py:123-146 "use WHERE clause" hints); offline,
  // the template layer extracts the common literal shapes itself:
  //   "score greater than 75"  -> score > 75
  //   "age at least 18"        -> age >= 18
  //   "with a C grade"         -> grade = 'C'   (value case preserved)
  //   "grade is C" / "= C"     -> grade = 'C'
  //   "in year 2023"           -> year = 2023
  private[gen] val cmpRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:is\s+)?(greater|more|higher|larger|bigger|less|fewer|lower|smaller)\s+than\s+(\d+(?:\.\d+)?)".r
  private[gen] val atRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:is\s+)?at\s+(least|most)\s+(\d+(?:\.\d+)?)".r
  private[gen] val withValRe =
    raw"(?i)\bwith\s+(?:an?\s+)?([A-Za-z0-9][\w+-]*)\s+([a-z_][a-z0-9_]*)\b".r
  private[gen] val aboveRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:is\s+)?(above|over|below|under)\s+(\d+(?:\.\d+)?)".r
  private[gen] val betweenRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:is\s+)?between\s+(\d+(?:\.\d+)?)\s+and\s+(\d+(?:\.\d+)?)".r
  private[gen] val eqRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:is|equals|=)\s+'?(?!(?:above|below|over|under|between|not|greater|less|more|fewer)\b)([\w+-]+)'?".r
  private[gen] val numEqRe =
    raw"(?i)\b([a-z_][a-z0-9_]*)\s+(\d{1,6})\b".r
  private[gen] val aggByRe =
    raw"(?i)\bby\s+(average|avg|mean|sum|total|count)\b".r
  // bare "in 2015" (no "year" noun) — year-column equality
  private[gen] val inBareYearRe = raw"(?i)\bin\s+((?:19|20)\d{2})\b".r
  // "the second highest score" — the nth distinct value of a column:
  // DISTINCT + ORDER BY + LIMIT 1 OFFSET n-1 (never a global window)
  // the negative lookahead keeps agg words out of the column slot:
  // "second highest AVERAGE score" is the nth-ranked-AGGREGATE shape
  // (nthAggCandidates), not the nth raw value of a column fuzzy-matched
  // from "average" (which mis-linked to `age` before the guard)
  private[gen] val nthRe =
    (raw"(?i)\b(?:the\s+)?(second|third|fourth|fifth|\d+(?:st|nd|rd|th))[-\s]+" +
      raw"(highest|largest|biggest|greatest|lowest|smallest)\s+" +
      raw"(?!(?:average|avg|mean|total|sum)\b)([a-z_][a-z0-9_]*)\b").r
  /** Ordinal words to their numbers, "first" to "twelfth". */
  private[gen] val ordinals = Map("first" -> 1, "second" -> 2, "third" -> 3, "fourth" -> 4,
    "fifth" -> 5, "sixth" -> 6, "seventh" -> 7, "eighth" -> 8, "ninth" -> 9,
    "tenth" -> 10, "eleventh" -> 11, "twelfth" -> 12)
  /** "second"/"23rd" → 0-based OFFSET. Covers every numeric ordinal the
    * intent layer's superlative-suppression regex matches — a question it
    * suppresses the aggregate for must always reach a serving template
    * (the round-4 advisor found "6th highest" losing both paths). */
  private[gen] def ordinalOffset(word: String): Int = {
    val w = word.toLowerCase
    ordinals.get(w).orElse(raw"(\d+)".r.findFirstIn(w).map(_.toInt))
      .map(n => math.max(0, n - 1)).getOrElse(1)
  }

  /** A count written as a word ("one" to "five") or in digits. */
  private[gen] def countWord(word: String): Int = word.toLowerCase match {
    case "one" => 1; case "two" => 2; case "three" => 3; case "four" => 4; case "five" => 5
    case d => d.toInt
  }

  /** The aggregate an aggregate word names: SUM for "total" or "sum", else AVG. */
  private[gen] def sumOrAvg(word: String): String = word.toLowerCase match {
    case "total" | "sum" => "SUM"
    case _ => "AVG"
  }
  // "scores above the average score" — rows compared against a scalar
  // aggregate of the same column: col OP (SELECT AVG(col) FROM t)
  private[gen] val scalarAvgRe =
    raw"(?i)\b(above|over|below|under)\s+(?:the\s+)?(?:overall\s+)?(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b".r
  // "student name with the most scores" — a grouped count (local or
  // across an FK edge) ranked to its extreme row
  private[gen] val mostRe =
    raw"(?i)\b([a-z_][a-z0-9_ ]*?)\s+with\s+the\s+(most|fewest|least)\s+([a-z_][a-z0-9_]*)\b".r
  // "in the science dept" — a categorical equality phrased value-first
  private[gen] val inTheValColRe =
    raw"(?i)\bin\s+the\s+([A-Za-z0-9+-]+)\s+([a-z_][a-z0-9_]*)\b".r
  // "number of courses that have no scores" — an anti-join count across
  // an FK edge (entity rows with no referencing fact rows)
  private[gen] val antiJoinRe =
    (raw"(?i)\b(?:number|count)\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:(?:that|which|who)\s+)?(?:have|has|with)\s+no\s+([a-z_][a-z0-9_]*)\b").r
  // "course ids whose average score is above 80" — a condition on a GROUP
  // aggregate, not on rows: GROUP BY the entity, HAVING agg(col) OP n
  private[gen] val havingRe =
    (raw"(?i)\b(?:whose|with|where|having)\s+(average|avg|mean|sum|total|count|min|minimum|max|maximum)\s+(?:of\s+)?([a-z_][a-z0-9_]*)\s+" +
      raw"(?:is\s+)?(above|over|greater than|more than|at least|below|under|less than|fewer than|at most)\s+(\d+(?:\.\d+)?)").r
  // date literals: "orders after 1995-06-01", "shipped before 1997-01-01",
  // "since 1995" (year shorthand → Jan 1). The column is the nearest
  // date-ish column (name contains date/time/ts) rather than a fuzzy
  // match on the preceding noun, mirroring the reference's date-filter
  // hint (query_intent.py:183-195 "use date functions in WHERE").
  private[gen] val dateCmpRe =
    raw"(?i)\b(after|since|before|until)\s+(\d{4}-\d{2}-\d{2}|\d{4})\b".r
  // natural-language absolute dates (round-16 benchmark set): "after
  // March 1, 2024" and the whole-month range "in June 2023" — the
  // phrasings real users write where the ISO form above is what demos
  // write. Comparators follow the engine's documented convention
  // (after|since → >=, before|until → <), pinned by the ladder's own
  // filter_date gold since round 4.
  private[gen] val monthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november", "december")
  private[gen] def monthNumber(w: String): Int =
    monthNames.indexWhere(_.equalsIgnoreCase(w)) + 1
  private[gen] val monthDateRe =
    (raw"(?i)\b(after|since|before|until)\s+(" + monthNames.mkString("|") +
      raw")\s+(\d{1,2})(?:st|nd|rd|th)?,?\s*(\d{4})\b").r
  private[gen] val inMonthYearRe =
    (raw"(?i)\bin\s+(" + monthNames.mkString("|") + raw"),?\s*(\d{4})\b").r
  // relative-date phrases (ref query_intent.py:183-195 detects these and
  // hints "use date functions in WHERE"; here they render as concrete
  // DATE literals from the `now` parameter): "in the last 30 days",
  // "past 2 weeks" — a rolling lower bound...
  private[gen] val relSpanRe =
    raw"(?i)\b(?:last|past)\s+(\d+)\s+(day|week|month|year)s?\b".r
  // ...and calendar units: "last month" = the previous calendar month
  // (a half-open [first, first-of-current) range), "this year" = since
  // Jan 1, "yesterday" = that one day
  private[gen] val relNamedRe =
    raw"(?i)\b(?:(last|this)\s+(week|month|year)|(today|yesterday))\b".r
  // LIKE shapes: "names starting with A" -> student_name LIKE 'A%';
  // "ending with X" / "containing X" -> suffix / infix patterns. The
  // column link uses only the word directly before the phrase ("names"),
  // which scores the full-name column uniquely where the whole noun
  // phrase ("student names") would tie student_name with student_id.
  private[gen] val likePrefixRe =
    raw"(?i)\b((?:[a-z_][a-z0-9_]*\s+)?[a-z_][a-z0-9_]*)\s+(?:starting|beginning)\s+with\s+([A-Za-z0-9][\w%+-]*)".r
  private[gen] val likeSuffixRe =
    raw"(?i)\b((?:[a-z_][a-z0-9_]*\s+)?[a-z_][a-z0-9_]*)\s+ending\s+(?:with|in)\s+([A-Za-z0-9][\w%+-]*)".r
  private[gen] val likeInfixRe =
    raw"(?i)\b((?:[a-z_][a-z0-9_]*\s+)?[a-z_][a-z0-9_]*)\s+containing\s+([A-Za-z0-9][\w%+-]*)".r

  /** Deterministic key-ish ordering column for a table: a column named
    * `*_id`, `id`, or `*key`, preferring one carrying the table's singular stem
    * (scores → score_id, orders → o_orderkey), else the alphabetical
    * first key column, else the first column. Shared by the join and
    * filtered-select templates so row-limited results carry a stable
    * total order. */
  private[gen] def keyishColumn(table: String, cols: Seq[String]): String = {
    val singular = (if (table.endsWith("s")) table.dropRight(1) else table).toLowerCase
    val keyish = cols.filter(isKeyish)
    keyish.find(_.toLowerCase.contains(singular))
      .orElse(keyish.sorted.headOption)
      .getOrElse(cols.headOption.getOrElse("1"))
  }

  /** A key column by name: `*_id`, `id` or `*key`. */
  private[gen] def isKeyish(col: String): Boolean = {
    val l = col.toLowerCase
    l.endsWith("_id") || l == "id" || l.endsWith("key")
  }

  /** A period column by name: it holds "year" or "date". */
  private[gen] def yearOrDate(col: String): Boolean = {
    val l = col.toLowerCase
    l.contains("year") || l.contains("date")
  }

  /** The one measure column of a fact table: the only column of `cols`
    * that is not key-ish, not a string-domain column (`stringCols`, the
    * table's `values` keys) and not `excluded`; none when there are zero
    * or several. */
  private[gen] def soleMeasure(cols: Seq[String], stringCols: Set[String],
      excluded: String => Boolean): Seq[String] =
    cols.filter(c => !isKeyish(c) && !stringCols.contains(c) && !excluded(c)) match {
      case Seq(one) => Seq(one)
      case _ => Seq.empty
    }

  /** The FK edges into `dim` from a sliced table, in `fks` order. */
  private[gen] def edgesInto(slice: SchemaSlice, fks: Seq[FkEdge], dim: String): Seq[FkEdge] =
    fks.filter(e => e.toTable == dim && slice.tables.contains(e.fromTable))

  /** The other FK edges of `edge`'s table, into sliced tables other than
    * `edge`'s, in `fks` order. */
  private[gen] def otherEdges(slice: SchemaSlice, fks: Seq[FkEdge], edge: FkEdge): Seq[FkEdge] =
    fks.filter(e => e.fromTable == edge.fromTable && e.toTable != edge.toTable &&
      slice.tables.contains(e.toTable))

  /** The bridge fact tables between two dimensions: each FK into `dimE`
    * whose table also has an FK into `dimJ`, paired with the first such
    * edge, in `fks` order. */
  private[gen] def bridges(fks: Seq[FkEdge], dimE: String, dimJ: String): Seq[(FkEdge, FkEdge)] =
    bridgesWhere(fks, dimE, _ == dimJ)

  /** [[bridges]] into any table `isJ` accepts. */
  private[gen] def bridgesWhere(fks: Seq[FkEdge], dimE: String,
      isJ: String => Boolean): Seq[(FkEdge, FkEdge)] =
    for {
      e <- fks if e.toTable == dimE
      j <- fks.find(e2 => e2.fromTable == e.fromTable && isJ(e2.toTable))
    } yield (e, j)

  /** Strong link: the word names exactly one column (full-word match,
    * score >= 100 with a clear margin over the runner-up). */
  private[gen] def strongColumn(word: String, cols: Seq[String]): Option[String] = {
    if (word.isEmpty) return None
    val scored = cols.map(c => c -> graft.link.Fuzzy.nameScore(c, word)).sortBy(-_._2)
    scored.headOption.filter { case (_, s) =>
      s >= 100 && scored.drop(1).headOption.forall(_._2 < s)
    }.map(_._1)
  }

  private[gen] def sqlLit(v: String): String =
    if (v.matches(raw"\d+(\.\d+)?")) v else "'" + v.replace("'", "''") + "'"

  /** Extract `col OP literal` conditions from the question (original
    * case — categorical values like grade 'C' are case-sensitive).
    * Multiple `=` literals for the SAME column ("year 2022 or year 2023")
    * render as one `col IN (…)` — the disjunctive reading; an AND of
    * conflicting equalities would be vacuously empty. `BETWEEN lo AND hi`
    * extracts as a single range condition. */
  def extractFilters(question: String, cols: Seq[String]): Seq[String] =
    extractFilters(question, cols, java.time.LocalDate.now())

  /** Variant with a FROZEN `now`: relative-date phrases ("last month",
    * "past 30 days") render as concrete `DATE '…'` literals computed
    * from it, so the emitted SQL is deterministic and replayable by any
    * engine — callers that need reproducible output (tests, the
    * CORRECTNESS oracle, cached query logs) pin `now`; `ask`-path
    * callers get wall-clock behavior from the 2-arg overload. */
  def extractFilters(question: String, cols: Seq[String],
      now: java.time.LocalDate): Seq[String] =
    extractFiltersMasked(question, cols, now)._1

  /** [[extractFilters]] plus the question with every consumed filter
    * span BLANKED (length-preserving, so regex offsets computed on the
    * original question stay valid). Column/measure linking must score
    * against this masked form: "top 5 courses by average score last
    * year" once aggregated AVG(year) because the already-extracted
    * "last year" leaked into the aggregate-column phrase and the exact
    * word `year` outranked the segment hit on `numeric_score`. */
  private[gen] def extractFiltersMasked(question: String, cols: Seq[String],
      now: java.time.LocalDate): (Seq[String], String) = {
    // rendered conditions keyed by (col, op); `=` keys render last-minute
    // from eqVals so repeated values fold into IN — the LinkedHashMap
    // preserves first-appearance order either way
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val eqVals = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashSet[String]]
    def put(col: String, op: String, value: String): Unit =
      if (op == "=") {
        eqVals.getOrElseUpdate(col, scala.collection.mutable.LinkedHashSet.empty) += value
        out.getOrElseUpdate(s"$col =", "") // placeholder keeps position
      } else out.getOrElseUpdate(s"$col $op", s"$col $op ${sqlLit(value)}")
    // Each extractor consumes its matched spans: later (looser) regexes
    // run on a MASKED question so fragments of an already-extracted
    // condition can't re-match — "age between 15 and 17" must not leak
    // "and 15" into the numeric-equality rule, where a fuzzy column
    // match ("and" ⊂ "brand") would fabricate a filter.
    var masked = question
    def consume(ms: Seq[scala.util.matching.Regex.Match]): Unit =
      for (m <- ms)
        masked = masked.substring(0, m.start) + (" " * (m.end - m.start)) + masked.substring(m.end)
    // relative dates run FIRST and consume their spans so "last 30 days"
    // can't leak its number into the numeric-equality extractors; the
    // column is the nearest date-ish one, as for dateCmpRe below
    val dateishCol = cols.find(n => { val l = n.toLowerCase
      l.contains("date") || l.endsWith("_ts") || l == "ts" || l.contains("time") })
    val relSpanMs = relSpanRe.findAllMatchIn(masked).toSeq
    for (m <- relSpanMs; c <- dateishCol) {
      val n = m.group(1).toLong
      val from = m.group(2).toLowerCase match {
        case "day" => now.minusDays(n)
        case "week" => now.minusWeeks(n)
        case "month" => now.minusMonths(n)
        case _ => now.minusYears(n)
      }
      out.getOrElseUpdate(s"$c >=", s"$c >= DATE '$from'")
    }
    consume(relSpanMs)
    val yearCol = cols.find(_.equalsIgnoreCase("year"))
    val relNamedMs = relNamedRe.findAllMatchIn(masked).toSeq
    for (m <- relNamedMs) dateishCol match {
      case Some(c) =>
        import java.time.DayOfWeek
        import java.time.temporal.TemporalAdjusters.previousOrSame
        val monday = now.`with`(previousOrSame(DayOfWeek.MONDAY))
        // (from, until): until = None leaves an open-ended "since" filter
        val (from, until) = (Option(m.group(1)).map(_.toLowerCase),
            Option(m.group(2)).map(_.toLowerCase), Option(m.group(3)).map(_.toLowerCase)) match {
          case (Some("last"), Some("week"), _) => (monday.minusWeeks(1), Some(monday))
          case (Some("last"), Some("month"), _) =>
            (now.withDayOfMonth(1).minusMonths(1), Some(now.withDayOfMonth(1)))
          case (Some("last"), Some("year"), _) =>
            (now.withDayOfYear(1).minusYears(1), Some(now.withDayOfYear(1)))
          case (Some("this"), Some("week"), _) => (monday, None)
          case (Some("this"), Some("month"), _) => (now.withDayOfMonth(1), None)
          case (Some("this"), Some("year"), _) => (now.withDayOfYear(1), None)
          case (_, _, Some("yesterday")) => (now.minusDays(1), Some(now))
          case _ => (now, Some(now.plusDays(1))) // today
        }
        out.getOrElseUpdate(s"$c >=", s"$c >= DATE '$from'")
        until.foreach(u => out.getOrElseUpdate(s"$c <", s"$c < DATE '$u'"))
      case None =>
        // schemas carrying a plain INTEGER `year` column (the reference
        // school fixture): "last/this year" resolves to a year equality
        (Option(m.group(1)).map(_.toLowerCase), Option(m.group(2)).map(_.toLowerCase)) match {
          case (Some("last"), Some("year")) => yearCol.foreach(put(_, "=", (now.getYear - 1).toString))
          case (Some("this"), Some("year")) => yearCol.foreach(put(_, "=", now.getYear.toString))
          case _ => ()
        }
    }
    consume(relNamedMs)
    // absolute natural-language dates, then the month-range form; both
    // consume their spans so the bare-year rule below cannot re-read
    // "June 2023"'s year as an integer-year equality
    val monthDateMs = monthDateRe.findAllMatchIn(masked).toSeq
    for (m <- monthDateMs; c <- dateishCol;
         // a user-phrased impossible date ("after June 31, 2024" — the
         // regex admits day 0..99) must yield NO filter, not a
         // DateTimeException escaping the Either-typed ask surface
         day <- scala.util.Try(java.time.LocalDate.of(
           m.group(4).toInt, monthNumber(m.group(2)), m.group(3).toInt)).toOption) {
      val op = if (Set("after", "since")(m.group(1).toLowerCase)) ">=" else "<"
      out.getOrElseUpdate(s"$c $op", s"$c $op DATE '$day'")
    }
    consume(monthDateMs)
    val inMonthMs = inMonthYearRe.findAllMatchIn(masked).toSeq
    for (m <- inMonthMs; c <- dateishCol) {
      val from = java.time.LocalDate.of(m.group(2).toInt, monthNumber(m.group(1)), 1)
      out.getOrElseUpdate(s"$c >=", s"$c >= DATE '$from'")
      out.getOrElseUpdate(s"$c <", s"$c < DATE '${from.plusMonths(1)}'")
    }
    consume(inMonthMs)
    // "in 2015" against an integer year column — the demo script's
    // anchored-year phrasing ("top 5 courses by average score in 2015")
    val inYearMs = inBareYearRe.findAllMatchIn(masked).toSeq
    for (m <- inYearMs; c <- yearCol) put(c, "=", m.group(1))
    if (yearCol.isDefined) consume(inYearMs)
    val betweenMs = betweenRe.findAllMatchIn(masked).toSeq
    for (m <- betweenMs; c <- strongColumn(m.group(1), cols))
      out.getOrElseUpdate(s"$c BETWEEN", s"$c BETWEEN ${m.group(2)} AND ${m.group(3)}")
    consume(betweenMs)
    val cmpMs = cmpRe.findAllMatchIn(masked).toSeq
    for (m <- cmpMs; c <- strongColumn(m.group(1), cols))
      put(c, if (Set("greater", "more", "higher", "larger", "bigger")(m.group(2).toLowerCase)) ">" else "<", m.group(3))
    consume(cmpMs)
    val atMs = atRe.findAllMatchIn(masked).toSeq
    for (m <- atMs; c <- strongColumn(m.group(1), cols))
      put(c, if (m.group(2).equalsIgnoreCase("least")) ">=" else "<=", m.group(3))
    consume(atMs)
    val aboveMs = aboveRe.findAllMatchIn(masked).toSeq
    for (m <- aboveMs; c <- strongColumn(m.group(1), cols))
      put(c, if (Set("above", "over")(m.group(2).toLowerCase)) ">" else "<", m.group(3))
    consume(aboveMs)
    // quote-escape and drop user-supplied % (a literal _ stays — as a
    // LIKE single-char wildcard it only loosens the match)
    def esc(v: String): String = v.replace("'", "''").replace("%", "")
    // The LIKE noun phrase can span two words ("student names") whose
    // fuzzy score never reaches strongColumn's full-word bar; a unique
    // argmax ≥ 100 over the phrase is the right relaxation here.
    def likeColumn(phrase: String): Option[String] = {
      val scored = cols.map(c => c -> graft.link.Fuzzy.nameScore(c, phrase)).sortBy(-_._2)
      scored.headOption.filter { case (_, s) =>
        s >= 100 && scored.drop(1).headOption.forall(_._2 < s)
      }.map(_._1)
    }
    for ((re, shape) <- Seq(likePrefixRe -> "P", likeSuffixRe -> "S", likeInfixRe -> "I")) {
      val ms = re.findAllMatchIn(masked).toSeq
      for (m <- ms; c <- likeColumn(m.group(1))) {
        val pat = shape match {
          case "P" => s"${esc(m.group(2))}%"
          case "S" => s"%${esc(m.group(2))}"
          case _ => s"%${esc(m.group(2))}%"
        }
        out.getOrElseUpdate(s"$c LIKE", s"$c LIKE '$pat'")
      }
      consume(ms)
    }
    // "with a C grade": the value must look like a literal (uppercase
    // letter or digit start), not a possessive/noun ("with their scores")
    for (m <- withValRe.findAllMatchIn(masked); c <- strongColumn(m.group(2), cols)
         if m.group(1).matches(raw"[A-Z0-9][\w+-]*") && strongColumn(m.group(1), cols).isEmpty)
      put(c, "=", m.group(1))
    // "in the science dept": value-first categorical equality — the
    // trailing word must be a strong column and the value must NOT be a
    // column itself or an ordinal/positional word
    val inTheMs = inTheValColRe.findAllMatchIn(masked).toSeq
    for (m <- inTheMs; c <- strongColumn(m.group(2), cols)
         if strongColumn(m.group(1), cols).isEmpty &&
           !Set("first", "second", "third", "last", "next", "previous", "same")(m.group(1).toLowerCase))
      put(c, "=", m.group(1))
    consume(inTheMs)
    // the trailing extractors blank only the matches that RESOLVED —
    // an unresolved "score above 70" span may still be aggregate
    // signal for the caller reading the mask
    val eqMs = eqRe.findAllMatchIn(masked).toSeq
    consume(for (m <- eqMs; c <- strongColumn(m.group(1), cols)) yield {
      put(c, "=", m.group(2)); m
    })
    val numEqMs = numEqRe.findAllMatchIn(masked).toSeq
    consume(for (m <- numEqMs; c <- strongColumn(m.group(1), cols)) yield {
      put(c, "=", m.group(2)); m
    })
    val dateCmpMs = dateCmpRe.findAllMatchIn(masked).toSeq
    consume(for (m <- dateCmpMs;
         c <- cols.find(n => { val l = n.toLowerCase
           l.contains("date") || l.endsWith("_ts") || l == "ts" || l.contains("time") }).toSeq) yield {
      val day = if (m.group(2).length == 4) s"${m.group(2)}-01-01" else m.group(2)
      val op = if (Set("after", "since")(m.group(1).toLowerCase)) ">=" else "<"
      out.getOrElseUpdate(s"$c $op", s"$c $op DATE '$day'")
      m
    })
    val filters = out.map { case (k, rendered) =>
      if (rendered.nonEmpty) rendered
      else {
        val c = k.stripSuffix(" =")
        val vs = eqVals(c).toSeq.map(sqlLit)
        if (vs.size == 1) s"$c = ${vs.head}" else s"$c IN (${vs.mkString(", ")})"
      }
    }.toSeq
    (filters, masked)
  }

  /** Intent-shaped candidates: aggregation / group-by / distinct patterns
    * derived from the analysis (mirrors the prompt patterns the reference
    * injects — ref query_intent.py:324-379). Group and aggregate columns
    * are chosen by fuzzy score against the question's grouping phrase
    * ("per X") and the rest of the question respectively — not by
    * position in the slice.
    *
    * Candidates are emitted for EVERY sliced table: the table whose
    * aggregate column actually matches the question ranks highest
    * (fit-scaled confidence), and the fallback chain skips any shape
    * that fails validation on a wrong table — "average score per
    * course_id" must aggregate scores.score even though table `courses`
    * outranks `scores` in the slice. */
  def intentCandidates(slice: SchemaSlice, analysis: Analysis,
      question: String = "", fks: Seq[FkEdge] = Nil): Seq[Candidate] =
    slice.tables.toSeq.zipWithIndex.flatMap { case ((t, cols), tableRank) =>
      val q = question.toLowerCase
      // strip intent/filler words and the table's own name so column
      // scoring sees only the content words ("average customer account
      // balance" -> "account balance")
      val fillers = Set("average", "avg", "mean", "total", "sum", "count",
        "min", "minimum", "max", "maximum", "how", "many", "number", "of",
        "the", "list", "all", "unique", "distinct", "values", "value",
        "rows", "are", "there", "on", "from", "show", "me", "per", "each",
        "for", "by", "top", "bottom", "first", "last", "highest", "lowest",
        "sorted", "order", "ordered", "sort", "newest", "oldest", "latest",
        "earliest", "best", "worst")
        // a filler that is ALSO a column of this table stays column
        // signal, not filler: "maximum score" on scores(score, …) keeps
        // "score"; "the total of all orders" on orders(…, total) keeps
        // "total" — stripping it left nothing and the aggregate fell to
        // SUM(id). Same rule for the table's own name tokens.
        .filterNot(tok => cols.exists(_.equalsIgnoreCase(tok))) ++
        Seq(t, if (t.endsWith("s")) t.dropRight(1) else t + "s")
          .filterNot(tok => cols.exists(_.equalsIgnoreCase(tok))) ++
        (0 to 100).map(_.toString)
      def strip(s: String): String =
        // drop the empty token a LEADING separator leaves behind —
        // substring(m.end) phrases start with a space, and the stray
        // "" re-joined as a leading space broke the exact-window
        // (>= 100) column-fit test for every by-aggregate phrase
        s.split("[^a-z0-9_]+").filter(_.nonEmpty).filterNot(fillers).mkString(" ")
      val perPhrase = perPhraseRe.findFirstMatchIn(q).map(m => strip(m.group(1))).getOrElse(strip(q))
      val prePhrase = perPhraseRe.findFirstMatchIn(q).map(m => strip(q.take(m.start))).getOrElse(strip(q))
      def best(candidates: Seq[String], phrase: String, default: String): String =
        if (candidates.isEmpty || phrase.trim.isEmpty) default
        else candidates.maxBy(c => graft.link.Fuzzy.nameScore(c, phrase))
      val groupCol = best(cols, perPhrase, cols.headOption.getOrElse("*"))
      val numericish = best(cols.filterNot(_ == groupCol), prePhrase,
        cols.drop(1).headOption.getOrElse(cols.headOption.getOrElse("*")))
      // Intent-shaped candidates outrank the generic join template (0.6 +
      // join bonus): an aggregation question answered by a raw FK join is
      // a worse answer than the matching aggregate, so confidence 0.85 (beats 0.6 + table + join bonuses).
      val countDistinct = analysis.aggFunction.contains("COUNT") &&
        analysis.allIntents.contains(Intent.DistinctIntent)
      // Explicit "top/first/last N" is a sort+limit question even when an
      // agg keyword also fired ("top" doubles as a MAX keyword in the
      // reference's lists): rank rows, don't collapse to one aggregate.
      val topN = analysis.limitN.isDefined &&
        (analysis.allIntents.contains(Intent.Sorted) || analysis.allIntents.contains(Intent.Limited))
      // Extracted literal filters ("score greater than 75", "with a C
      // grade", "in year 2023") apply to every shape as a WHERE clause.
      // masked form: extracted filter spans blanked (length-preserving,
      // so offsets from regexes over `q` stay valid in `mq`)
      val (filters, maskedQ) = extractFiltersMasked(question, cols, java.time.LocalDate.now())
      val mq = maskedQ.toLowerCase
      val whereSql = if (filters.isEmpty) "" else filters.mkString(" WHERE ", " AND ", "")
      // Fit-scaled confidence: a table whose aggregate column genuinely
      // matches the question outranks the slice's head table; later
      // tables decay slightly so equal fits preserve relevance order.
      def conf(base: Double, fitCol: String, phrase: String, needsFit: Boolean): Double = {
        val fit = !needsFit || (phrase.trim.nonEmpty &&
          graft.link.Fuzzy.nameScore(fitCol, phrase) >= 100)
        base + (if (fit) 0.01 else -0.02) - 0.005 * tableRank
      }
      // "top 5 courses by average score": an explicit aggregate after
      // "by" makes this top-N OVER GROUPS, not top-N rows.
      val aggByM = aggByRe.findFirstMatchIn(q)
      // "whose average score is above 80": HAVING over groups — requires
      // the aggregated column to be a strong column link so a generic
      // phrase never triggers it
      val havingM = havingRe.findFirstMatchIn(q)
        .flatMap(m => strongColumn(m.group(2), cols).map(c => (m, c)))
      // "the second highest score": nth distinct value — checked first
      // because "highest" also fires the MAX aggregation keyword
      val nthM = nthRe.findFirstMatchIn(q)
        .flatMap(m => strongColumn(m.group(3), cols).map(c => (m, c)))
      // "scores above the average score": rows vs a scalar aggregate —
      // checked before the intent match because "average" fires the AVG
      // aggregation keyword, but the question asks for ROWS
      val scalarAvgM = scalarAvgRe.findFirstMatchIn(q)
        .flatMap(m => strongColumn(m.group(2), cols).map(c => (m, c)))
      if (nthM.isDefined) {
        val (m, nthCol) = nthM.get
        val off = ordinalOffset(m.group(1))
        val dir = if (Set("lowest", "smallest")(m.group(2).toLowerCase)) "ASC" else "DESC"
        Seq(Candidate(
          s"SELECT DISTINCT $nthCol FROM $t ORDER BY $nthCol $dir LIMIT 1 OFFSET $off",
          conf(0.88, nthCol, m.group(3), needsFit = false), "template_nth"))
      } else if (scalarAvgM.isDefined) {
        val (m, c) = scalarAvgM.get
        val op = if (Set("above", "over")(m.group(1).toLowerCase)) ">" else "<"
        val orderCol = keyishColumn(t, cols)
        Seq(Candidate(
          s"SELECT * FROM $t WHERE $c $op (SELECT AVG($c) FROM $t) " +
            s"ORDER BY $orderCol LIMIT $DefaultLimit",
          conf(0.87, c, m.group(2), needsFit = false), "template_scalar_avg"))
      } else if (havingM.isDefined) {
        val (m, aggCol) = havingM.get
        val f = m.group(1).toLowerCase match {
          case "average" | "avg" | "mean" => "AVG"
          case "sum" | "total" => "SUM"
          case "count" => "COUNT"
          case "min" | "minimum" => "MIN"
          case _ => "MAX"
        }
        val op = m.group(3).toLowerCase match {
          case "above" | "over" | "greater than" | "more than" => ">"
          case "at least" => ">="
          case "at most" => "<="
          case _ => "<"
        }
        val entityCol = best(cols.filterNot(_ == aggCol), strip(q.take(m.start)), groupCol)
        val expr = if (f == "COUNT") "COUNT(*)" else s"$f($aggCol)"
        // the matched condition IS the having clause — the row-filter
        // extractor sees the same "col above n" text, so no whereSql here
        Seq(Candidate(
          s"SELECT $entityCol FROM $t GROUP BY $entityCol HAVING $expr $op ${m.group(4)} " +
            s"ORDER BY $entityCol LIMIT $DefaultLimit",
          conf(0.87, aggCol, strip(q.substring(m.start, m.end)), needsFit = false), "template_having"))
      } else if (topN && aggByM.isDefined) {
        val m = aggByM.get
        val f = m.group(1).toLowerCase match {
          case "average" | "avg" | "mean" => "AVG"
          case "sum" | "total" => "SUM"
          case _ => "COUNT"
        }
        // phrases come from the FILTER-MASKED question: "average score
        // last year" must link `score`, not the filter's `year` (whose
        // exact-word 140 outranked numeric_score's segment 125)
        val entityPhrase = strip(mq.take(m.start))
        val entityCol = best(cols, entityPhrase, groupCol)
        val aggPhrase = strip(mq.substring(m.end))
        val aggCol = best(cols, aggPhrase, numericish)
        val expr = if (f == "COUNT") "COUNT(*)" else s"$f($aggCol)"
        // "bottom 5 users by total price" ranks ascending — the limit
        // keyword carries the direction, not the agg keyword
        val dir = if (raw"\b(bottom|lowest|worst)\b".r.findFirstIn(q).isDefined) "ASC" else "DESC"
        val local = Candidate(
          s"SELECT $entityCol, $expr AS agg_value FROM $t$whereSql GROUP BY $entityCol " +
            s"ORDER BY agg_value $dir LIMIT ${analysis.limitN.get}",
          conf(0.86, aggCol, aggPhrase, needsFit = f != "COUNT"), "template_agg_topn")
        // Cross-FK variant: when the ranked ENTITY names a dimension
        // table this fact FK-references ("top 5 COURSES by average
        // score" from enrollments), group by the dimension's label
        // column — the demo script shows course NAMES, which the local
        // candidate cannot produce from the fact table (the same
        // reasoning as the joined grouped-aggregate above). Fact-side
        // filters ("in 2015") qualify with the fact alias.
        val joined = for {
          e <- fks.filter(e => e.fromTable == t && slice.tables.contains(e.toTable)).take(2)
          if f != "COUNT" &&
            graft.link.Fuzzy.nameScore(e.toTable, entityPhrase) >= 100 &&
            graft.link.Fuzzy.wordHit(e.toTable, entityPhrase)
        } yield {
          val dimCols = slice.tables(e.toTable).filterNot(_ == e.toColumn)
          val jCol = dimCols.find(c => Seq("name", "title", "label")
            .exists(c.toLowerCase.contains)).orElse(dimCols.headOption).getOrElse(e.toColumn)
          val whereF = if (filters.isEmpty) ""
            else filters.map("f." + _).mkString(" WHERE ", " AND ", "")
          Candidate(
            s"SELECT j.$jCol, $f(f.$aggCol) AS agg_value " +
              s"FROM $t f JOIN ${e.toTable} j ON f.${e.fromColumn} = j.${e.toColumn}$whereF " +
              s"GROUP BY j.$jCol ORDER BY agg_value $dir LIMIT ${analysis.limitN.get}",
            conf(0.88, aggCol, aggPhrase, needsFit = true), "template_agg_topn_join")
        }
        local +: joined
      } else if (topN) {
        val sortCol = best(cols, prePhrase, cols.headOption.getOrElse("*"))
        val dir = if (analysis.sortDescending) "DESC" else "ASC"
        Seq(Candidate(
          s"SELECT * FROM $t$whereSql ORDER BY $sortCol $dir LIMIT ${analysis.limitN.get}",
          conf(0.85, sortCol, prePhrase, needsFit = false), "template_topn"))
      } else analysis.intent match {
        case Intent.Aggregation if countDistinct =>
          val target = best(cols, perPhrase, groupCol)
          Seq(Candidate(s"SELECT COUNT(DISTINCT $target) AS agg_value FROM $t",
            conf(0.85, target, perPhrase, needsFit = false), "template_count_distinct"))
        case Intent.Aggregation =>
          val f = analysis.aggFunction.getOrElse("COUNT")
          // ungrouped: the aggregate target is the best match over ALL
          // columns (groupCol is meaningless here and must not be excluded)
          val aggCol = best(cols, prePhrase, numericish)
          val expr = if (f == "COUNT") "COUNT(*)" else s"$f($aggCol)"
          Seq(Candidate(s"SELECT $expr AS agg_value FROM $t$whereSql",
            conf(0.85, aggCol, prePhrase, needsFit = f != "COUNT"), "template_agg"))
        case Intent.WindowFunction =>
          // W1: individual rows alongside the partition aggregate
          // (ref query_intent.py:331 "AVG(col) OVER (PARTITION BY grp)")
          val f = analysis.aggFunction.getOrElse("AVG")
          Seq(Candidate(
            s"SELECT *, $f($numericish) OVER (PARTITION BY $groupCol) AS window_value " +
              s"FROM $t LIMIT $DefaultLimit",
            conf(0.85, numericish, prePhrase, needsFit = false), "template_window"))
        case Intent.GroupedAggregation =>
          val f = analysis.aggFunction.getOrElse("COUNT")
          val expr = if (f == "COUNT") "COUNT(*)" else s"$f($numericish)"
          // The GROUP column must fit the group phrase too: "count of
          // students per grade letter" used to serve GROUP BY age from
          // the name-matched students table because COUNT candidates
          // carried no fit signal at all — the enrollments candidate
          // whose grade_letter column actually matches must outrank it.
          val groupFitAdj =
            if (perPhrase.trim.isEmpty) 0.0
            else if (graft.link.Fuzzy.nameScore(groupCol, perPhrase) >= 100) 0.005
            else -0.015
          val local = Candidate(
            s"SELECT $groupCol, $expr AS agg_value FROM $t$whereSql GROUP BY $groupCol ORDER BY $groupCol LIMIT $DefaultLimit",
            conf(0.85, numericish, prePhrase, needsFit = f != "COUNT") + groupFitAdj,
            "template_group")
          // Grouped aggregation ACROSS an FK edge ("course names with
          // average score per course" groups scores by courses.course_name):
          // emitted only when a non-key column of the joined dimension
          // matches the question STRICTLY better than the local group
          // column, so plain per-local-column questions never join.
          // COUNT is join-safe ONLY when the counted noun names this
          // fact table ("count of scores per student name" counts score
          // rows); "count of <dimension> per X" must stay local — the
          // fact-side fan-out would silently count the wrong entity.
          val countedEntity = raw"count of ([a-z0-9_ ]+?)\s+(?:per|by|for each)\b".r
            .findFirstMatchIn(q).map(_.group(1).trim)
          val countsThisTable =
            countedEntity.exists(p => graft.link.Fuzzy.nameScore(t, p) >= 100)
          // value-first filter spans ("in the science dept") are FILTER
          // signal, not grouping signal — mask them so the dimension
          // column choice ranks "course name" over the filtered "dept"
          val fullPhrase = strip(inTheValColRe.replaceAllIn(q, " "))
          val joined = for {
            e <- fks.filter(e => e.fromTable == t && slice.tables.contains(e.toTable)).take(2)
            if (f != "COUNT" || countsThisTable) && filters.isEmpty
            (jCol, s) <- slice.tables(e.toTable).filterNot(_ == e.toColumn)
              .map(c => c -> graft.link.Fuzzy.nameScore(c, fullPhrase)).sortBy(-_._2).headOption
            // WORD-level evidence required, not a bare substring window:
            // "age" sitting inside "percentage" partial-matches at 100
            // and must not pull in a students join the question never
            // asked for
            if s >= 100 && graft.link.Fuzzy.wordHit(jCol, fullPhrase) &&
              s > graft.link.Fuzzy.nameScore(groupCol, fullPhrase)
          } yield {
            // filters naming the DIMENSION's columns ("in the science
            // dept" → courses.dept) attach to the joined side; the
            // fact-side `filters.isEmpty` guard above stays — unqualified
            // fact filters would be ambiguous in the join
            val dimFilters = extractFilters(question,
              slice.tables(e.toTable).filterNot(_ == e.toColumn).filterNot(_ == jCol))
            val whereJ =
              if (dimFilters.isEmpty) "" else dimFilters.map("j." + _).mkString(" WHERE ", " AND ", "")
            // base 0.88, above the local grouped-agg's fit-passing 0.87:
            // the jCol guard (>= 100 AND > groupCol's own fit) proves the
            // question demands the DIMENSION column ("course NAMES …"),
            // which only the join can serve — the local candidate cannot
            // produce course_name from the fact table at any confidence
            Candidate(
              s"SELECT j.$jCol, ${if (f == "COUNT") "COUNT(*)" else s"$f(f.$numericish)"} AS agg_value " +
                s"FROM $t f JOIN ${e.toTable} j ON f.${e.fromColumn} = j.${e.toColumn}$whereJ " +
                s"GROUP BY j.$jCol ORDER BY j.$jCol LIMIT $DefaultLimit",
              conf(0.88, numericish, prePhrase, needsFit = f != "COUNT"), "template_join_group")
          }
          local +: joined
        case Intent.DistinctIntent =>
          Seq(Candidate(
            s"SELECT DISTINCT $groupCol FROM $t ORDER BY $groupCol LIMIT $DefaultLimit",
            conf(0.85, groupCol, perPhrase, needsFit = false), "template_distinct"))
        case _ if filters.nonEmpty =>
          // filtered row-select ("scores with a C grade and score
          // greater than 75"): deterministic total order on the
          // key-ish column
          val orderCol = keyishColumn(t, cols)
          Seq(Candidate(
            s"SELECT * FROM $t$whereSql ORDER BY $orderCol LIMIT $DefaultLimit",
            conf(0.85, orderCol, "", needsFit = false), "template_filter"))
        case _ => Nil
      }
    }

  /** Anti-join count across an FK edge: "number of courses that have no
    * scores" → COUNT of dimension rows with no referencing fact rows
    * (NOT EXISTS — Catalyst plans it as a LeftAnti join, never a
    * cartesian; both question nouns must name sliced tables linked by an
    * FK edge, so generic "no X" phrasing never fabricates a candidate). */
  def antiJoinCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    antiJoinRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val tables = slice.tables.keySet
      // strictly unique argmax (same bar as likeColumn): two tables tying
      // at the top score means the noun is ambiguous — produce no
      // candidate rather than resolve alphabetically to a wrong table
      def table(word: String): Option[String] = {
        val scored = tables.toSeq.map(t => t -> graft.link.Fuzzy.nameScore(t, word))
          .filter(_._2 >= 100).sortBy { case (t, s) => (-s, t) }
        scored.headOption.filter { case (_, s) =>
          scored.drop(1).headOption.forall(_._2 < s)
        }.map(_._1)
      }
      for {
        dim <- table(m.group(1)).toSeq
        fact <- table(m.group(2)).toSeq
        if dim != fact
        e <- fks.find(e => e.fromTable == fact && e.toTable == dim).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM $dim d WHERE NOT EXISTS " +
          s"(SELECT 1 FROM $fact f WHERE f.${e.fromColumn} = d.${e.toColumn})",
        0.9, "template_anti_join")
    }

  /** Extreme-group lookup: "student name with the most scores" → the
    * grouped COUNT (joined across the FK edge when the entity phrase
    * names a dimension column, local when it names a fact column) ranked
    * to its single extreme row. Both nouns must resolve strongly —
    * generic "X with the most Y" phrasing over unknown nouns yields
    * nothing. */
  def mostCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    mostRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).equalsIgnoreCase("most")) "DESC" else "ASC"
      // the counted noun must name exactly one sliced table
      val factScored = slice.tables.keySet.toSeq
        .map(t => t -> graft.link.Fuzzy.nameScore(t, m.group(3)))
        .filter(_._2 >= 100).sortBy { case (t, s) => (-s, t) }
      val factOpt = factScored.headOption.filter { case (_, s) =>
        factScored.drop(1).headOption.forall(_._2 < s)
      }.map(_._1)
      factOpt.toSeq.flatMap { fact =>
        val entity = m.group(1).trim
        val joined = for {
          e <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable))
          (jCol, s) <- slice.tables(e.toTable).filterNot(_ == e.toColumn)
            .map(c => c -> graft.link.Fuzzy.nameScore(c, entity)).sortBy(-_._2).headOption
          if s >= 100
        } yield Candidate(
          s"SELECT j.$jCol, COUNT(*) AS agg_value " +
            s"FROM $fact f JOIN ${e.toTable} j ON f.${e.fromColumn} = j.${e.toColumn} " +
            s"GROUP BY j.$jCol ORDER BY agg_value $dir, j.$jCol LIMIT 1",
          0.9, "template_most_join")
        val local = strongColumn(entity, slice.tables(fact)).map { c =>
          Candidate(
            s"SELECT $c, COUNT(*) AS agg_value FROM $fact " +
              s"GROUP BY $c ORDER BY agg_value $dir, $c LIMIT 1",
            0.89, "template_most_local")
        }.toSeq
        joined ++ local
      }
    }

  /** The question word names exactly one sliced table (strictly unique
    * argmax at >= 100, same bar as antiJoinCandidates). */
  private[gen] def uniqueTable(slice: SchemaSlice, word: String): Option[String] = {
    val scored = slice.tables.keySet.toSeq
      .map(t => t -> graft.link.Fuzzy.nameScore(t, word))
      .filter(_._2 >= 100).sortBy { case (t, s) => (-s, t) }
    scored.headOption.filter { case (_, s) =>
      scored.drop(1).headOption.forall(_._2 < s)
    }.map(_._1)
  }

  /** The display column of a dimension: a column whose name contains
    * "name" (students → student_name); the shape is skipped without one. */
  private[gen] def nameishColumn(cols: Seq[String]): Option[String] =
    cols.find(_.toLowerCase.contains("name"))

  /** The grade column of a dimension: the first whose name starts with
    * "grade" (students → grade_level). */
  private[gen] def gradeColumn(cols: Seq[String]): Option[String] =
    cols.find(_.toLowerCase.startsWith("grade"))

  /** Full deterministic candidate set, ordered by confidence desc.
    *
    * `full` (optional) is the UNPRUNED schema: shapes that traverse the
    * FK graph retry against it when the relevance slice's top-4 tables
    * dropped a link in the chain — "total quantity of items ordered by
    * each customer" needs order_items AND customers, but the slice
    * keeps neither (round-16 eval b9). The retry fires only when the
    * slice grounding emitted NOTHING, so every slice-served question
    * ranks exactly as before. */
  def candidates(slice: SchemaSlice, fks: Seq[FkEdge], analysis: Analysis,
      question: String = "",
      values: String => Map[String, Seq[String]] = _ => Map.empty,
      full: SchemaSlice = SchemaSlice(Map.empty)): Seq[Candidate] = {
    def orFull(gen: SchemaSlice => Seq[Candidate]): Seq[Candidate] = {
      val sliced = gen(slice)
      if (sliced.nonEmpty || full.tables.isEmpty) sliced else gen(full)
    }
    // flat Seq literal, NOT a ++ chain: >100 chained concatenations
    // nest deeply enough to overflow the compiler stack
    Seq(
      // round-16 benchmark-hard shapes FIRST: their triggers are the
      // most specific readings of their phrasings ("never", tie-aware
      // "which … highest", "at least N", "overall average", "each
      // month") and must claim the question before a generic aggregate
      // shape reads the same words as a scalar MAX/COUNT
      neverAntiJoinCandidates(slice, fks, question, values),
      tieArgmaxCandidates(slice, fks, question),
      havingCountThresholdCandidates(slice, fks, question),
      groupAggThresholdCandidates(slice, question),
      aboveOverallAvgCandidates(slice, fks, question),
      distinctPerGroupCandidates(slice, question),
      monthBucketCandidates(slice, question),
      sumArgmaxCandidates(slice, fks, question),
      multiAggPerGroupCandidates(slice, question),
      derivedAmountCandidates(slice, question),
      attrCohortVsAvgCandidates(slice, question),
      pairAggCandidates(slice, question),
      shareOfValueCandidates(slice, question, values),
      howManyDifferentCandidates(slice, question),
      crossTableCountPairCandidates(slice, question),
      aggDiffBetweenCandidates(slice, question),
      cohortRatioCandidates(slice, question, values),
      shareOverThresholdCandidates(slice, question),
      havingDistinctCountCandidates(slice, fks, question),
      vsGroupAvgCandidates(slice, question),
      monthArgmaxCandidates(slice, question),
      mostOfValueCandidates(slice, fks, question, values),
      nthGroupAggCandidates(slice, question),
      nameOfMostCandidates(slice, fks, question),
      perGroupArgmaxCandidates(slice, question),
      twoDimGroupCandidates(slice, question),
      directionalExtremeCandidates(slice, question),
      shareArgmaxCandidates(slice, fks, question, values),
      // round-18 fifth-wave shapes: specific phrasings that must claim
      // their questions before the generic aggregate/argmax shapes read
      // the same words as a scalar MAX/COUNT
      avgOfGroupAggCandidates(slice, fks, question),
      imperativeChainCandidates(slice, question, values),
      percentOfTotalValueCandidates(slice, question, values),
      booleanAggCompareCandidates(slice, question),
      superlativeAntiJoinCandidates(slice, fks, question),
      joinedValueAggCandidates(slice, fks, question, values),
      groupTopkCandidates(slice, fks, question),
      dowBucketCandidates(slice, question),
      namedCohortCompareCandidates(slice, question, values),
      generatePerGroupCandidates(slice, question),
      cohortAggDiffCandidates(slice, question, values),
      distinctCountArgmaxCandidates(slice, fks, question),
      derivedRowArgmaxCandidates(slice, question),
      twoCohortAvgCandidates(slice, question, values),
      groupedDiffCandidates(slice, question),
      countVsOwnGroupCandidates(slice, question),
      shareOfGroupsCandidates(slice, fks, question),
      orFull(s => totalByFilteredEntityCandidates(s, fks, question)),
      nestedGroupHavingCandidates(slice, fks, question),
      dirSetDiffCandidates(slice, question),
      orFull(s => twoHopAggCandidates(s, fks, question)),
      directionalGroupCountCandidates(slice, question),
      existentialCountCandidates(slice, fks, question, values),
      bridgeCandidates(slice, fks, question),
      nestedHavingCandidates(slice, fks, question),
      aggOfAggCandidates(slice, fks, question),
      groupwiseArgmaxCandidates(slice, fks, question),
      havingScalarCandidates(slice, fks, question),
      ratioAggCandidates(slice, question),
      correlatedFilterCandidates(slice, question),
      percentileAggCandidates(slice, fks, question),
      bottomNCandidates(slice, fks, question),
      avgCountPerCandidates(slice, fks, question),
      filteredHavingCandidates(slice, fks, question),
      havingExtremeCandidates(slice, fks, question),
      deviationHavingCandidates(slice, fks, question),
      rangeArgmaxCandidates(slice, fks, question),
      groupedArgmax2Candidates(slice, fks, question),
      divisionCandidates(slice, fks, question, values),
      nthAggCandidates(slice, fks, question),
      conditionalShareCandidates(slice, fks, question),
      trendCompareCandidates(slice, fks, question),
      absPeriodDeltaCandidates(slice, fks, question),
      universalPeriodCountCandidates(slice, fks, question),
      groupShareCandidates(slice, fks, question),
      coOccurrenceCandidates(slice, fks, question),
      universalFilterCandidates(slice, fks, question),
      pairCoOccurrenceCandidates(slice, fks, question),
      selfRelativeCandidates(slice, fks, question, values),
      attrDivisionCandidates(slice, fks, question),
      variabilityCandidates(slice, fks, question),
      groupSelfShareCandidates(slice, fks, question),
      relativeDivisionCandidates(slice, fks, question),
      groupTopkMembersCandidates(slice, fks, question),
      deviationArgmaxCandidates(slice, fks, question),
      monotonicTrendCandidates(slice, fks, question),
      universalSelfRelativeCandidates(slice, fks, question),
      sameDimArgmaxCandidates(slice, fks, question),
      rangeHavingCandidates(slice, fks, question),
      trendArgmaxCandidates(slice, fks, question),
      divisionByExampleCandidates(slice, fks, question),
      filteredPopularityCandidates(slice, fks, question),
      argmaxAttrFilterCandidates(slice, fks, question),
      pairArgminAggCandidates(slice, fks, question),
      aggVsMedianCandidates(slice, fks, question),
      setEqualityCandidates(slice, fks, question),
      entityArgmaxAttrCandidates(slice, fks, question, values),
      trendShareCandidates(slice, fks, question),
      reverseAttrDivisionCandidates(slice, fks, question),
      joinedPairArgmaxCandidates(slice, fks, question),
      countVsAvgCountCandidates(slice, fks, question),
      joinedCondShareCandidates(slice, fks, question),
      joinedRatioArgmaxCandidates(slice, fks, question),
      universalComparisonCandidates(slice, fks, question, values),
      filteredScalarAggCandidates(slice, fks, question, values),
      joinedDistinctArgmaxCandidates(slice, fks, question),
      percentileRankCandidates(slice, fks, question),
      nestedGroupDeviationCandidates(slice, fks, question),
      countVsExampleCandidates(slice, fks, question),
      dimRangeArgmaxCandidates(slice, fks, question),
      universalOtherRelativeCandidates(slice, fks, question),
      avgOfRangeCandidates(slice, fks, question),
      universalGroupAggCandidates(slice, fks, question),
      trendArgmaxEntityCandidates(slice, fks, question, values),
      medianCountPerCandidates(slice, fks, question),
      universalRankCandidates(slice, fks, question, values),
      minimaxArgmaxCandidates(slice, fks, question),
      correlationCandidates(slice, fks, question),
      stddevVsAvgCandidates(slice, fks, question),
      groupSelfBeatShareCandidates(slice, fks, question),
      joinedDistinctTopnCandidates(slice, fks, question),
      filteredPeriodArgmaxCandidates(slice, fks, question, values),
      topkShareCandidates(slice, fks, question),
      argminAttributionCandidates(slice, fks, question, values),
      countIncreasingCandidates(slice, fks, question),
      comparativeCohortCandidates(slice, fks, question),
      trendArgmaxAttrCandidates(slice, fks, question),
      extremeCountPerCandidates(slice, fks, question),
      shareEntityExtremeCandidates(slice, fks, question),
      rankedGroupShareCandidates(slice, fks, question),
      rangeOfGroupAggsCandidates(slice, fks, question),
      selfRelativeDimCandidates(slice, fks, question),
      superlativeAdjArgmaxCandidates(slice, fks, question),
      conjunctiveTrendCandidates(slice, fks, question, values),
      medianEntityArgmaxCandidates(slice, fks, question),
      adjacentPeriodPairCandidates(slice, fks, question),
      exclusiveAttrCandidates(slice, fks, question, values),
      shareGroupsLackingCandidates(slice, fks, question),
      attrCoverageCandidates(slice, fks, question),
      recentKAverageCandidates(slice, fks, question),
      categoryMajorityCandidates(slice, fks, question),
      crossGroupStabilityCandidates(slice, fks, question),
      runningPeriodTotalCandidates(slice, fks, question),
      strictImprovementCandidates(slice, fks, question, values),
      attrPairArgminCandidates(slice, fks, question),
      universalGroupSelfCountCandidates(slice, fks, question, values),
      bandedShareCandidates(slice, fks, question),
      groupInnerRangeArgmaxCandidates(slice, fks, question, values),
      floorOverPeriodsCandidates(slice, fks, question, values),
      avgOfGroupSharesCandidates(slice, fks, question),
      entityAggCorrCandidates(slice, fks, question),
      crossLevelUniversalCandidates(slice, fks, question),
      nthTrendArgmaxCandidates(slice, fks, question, values),
      qualifyingCountByAttrCandidates(slice, fks, question),
      groupMedianArgmaxCandidates(slice, fks, question, values),
      crossCategoryMarginCandidates(slice, fks, question, values),
      universalGroupTrendCandidates(slice, fks, question),
      namedEntityRankCandidates(slice, fks, question, values),
      percentChangeCandidates(slice, fks, question),
      groupConcentrationCandidates(slice, fks, question),
      joinedDistinctHavingCandidates(slice, fks, question),
      periodBalanceCandidates(slice, fks, question, values),
      categoryAttrRangeArgmaxCandidates(slice, fks, question),
      maxTieCountCandidates(slice, fks, question),
      sharePersonalBestCandidates(slice, fks, question),
      top2GapCandidates(slice, fks, question),
      bestMembershipShareCandidates(slice, fks, question, values),
      longestStreakCandidates(slice, fks, question),
      groupedAvgCountPerCandidates(slice, fks, question),
      groupPopularAggCandidates(slice, fks, question),
      joinedDimRangeArgmaxCandidates(slice, fks, question),
      countTrendShareCandidates(slice, fks, question),
      distributionBalanceCandidates(slice, fks, question),
      maxGroupRangeCandidates(slice, fks, question),
      popularMembershipShareCandidates(slice, fks, question),
      categoryShareVsGlobalCandidates(slice, fks, question, values),
      lastPeriodAggCandidates(slice, fks, question),
      groupTrendArgmaxCandidates(slice, fks, question, values),
      filteredDivisionCandidates(slice, fks, question, values),
      aggDiffCandidates(slice, fks, question),
      cohortRelativeAvgCandidates(slice, fks, question),
      valueUniversalCountCandidates(slice, fks, question),
      bottomkAggAvgCandidates(slice, fks, question),
      twoDimAttrAggArgCandidates(slice, fks, question),
      countThresholdEntitiesCandidates(slice, fks, question),
      medianOfGroupAggsCandidates(slice, fks, question),
      factDistributionBalanceCandidates(slice, fks, question),
      nearGroupAvgShareCandidates(slice, fks, question),
      maxPeriodGapCandidates(slice, fks, question),
      avgPeriodSpanCandidates(slice, fks, question),
      freqRankNthCandidates(slice, fks, question),
      joinedCondShareArgmaxCandidates(slice, fks, question),
      avgRankOfSubsetCandidates(slice, fks, question, values),
      uniqueValueCountCandidates(slice, fks, question),
      skewnessArgmaxCandidates(slice, fks, question),
      harmonicMeanGroupsCandidates(slice, fks, question),
      periodDistinctArgmaxCandidates(slice, fks, question),
      trendRankListCandidates(slice, fks, question, values),
      nthEntityAttrCandidates(slice, fks, question),
      filteredAntiCountCandidates(slice, fks, question),
      pairOverlapArgmaxCandidates(slice, fks, question),
      cumulativeDistinctCandidates(slice, fks, question),
      distributionPctCandidates(slice, fks, question),
      avgRankSpacingCandidates(slice, fks, question, values),
      namedValueSelfRelativeCandidates(slice, fks, question, values),
      yoyChangeCandidates(slice, fks, question),
      quartileCohortCountCandidates(slice, fks, question),
      trimmedMeanCandidates(slice, fks, question),
      filteredModeCandidates(slice, fks, question, values),
      iqrCandidates(slice, fks, question),
      medianExceedsMeanShareCandidates(slice, fks, question),
      directionChangesCandidates(slice, fks, question),
      varianceExplainedCandidates(slice, fks, question),
      rankSetDifferenceCandidates(slice, fks, question, values),
      weightedGroupMedianCandidates(slice, fks, question),
      giniEnrollmentCandidates(slice, fks, question),
      subsetContainmentCandidates(slice, fks, question),
      universalThresholdCountCandidates(slice, fks, question),
      categoryEntropyCandidates(slice, fks, question),
      avgSharedMembershipCandidates(slice, fks, question),
      cohortGapFilterCandidates(slice, fks, question),
      namedDominanceCandidates(slice, fks, question, values),
      percentileOfGroupAggsCandidates(slice, fks, question),
      aboveMedianCountCandidates(slice, fks, question),
      profileSimilarityArgminCandidates(slice, fks, question),
      topDecileThresholdCandidates(slice, fks, question),
      rankTrendShareCandidates(slice, fks, question, values),
      zscoreBandShareCandidates(slice, fks, question),
      jaccardPairArgmaxCandidates(slice, fks, question),
      multiTopRankCountCandidates(slice, fks, question, values),
      hardestCourseAvgCandidates(slice, fks, question),
      universalArgmaxAttrCandidates(slice, fks, question, values),
      yoyDeltaArgmaxCandidates(slice, fks, question),
      cohortAggRangeArgmaxCandidates(slice, fks, question),
      aboveAvgMultiCountCandidates(slice, fks, question, values),
      dualCohortCoverageCandidates(slice, fks, question),
      courseStreakArgmaxCandidates(slice, fks, question),
      extremeSameGroupShareCandidates(slice, fks, question),
      groupSizeCorrCandidates(slice, fks, question),
      qualifiedAttrArgminCandidates(slice, fks, question),
      consecutiveGapAvgCandidates(slice, fks, question),
      cohortPopularCandidates(slice, fks, question),
      floorAboveAvgCountCandidates(slice, fks, question),
      avgDistinctPerGroupCandidates(slice, fks, question),
      namedOverlapArgmaxCandidates(slice, fks, question),
      sizeFilteredAvgCandidates(slice, fks, question),
      cohortSumShareCandidates(slice, fks, question),
      gradeDomainSpanCandidates(slice, fks, question),
      valueRatioCandidates(slice, fks, question, values),
      bestCourseDistributionCandidates(slice, fks, question, values),
      uniqueArgmaxCountCandidates(slice, fks, question, values),
      top2CountGapCandidates(slice, fks, question),
      categorySelfCompareCandidates(slice, fks, question, values),
      avgEntityShareCandidates(slice, fks, question, values),
      cohortGroupArgminCandidates(slice, fks, question, values),
      allYearsImprovingCandidates(slice, fks, question, values),
      avgAvgGroupSizeCandidates(slice, fks, question),
      disjointPairCountCandidates(slice, fks, question),
      selfBandUniversalCandidates(slice, fks, question),
      namedGroupAvgRankCandidates(slice, fks, question, values),
      exclusiveValueCountCandidates(slice, fks, question),
      cohortShareArgmaxCandidates(slice, fks, question, values),
      firstPeriodCountCandidates(slice, fks, question),
      enrollmentTrendArgmaxCandidates(slice, fks, question),
      floorThresholdShareCandidates(slice, fks, question),
      deptMedianEnrollmentCandidates(slice, fks, question),
      popularityExtremesGapCandidates(slice, fks, question),
      cohortCountCompareCandidates(slice, fks, question),
      avgEntityMedianCandidates(slice, fks, question),
      nearMaxMembershipCandidates(slice, fks, question),
      top2GapModeCandidates(slice, fks, question),
      avgGroupAttrMaxCandidates(slice, fks, question),
      fullCoveragePeriodCandidates(slice, fks, question),
      aboveAvgCountArgmaxCandidates(slice, fks, question),
      avgMaxMedianGapCandidates(slice, fks, question),
      periodEntropyArgmaxCandidates(slice, fks, question),
      divisionWithNegationCandidates(slice, fks, question, values),
      iqrTrimmedMeanCandidates(slice, fks, question),
      cohortAvgMembershipCandidates(slice, fks, question),
      argmaxEntityDistinctCandidates(slice, fks, question),
      maxCellRangeCandidates(slice, fks, question),
      emptyCellCountCandidates(slice, fks, question),
      entityMinModeCandidates(slice, fks, question),
      entityLastPeriodAvgCandidates(slice, fks, question),
      deptDistributionSimilarityCandidates(slice, fks, question),
      cohortTopkMembersCandidates(slice, fks, question),
      yoyActiveDeltaCandidates(slice, fks, question),
      entitySlopeArgmaxCandidates(slice, fks, question),
      deptTopStudentShareCandidates(slice, fks, question),
      dualExtremeHoldersCandidates(slice, fks, question),
      attrTop2MarginArgmaxCandidates(slice, fks, question, values),
      trendThresholdEntitiesCandidates(slice, fks, question, values),
      groupExtremePeriodShareCandidates(slice, fks, question, values),
      rankProximityPairsCandidates(slice, fks, question, values),
      avgPairwiseCorrCandidates(slice, fks, question),
      periodTrendArgmaxListCandidates(slice, fks, question, values),
      overageTotalCandidates(slice, fks, question),
      timedPairArgmaxCandidates(slice, fks, question),
      attrValuePeakPeriodCandidates(slice, fks, question, values),
      soleCohortRepCandidates(slice, fks, question),
      trimmedRangeCandidates(slice, fks, question),
      modalCohortShareCandidates(slice, fks, question),
      avgPairwiseGapCandidates(slice, fks, question),
      crossRankUniversalCandidates(slice, fks, question, values),
      entitySumGiniCandidates(slice, fks, question),
      twohopDiversityArgmaxCandidates(slice, fks, question),
      groupIqrBandShareCandidates(slice, fks, question),
      bandMembershipArgmaxCandidates(slice, fks, question, values),
      periodCohortShareListCandidates(slice, fks, question),
      rankedAggMaxGapCandidates(slice, fks, question, values),
      courseSubsetCountCandidates(slice, fks, question),
      periodPairOverlapCandidates(slice, fks, question),
      removalImpactCountCandidates(slice, fks, question),
      groupEntropyArgmaxCandidates(slice, fks, question),
      valueRunLengthCandidates(slice, fks, question),
      bestDeptDistributionCandidates(slice, fks, question, values),
      conditionalCohortProbCandidates(slice, fks, question, values),
      cohortJaccardAvgCandidates(slice, fks, question),
      valueAttrRangeArgmaxCandidates(slice, fks, question),
      crossCohortAvgOverlapCandidates(slice, fks, question),
      groupCvArgmaxCandidates(slice, fks, question),
      exactOverlapPairCountCandidates(slice, fks, question),
      bestMatchesPopularShareCandidates(slice, fks, question, values),
      paretoCountCandidates(slice, fks, question),
      medianAttrRangeCandidates(slice, fks, question),
      nearestAvgAttrCandidates(slice, fks, question, values),
      conjunctiveConstraintsCandidates(slice, fks, question, values),
      countPerFkCandidates(slice, fks, question),
      antiJoinListCandidates(slice, fks, question),
      showTableCandidates(slice, question),
      fromToCandidates(slice, fks, question, values),
      fromOnlyCandidates(slice, question, values),
      antiJoinCandidates(slice, fks, question),
      mostCandidates(slice, fks, question),
      intentCandidates(slice, analysis, question, fks),
      joinCandidates(slice, fks, question),
      tableCandidates(slice)
    ).flatten
      .sortBy(-_.confidence)
  }
}
