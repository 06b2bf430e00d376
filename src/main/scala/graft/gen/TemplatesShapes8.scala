package graft.gen

import graft.core.{FkEdge, SchemaSlice}
import Templates.{Candidate, DefaultLimit}

/**
 * Round-18 fifth-wave shapes: the families of eval wave 5 (COVERAGE.md
 * "External evaluation — round 18") — aggregates OF aggregates under
 * "of each X's" phrasing, multi-sentence imperative chains, value
 * shares of a derived measure, boolean aggregate comparisons,
 * superlatives over an anti-join cohort, dimension-value scalar
 * aggregates through an FK join, grouped top-k, day-of-week calendar
 * buckets, named-cohort comparisons, "generate/produce" derived
 * measures, two-cohort aggregate arithmetic, and distinct-count
 * argmaxes. Same bars as Shapes5–7: every slot must ground strongly
 * (singleGrounding), value slots resolve through mined domains or the
 * documented crawled-schema idioms, directional city columns resolve
 * through the reference's own f-/t-prefix hint (ref
 * app/ai/nl2sql.py:75 "fcity not fromCity"), and nothing fabricates a
 * join the FK graph does not carry.
 *
 * Scale notes: every emission is one or two partial-aggregated passes;
 * argmaxes are tie-aware scalar-subquery comparisons over the groups
 * frame (1-row broadcast), never a LIMIT 1 over ties; the grouped
 * top-k windows partition by the group column over the GROUPS frame
 * (|group×member| rows, not the fact table); the anti-join shape is a
 * LeftAnti hash join (NOT EXISTS, shuffle-safe at corpus scale —
 * Shapes5's neverAntiJoin argument); no driver-side collects.
 */
private[gen] trait TemplatesShapes8 { this: Templates.type =>

  private def sing(w: String): String =
    if (w.endsWith("ies") && w.length > 3) w.dropRight(3) + "y"
    else if (w.endsWith("s")) w.dropRight(1) else w
  private def norm(s: String): String = s.toLowerCase.replaceAll("[^a-z0-9]", "")

  /** EVERY mined-domain column on `table` whose domain contains ALL
    * the given question tokens (case/space-insensitively), with the
    * CANONICAL domain literals in token order — "Fall or Spring" must
    * render the crawled 'Fall', not a lowercased echo of the question.
    * All matches are returned (not the alphabetically first): callers
    * apply their own structural guards and singleGrounding, so a
    * second matching column either resolves structurally or kills the
    * shape — never silently shadows the right one. */
  private def cohortDomainColumns(table: String, tokens: Seq[String],
      values: String => Map[String, Seq[String]]): Seq[(String, Seq[String])] =
    values(table).toSeq.sortBy(_._1).flatMap { case (col, dom) =>
      val hits = tokens.map(tok => dom.find(v => norm(v) == norm(tok)))
      if (hits.forall(_.isDefined)) Some(col -> hits.map(_.get)) else None
    }

  /** Ground a measure WORD to a sum-able expression: a strong column
    * link to the word itself always wins (a question naming `quantity`
    * must never aggregate an `amount` column); only a money word
    * (revenue/amount/…) may fall back to the crawled amount-ish column
    * or, when the schema stores the factors separately, to the
    * qty × price derivation (the derivedAmount rule — shared here by
    * the percent-of-total and generate-phrasing shapes so the two
    * cannot diverge). */
  private def measureExpr(word: String, cols: Seq[String]): Option[String] =
    strongColumn(sing(word), cols).orElse {
      val moneyWord = Set("revenue", "amount", "turnover", "sales",
        "income", "earnings", "money")(word.toLowerCase)
      if (!moneyWord) None
      else cols.find(c =>
        raw"(?i)amount|revenue|turnover".r.findFirstIn(c).isDefined).orElse {
        val qty = cols.find(c => Set("qty", "quantity", "units")(c.toLowerCase))
        val price = cols.find(_.toLowerCase.endsWith("price"))
        (qty zip price).map { case (q, p) => s"$q * $p" }
      }
    }

  /** The fact's date-ish column — the monthBucket lookup (date name,
    * bare ts, `_at` suffix) shared by the calendar-bucket shapes. */
  private def dateishCol(cols: Seq[String]): Option[String] =
    cols.find(_.toLowerCase.contains("date"))
      .orElse(cols.find(c => c.toLowerCase == "ts" || c.toLowerCase.endsWith("_at")))

  /** Tables a VERB form links by stem: "enrolled in" / "enrolling" →
    * enrollments (the round-18 shape-transfer reads g4/g7 — facts are
    * often NAMED BY THEIR ACTION, which the noun-linking scorers miss:
    * partial-ratio("enrollments", "enrolled") sits below the strong
    * bar). The suffix strip (ed/ing/s) must leave ≥4 chars and the
    * stem must prefix EXACTLY one sliced table — noun linking
    * (strongTables) stays primary, and an ambiguous stem grounds
    * nothing. */
  private def verbStemTables(slice: SchemaSlice, word: String): Seq[String] = {
    val w = word.toLowerCase
    val stem = Seq("ed", "ing", "s").collectFirst {
      case suf if w.endsWith(suf) && w.length - suf.length >= 4 => w.dropRight(suf.length)
    }.getOrElse(w)
    if (stem.length < 4) Nil
    else slice.tables.keySet.toSeq.filter(_.toLowerCase.startsWith(stem)).sorted match {
      case Seq(one) => Seq(one)
      case _ => Nil
    }
  }

  /** Resolve a possibly-directional column: a noun that uniquely links
    * one column wins outright; a tie across several (fcity/tcity both
    * carry "city") resolves through the direction hint — a to/dest
    * word keeps the t-side, a from/origin word the f-side (the
    * reference's crawled prefix idiom). `destination(s)`/`origin(s)`
    * carry their own direction and link the city-ish columns by
    * MEANING (no column contains the word itself). */
  private def directionalColumn(noun: String, hint: Option[String],
      cols: Seq[String]): Option[String] = {
    val n = sing(noun.trim.toLowerCase)
    def tSide(c: String) = { val l = c.toLowerCase
      l.startsWith("t") || l.contains("dest") || l.contains("arr") }
    def fSide(c: String) = { val l = c.toLowerCase
      l.startsWith("f") || l.contains("orig") || l.contains("src") }
    val toWard = Set("to", "at", "destination", "dest", "arriving")
    val fromWard = Set("from", "origin", "departing")
    if (Set("destination", "dest")(n) || Set("origin", "source")(n)) {
      // the noun IS the direction: pick the city/place-ish column on
      // the matching side
      val cityish = cols.filter { c =>
        val l = c.toLowerCase; l.contains("city") || l.contains("place")
      }
      cityish.filter(if (Set("origin", "source")(n)) fSide else tSide) match {
        case Seq(one) => Some(one)
        case _ => None
      }
    } else {
      val tied = cols.filter(c => graft.link.Fuzzy.nameScore(c, n) >= 100)
      tied match {
        case Seq(one) => Some(one)
        case Seq() => None
        case many =>
          hint.map(_.toLowerCase).flatMap { h =>
            val side = if (toWard(h)) many.filter(tSide)
            else if (fromWard(h)) many.filter(fSide) else Nil
            side match { case Seq(one) => Some(one); case _ => None }
          }
      }
    }
  }

  // ------------------------------------ aggregate of group aggregates

  private[gen] val avgOfGroupAggRe =
    (raw"(?i)\b(average|avg|mean|total|sum)\s+of\s+each\s+([a-z_][a-z0-9_]*?)(?:'s)?\s+" +
      raw"(maximum|max|highest|best|minimum|min|lowest|worst|average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "The AVERAGE of each course's MAXIMUM score" (eval b65; GeoQuery
    * 'the average of the highest points of the states') — outer
    * aggregate over a per-group inner aggregate. The group noun
    * resolves to a dimension reached by an FK edge from the fact
    * (group key = the fact's FK column) or directly to a fact column;
    * the measure must strongly link a fact column. Distinct from
    * [[aggOfAggCandidates]] ("highest average score among courses" —
    * extreme-of-aggregate phrasing) and [[avgEntityMedianCandidates]]
    * (median-specific). Plan: one grouped pass (partial+final), one
    * scalar aggregate over the |groups| frame — no window. */
  def avgOfGroupAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgOfGroupAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val outer = aggFn(m.group(1))
      val inner = m.group(3).toLowerCase match {
        case "maximum" | "max" | "highest" | "best" => "MAX"
        case "minimum" | "min" | "lowest" | "worst" => "MIN"
        case "total" | "sum" => "SUM"
        case _ => "AVG"
      }
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        measure <- (strongColumn(sing(m.group(4).trim), cols) orElse
          measureColumn(m.group(4).trim, cols)).toSeq
        groupCol <- uniqueTable(slice, m.group(2))
          .flatMap(g => fks.find(e => e.fromTable == t && e.toTable == g).map(_.fromColumn))
          .orElse(strongColumn(m.group(2), cols.filterNot(_ == measure))).toSeq
      } yield Candidate(
        s"SELECT $outer(a) AS agg_value FROM " +
          s"(SELECT $inner($measure) AS a FROM $t GROUP BY $groupCol) t",
        0.91, "template_avg_of_group_agg"))
    }

  // ------------------------------------ multi-sentence imperative chain

  private[gen] val imperativeLeadRe =
    raw"(?i)^\s*(?:please\s+)?(?:show|list|display|give|get|fetch)\b".r
  private[gen] val sortByRe =
    (raw"(?i)^\s*(?:sort|order|rank)(?:\s+(?:them|results|rows|it))?\s+by\s+" +
      raw"([a-z_][a-z0-9_ ]*?)(?:\s+(descending|desc|ascending|asc))?\s*$$").r
  private[gen] val constraintCmpRe =
    (raw"(?i)\b([a-z_][a-z0-9_ ]*?)\s+(above|over|greater than|more than|below|under|less than|fewer than|at least|at most)\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** Multi-sentence imperative chains (eval b66: "Show the enrollments
    * from the Fall term. Only include scores above 80. Sort by
    * score.") — sentences are CUMULATIVE constraints on one result:
    * the lead sentence names the table (and may carry filters), later
    * sentences add filters or set the sort column. Filters come from
    * the shared extractors plus the mined value domains (per
    * sentence); the emitted ORDER BY appends the table's key-ish
    * columns after the requested sort so the LIMIT window is a total
    * order (the engine's deterministic-cap convention). Fires only on
    * ≥2 sentences with an imperative lead and at least one grounded
    * constraint — single-sentence shows stay with showTable. */
  def imperativeChainCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] = {
    val sentences = question.split(raw"(?<=[.!?])\s+").toSeq
      .map(_.trim.replaceAll(raw"[.!?]+$$", "").trim).filter(_.nonEmpty)
    if (sentences.size < 2 || imperativeLeadRe.findFirstIn(sentences.head).isEmpty) return Nil
    singleGrounding(for {
      t <- linkedTables(slice, sentences.head).take(1)
      cols = slice.tables(t)
      filters = sentences.flatMap { s =>
        extractFilters(s, cols) ++
          domainEqPairs(s, t, values).map { case (c, v) => s"$c = $v" } ++
          constraintCmpRe.findAllMatchIn(s).toSeq.flatMap { cm =>
            (strongColumn(sing(cm.group(1).trim.split(raw"\s+").last), cols) orElse
              measureColumn(cm.group(1).trim, cols)).map { c =>
              val op = cm.group(2).toLowerCase match {
                case "above" | "over" | "greater than" | "more than" => ">"
                case "at least" => ">="
                case "at most" => "<="
                case _ => "<"
              }
              s"$c $op ${cm.group(3)}"
            }
          }
      }.distinct
      sort = sentences.flatMap(s => sortByRe.findFirstMatchIn(s).toSeq).headOption
      sortCol = sort.flatMap(sm =>
        strongColumn(sing(sm.group(1).trim), cols) orElse measureColumn(sm.group(1).trim, cols))
      if filters.nonEmpty || sortCol.isDefined
      // a "sort by X" sentence whose column grounds nowhere must kill
      // the shape, not silently drop the instruction
      if sort.isEmpty || sortCol.isDefined
    } yield {
      val dir = sort.flatMap(sm => Option(sm.group(2))).map(_.toLowerCase) match {
        case Some(d) if d.startsWith("desc") => " DESC"
        case _ => ""
      }
      // tie-break with the key-ish columns; a table without any falls
      // back to EVERY remaining column — the LIMIT window must always
      // sit on a total order, and an empty ORDER BY is invalid SQL
      val ties = { val k = cols.filter(isKeyish); if (k.nonEmpty) k else cols }
        .filterNot(sortCol.contains)
      val orderCols = (sortCol.map(_ + dir).toSeq ++ ties).mkString(", ")
      val whereSql = if (filters.isEmpty) "" else filters.mkString(" WHERE ", " AND ", "")
      Candidate(
        s"SELECT * FROM $t$whereSql ORDER BY $orderCols LIMIT $DefaultLimit",
        0.91, "template_imperative_chain")
    })
  }

  // -------------------------------- value share of a derived measure

  private[gen] val percentOfTotalRe =
    (raw"(?i)\bwhat\s+(?:percent|percentage|share|fraction)\s+of\s+(?:the\s+)?total\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:comes?|is|are|was|were)\s+from\s+" +
      raw"([A-Za-z0-9 +'-]+?)[\s?.!]*$$").r

  /** "What percent of total REVENUE comes from ELECTRONICS?" (eval
    * b67) — a value share where the measure is money, real or DERIVED:
    * a real amount/revenue column sums directly; a schema storing the
    * factors separately sums qty × price (the derivedAmount rule). The
    * value grounds in the fact's mined domains. One grouped-free pass:
    * both conditional and total sums fold into a single partial
    * aggregate. */
  def percentOfTotalValueCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    percentOfTotalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val measureWord = m.group(1)
      val valuePhrase = m.group(2).trim
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        measure <- measureExpr(measureWord, cols).toSeq
        (predCol, predVal) <- domainEqPairs(valuePhrase, t, values).take(1)
      } yield Candidate(
        s"SELECT ROUND(SUM(CASE WHEN $predCol = $predVal THEN $measure ELSE 0 END) " +
          s"/ SUM($measure), 4) AS agg_value FROM $t",
        0.91, "template_percent_of_total_value"))
    }

  // ------------------------------------ boolean aggregate comparison

  private[gen] val booleanAggCompareRe =
    (raw"(?i)^\s*is\s+the\s+(average|avg|mean|total|sum|minimum|min|maximum|max)\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(higher|greater|larger|bigger|more|lower|less|smaller)\s+" +
      raw"than\s+(\d+(?:\.\d+)?)[\s?.!]*$$").r

  /** "IS the average flight price HIGHER THAN 250?" (eval b68) — a
    * yes/no question about an aggregate: emit the COMPARISON itself
    * (`AVG(col) > 250`), one boolean row — not the aggregate value
    * (which answers "what is", not "is"). The measure phrase grounds
    * through [[measureColumn]] (the crawled initialism idiom serves
    * "flight price" → fprice). One scalar aggregate pass. */
  def booleanAggCompareCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    booleanAggCompareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = aggFn(m.group(1))
      val op = if (Set("higher", "greater", "larger", "bigger", "more")(
        m.group(3).toLowerCase)) ">" else "<"
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        measure <- (strongColumn(sing(m.group(2).trim), cols) orElse
          measureColumn(m.group(2).trim, cols)).toSeq
      } yield Candidate(
        s"SELECT $fn($measure) $op ${m.group(4)} AS agg_value FROM $t",
        0.91, "template_boolean_agg_compare"))
    }

  // --------------------------------- superlative over an anti-join

  private[gen] val superlativeAntiJoinRe =
    (raw"(?i)\bwho\s+(?:is|are)\s+the\s+(oldest|youngest)\s+([a-z_][a-z0-9_]*)s?\s+" +
      raw"(?:that|who)\s+(?:has\s+|have\s+)?never\s+([a-z][\w ]*?)[\s?.!]*$$").r

  /** "WHO IS THE OLDEST customer THAT NEVER placed an order?" (eval
    * b69) — a superlative over the anti-join cohort, tie-aware and
    * correct on an EMPTY cohort (returns no rows, never a fabricated
    * one). oldest/youngest ground on an age column (the documented
    * adjective idiom); the never-phrase must link a fact table with an
    * FK into the entity (the Shapes5 neverAntiJoin linkage). Plan: one
    * LeftAnti hash join builds the cohort, the superlative is a 1-row
    * scalar subquery against it — re-planned once, the cohort is tiny
    * relative to the fact. */
  def superlativeAntiJoinCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    superlativeAntiJoinRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (m.group(1).equalsIgnoreCase("oldest")) "MAX" else "MIN"
      val neverWords = m.group(3).toLowerCase.split(raw"\s+").toSeq
      singleGrounding(for {
        entity <- strongTables(slice, m.group(2))
        cols = slice.tables(entity)
        // exact name or an `age` WORD segment (customer_age, age_years)
        // — a bare substring match would ground language/percentage/
        // coverage, fabricating the superlative
        ageCol <- cols.find(_.toLowerCase == "age")
          .orElse(cols.find(_.toLowerCase.split("_").contains("age"))).toSeq
        e <- edgesInto(slice, fks, entity)
        // the never-phrase must name the FACT — as a noun ("placed an
        // ORDER") or by its action verb ("never ENROLLED" → enrollments)
        if neverWords.exists(w => strongTables(slice, w).contains(e.fromTable) ||
          verbStemTables(slice, w).contains(e.fromTable))
        proj = (Seq(e.toColumn) ++ nameishColumn(cols).toSeq ++ Seq(ageCol)).distinct
      } yield Candidate(
        s"WITH nc AS (SELECT * FROM $entity x WHERE NOT EXISTS " +
          s"(SELECT 1 FROM ${e.fromTable} f WHERE f.${e.fromColumn} = x.${e.toColumn})) " +
          s"SELECT ${proj.mkString(", ")} FROM nc WHERE $ageCol = " +
          s"(SELECT $fn($ageCol) FROM nc) ORDER BY ${e.toColumn} LIMIT $DefaultLimit",
        // 0.93: when the superlative carries a "never …" relative
        // clause, the tie-argmax join (0.92) reads straight through
        // the negation — the negated cohort reading must win the tie
        0.93, "template_superlative_anti_join"))
    }

  // ----------------------- dimension-value scalar agg through a join

  private[gen] val joinedValueAggRe =
    (raw"(?i)\bwhat\s+is\s+the\s+(average|avg|mean|total|sum|minimum|min|maximum|max)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:in|for|of)\s+([A-Z][\w-]*)[\s?.!]*$$").r

  /** "What is the average SCORE in BIOLOGY?" (eval b70) — the measure
    * lives on the fact, the named value on a DIMENSION reachable by an
    * FK edge: aggregate through the join with the dimension filter.
    * The value must ground in the dimension's mined domains (never a
    * guessed literal). Plan: broadcast the 1-row-filtered dimension
    * into the fact scan, one scalar aggregate. */
  def joinedValueAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    joinedValueAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = aggFn(m.group(1))
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(sing(m.group(2)), slice.tables(t)).toSeq
        e <- fks.filter(e => e.fromTable == t && slice.tables.contains(e.toTable))
        (predCol, predVal) <- domainEqPairs(m.group(3), e.toTable, values).take(1)
      } yield Candidate(
        s"SELECT $fn(f.$measure) AS agg_value FROM $t f " +
          s"JOIN ${e.toTable} d ON d.${e.toColumn} = f.${e.fromColumn} " +
          s"WHERE d.$predCol = $predVal",
        0.91, "template_joined_value_agg"))
    }

  // --------------------------------------------------- grouped top-k

  private[gen] val groupTopkRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*),?\s+(?:what\s+are\s+|show\s+|list\s+)?" +
      raw"the\s+top\s+(\d+|two|three|four|five)\s+([a-z_][a-z0-9_ ]*?)\s+by\s+" +
      raw"(?:number\s+of\s+([a-z_][a-z0-9_]*)|([a-z_][a-z0-9_]*)\s+count)\b").r

  /** "FOR EACH agency, the TOP 2 destinations BY NUMBER OF flights"
    * (eval b71; Spider grouped top-k) — ROW_NUMBER over the grouped
    * counts, partitioned by the group, k per group, the member as the
    * deterministic tie-break (RANK could return 3+ on count ties). The
    * counted noun must link the fact; the ranked noun resolves through
    * [[directionalColumn]] (destination → the t-side city column, the
    * reference's crawled prefix idiom). Plan: one grouped pass
    * (partial+final) over (group, member), then the window over the
    * GROUPS frame only — |g×m| rows, not the fact — with the rk
    * predicate on top; satisfies the aggregation contract via
    * has_window (ref app/ai/nl2sql.py:197). */
  def groupTopkCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupTopkRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val k = countWord(m.group(2))
      val countedNoun = Option(m.group(4)).orElse(Option(m.group(5))).getOrElse("")
      singleGrounding(for {
        fact <- strongTables(slice, countedNoun)
        cols = slice.tables(fact)
        groupCol <- strongColumn(m.group(1), cols).toSeq
        member <- directionalColumn(m.group(3), None, cols.filterNot(_ == groupCol)).toSeq
      } yield Candidate(
        s"SELECT $groupCol, $member FROM (SELECT $groupCol, $member, " +
          s"ROW_NUMBER() OVER (PARTITION BY $groupCol ORDER BY COUNT(*) DESC, $member) AS rk " +
          s"FROM $fact GROUP BY $groupCol, $member) t WHERE rk <= $k " +
          s"ORDER BY $groupCol, $member LIMIT $DefaultLimit",
        0.91, "template_group_topk"))
    }

  // ------------------------------------------- day-of-week bucket

  private[gen] val dowBucketRe =
    raw"(?i)\b(?:per|each|every|by|on\s+each)\s+day\s+of\s+(?:the\s+)?week\b".r

  /** "How many orders were placed ON EACH DAY OF THE WEEK?" (eval b72)
    * — the day-of-week sibling of [[monthBucketCandidates]]: bucket the
    * fact's date column with DAYOFWEEK. COUNT by default; "total <v>"
    * sums a strongly-linked measure. One grouped pass, ≤7 groups. */
  def dowBucketCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    dowBucketRe.findFirstIn(question).toSeq.flatMap { _ =>
      singleGrounding(for {
        fact <- linkedTables(slice, question)
        d <- dateishCol(slice.tables(fact)).toSeq
      } yield {
        val agg = sumOfRe.findFirstMatchIn(question)
          .flatMap(m => strongColumn(m.group(1), slice.tables(fact)))
          .map(v => s"SUM($v)").getOrElse("COUNT(*)")
        Candidate(
          s"SELECT DAYOFWEEK($d) AS dow, $agg AS agg_value FROM $fact " +
            s"GROUP BY DAYOFWEEK($d) ORDER BY dow LIMIT $DefaultLimit",
          0.91, "template_dow_bucket")
      })
    }

  // ------------------------------------- named-cohort count compare

  private[gen] val namedCohortCompareRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+(?:has|have|had|gets?|got)\s+(more|fewer|less)\s+" +
      raw"([a-z_][a-z0-9_]*)\s*[,:]\s*([A-Za-z][\w]*)\s+or\s+([A-Za-z][\w]*)[\s?.!]*$$").r

  /** "WHICH term HAS MORE enrollments, FALL OR SPRING?" (eval b73) —
    * a two-cohort count comparison answered tie-aware (both names on a
    * tie, the engine's argmax convention): restrict to the two named
    * cohorts, group, keep the extreme. Both values must live in ONE
    * mined domain of the fact's group column, rendered with the
    * CANONICAL domain literals. Plan: one filtered grouped pass (2
    * groups), a 1-row scalar subquery. */
  def namedCohortCompareCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    namedCohortCompareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (m.group(2).equalsIgnoreCase("more")) "MAX" else "MIN"
      singleGrounding(for {
        fact <- strongTables(slice, m.group(3))
        groupCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        (domCol, lits) <- cohortDomainColumns(fact, Seq(m.group(4), m.group(5)), values)
        if domCol == groupCol
      } yield Candidate(
        s"WITH t AS (SELECT $groupCol, COUNT(*) AS n FROM $fact " +
          s"WHERE $groupCol IN (${lits.map(sqlLit).mkString(", ")}) GROUP BY $groupCol) " +
          s"SELECT $groupCol FROM t WHERE n = (SELECT $fn(n) FROM t) ORDER BY $groupCol",
        0.92, "template_named_cohort_compare"))
    }

  // ----------------------------- derived measure, generate phrasing

  private[gen] val generatePerGroupRe =
    (raw"(?i)\bhow\s+much\s+([a-z_][a-z0-9_]*)\s+(?:did|does|do)\s+each\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(?:generate|produce|make|earn|bring\s+in)\b").r

  /** "HOW MUCH revenue DID EACH category GENERATE in total?" (eval
    * b74) — the derivedAmount family under generate/produce phrasing
    * (no per/by "amount" keyword for [[derivedAmountCandidates]] to
    * see): a real amount/revenue column sums directly, else qty ×
    * price. One grouped pass. */
  def generatePerGroupCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    generatePerGroupRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        measure <- measureExpr(m.group(1), cols).toSeq
        groupCol <- (strongColumn(m.group(2).trim, cols) orElse
          squashedColumn(m.group(2).trim, cols)).toSeq
        if !measure.contains(groupCol)
      } yield Candidate(
        s"SELECT $groupCol, SUM($measure) AS agg_value FROM $t " +
          s"GROUP BY $groupCol ORDER BY $groupCol LIMIT $DefaultLimit",
        0.91, "template_generate_per_group"))
    }

  // ------------------------------- two-cohort aggregate arithmetic

  private[gen] val cohortAggDiffRe =
    (raw"(?i)\bdifference\s+between\s+the\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*?)s?\s+of\s+(?:the\s+)?([A-Za-z][\w]*)\s+and\s+" +
      raw"(?:the\s+)?([A-Za-z][\w]*)\s+([a-z_][a-z0-9_]*)[\s?.!]*$$").r

  /** "The DIFFERENCE BETWEEN the average scores OF Fall AND Spring
    * enrollments" (eval b75) — two conditional aggregates in ONE pass,
    * subtracted: `AGG(CASE WHEN c=v1 THEN m END) - AGG(CASE WHEN c=v2
    * THEN m END)` (else-NULL keeps each cohort's aggregate exact).
    * Both cohort names must live in one mined domain of the fact.
    * Distinct from [[aggDiffBetweenCandidates]] (max−min of one
    * column) and [[twoCohortAvgCandidates]] (reports the pair, no
    * arithmetic). */
  def cohortAggDiffCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    cohortAggDiffRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = aggFn(m.group(1))
      singleGrounding(for {
        fact <- strongTables(slice, m.group(5))
        cols = slice.tables(fact)
        measure <- (strongColumn(sing(m.group(2)), cols) orElse
          measureColumn(m.group(2), cols)).toSeq
        (domCol, lits) <- cohortDomainColumns(fact, Seq(m.group(3), m.group(4)), values)
        if domCol != measure
      } yield Candidate(
        s"SELECT $fn(CASE WHEN $domCol = ${sqlLit(lits.head)} THEN $measure END) - " +
          s"$fn(CASE WHEN $domCol = ${sqlLit(lits(1))} THEN $measure END) AS agg_value " +
          s"FROM $fact",
        0.92, "template_cohort_agg_diff"))
    }

  // ------------------------------------- distinct-count argmax

  private[gen] val distinctCountArgmaxRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+(?:has|have|had)\s+(?:[a-z]+\s+)?" +
      raw"([a-z_][a-z0-9_]*\s+)?(?:(to|from|in|at)\s+)?the\s+most\s+" +
      raw"(?:different|distinct|unique)\s+([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "WHICH user has taken flights TO the MOST DIFFERENT cities?"
    * (eval b76) — tie-aware argmax over per-entity COUNT(DISTINCT):
    * the entity key and the counted column both live on the fact (the
    * crawled travel schema links `user` → flights.usercode by the
    * shared-key idiom); a direction preposition resolves the
    * fcity/tcity tie through [[directionalColumn]]. Plan: one
    * grouped distinct-count pass, a 1-row scalar subquery over the
    * |entities| frame. */
  def distinctCountArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    distinctCountArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      // with no noun between verb and "the most", the greedy noun slot
      // swallows the PREPOSITION ("enrolled IN the most…") — reclassify
      // it as the direction hint, not a table name
      val preps = Set("to", "from", "in", "at", "on", "of")
      val rawNoun = Option(m.group(2)).map(_.trim).getOrElse("")
      val factNoun = if (preps(rawNoun.toLowerCase)) "" else rawNoun
      val hint = Option(m.group(3))
        .orElse(Some(rawNoun).filter(w => preps(w.toLowerCase)))
      // action-named facts ("has ENROLLED in the most…") reach the
      // candidate set through the verb stem; noun links stay primary
      val stemFacts = question.toLowerCase.split(raw"[^a-z0-9_]+").toSeq
        .flatMap(verbStemTables(slice, _))
      singleGrounding(for {
        fact <- (if (factNoun.nonEmpty) strongTables(slice, factNoun)
        else linkedTables(slice, question) ++ stemFacts).distinct
        cols = slice.tables(fact)
        entityCol <- (strongColumn(m.group(1), cols) orElse
          strongColumn(m.group(1) + "code", cols) orElse
          strongColumn(m.group(1) + "_id", cols)).toSeq
        member <- directionalColumn(m.group(4), hint,
          cols.filterNot(_ == entityCol)).toSeq
      } yield Candidate(
        s"WITH t AS (SELECT $entityCol, COUNT(DISTINCT $member) AS n FROM $fact " +
          s"GROUP BY $entityCol) SELECT $entityCol FROM t " +
          s"WHERE n = (SELECT MAX(n) FROM t) ORDER BY $entityCol",
        0.92, "template_distinct_count_argmax"))
    }
}
