package graft.gen

import graft.core.{FkEdge, SchemaSlice}
import Templates.{Candidate, DefaultLimit}

/**
 * Round-16 generic shapes for the benchmark-hard question families the
 * external eval exposed (COVERAGE.md "External evaluation — round 16":
 * benchmark-derived macro F1 0.118 before these). Each shape serves a
 * FAMILY from the published text-to-SQL benchmarks — negation/anti-join,
 * tie-aware superlatives, HAVING thresholds, comparison-to-overall-
 * average, per-group COUNT DISTINCT, calendar-month bucketing — linked
 * through the same no-fabrication bars as every other shape (strong
 * column/table links only; a shape that cannot ground every slot in the
 * schema emits nothing).
 *
 * Scale notes: anti-joins emit NOT IN over the fact's key column —
 * Catalyst plans a LeftAnti hash join (null-aware; the fact side
 * aggregates to distinct keys before the join). Tie-argmax emits a
 * scalar-subquery comparison — one extra fact scan reduced to a 1-row
 * broadcast, never a sort. Threshold/overall-average shapes are a single
 * grouped pass with partial aggregation plus (for the overall form) a
 * broadcast scalar.
 */
private[gen] trait TemplatesShapes5 { this: Templates.type =>

  // ---------------------------------------------------------------- utils

  /** Question words (lowercased, order kept, dedup'd). */
  private def qWords(question: String): Seq[String] =
    question.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty).toSeq.distinct

  /** All tables of the slice a question WORD uniquely links to. */
  private[gen] def linkedTables(slice: SchemaSlice, question: String): Seq[String] =
    qWords(question).flatMap(w => uniqueTable(slice, w)).distinct

  /** ALL strong table links for a word, ties included (the store schema
    * crawls BOTH `customer` and `customers`, which tie on the word
    * "customer" — `uniqueTable`'s ambiguity bar blocks there, but a
    * shape whose OTHER slots ground on exactly one of the tied tables
    * has resolved the ambiguity structurally). Callers must enforce
    * single-grounding themselves. */
  private[gen] def strongTables(slice: SchemaSlice, word: String): Seq[String] =
    slice.tables.keySet.toSeq
      .map(t => t -> graft.link.Fuzzy.nameScore(t, word))
      .filter(_._2 >= 100).sortBy { case (t, s) => (-s, t) }.map(_._1)

  /** No-fabrication gate over tie-resolved candidates: emit only when
    * every grounding agrees on ONE query. */
  private[gen] def singleGrounding(cands: Seq[Candidate]): Seq[Candidate] =
    if (cands.map(_.sql).distinct.size == 1) cands.take(1) else Nil

  /** Consonant-skeleton abbreviation: the column is a subsequence of
    * the word's first letter + vowel-stripped tail ("qty" ⊑ q+"ntty"
    * from "quantity"), unique among the table's columns. The vowel
    * strip is what keeps "age" from grounding "average" (its letters
    * appear in order in the full word, but not in the skeleton). */
  private[gen] def skeletonColumn(word: String, cols: Seq[String]): Option[String] = {
    val w = word.toLowerCase
    if (w.length < 4) return None
    val skel = w.head + w.tail.filterNot("aeiou".contains(_))
    def subseq(c: String): Boolean = {
      var i = 0
      skel.foreach(ch => if (i < c.length && c(i) == ch) i += 1)
      i == c.length
    }
    cols.filter { col =>
      val c = col.toLowerCase
      c.length >= 3 && c.length < w.length && c.head == w.head && subseq(c)
    } match {
      case Seq(one) => Some(one)
      case _ => None
    }
  }

  /** Space/case-squashed name equality: crawled schemas store
    * multi-word names without separators ("payment methods" →
    * paymentmethod, "flight type" → flighttype); singular/plural
    * tolerated on either side. */
  private[gen] def squashedColumn(phrase: String, cols: Seq[String]): Option[String] = {
    val sq = phrase.toLowerCase.replaceAll("[^a-z0-9]", "")
    cols.find { c =>
      val l = c.toLowerCase
      l == sq || l + "s" == sq || (sq.endsWith("s") && l == sq.dropRight(1))
    }
  }

  /** Tables a noun links to, EXACT question-word matches preferred: the
    * crawled store db carries both `customer` and `customers`, which
    * tie on the plural-tolerant score — when the noun IS one of them
    * verbatim, that one is meant (the same tiebreak selectRelevant
    * applies). */
  private[gen] def namedTables(slice: SchemaSlice, word: String): Seq[String] = {
    val all = strongTables(slice, word)
    val exact = all.filter(_.equalsIgnoreCase(word.trim))
    if (exact.nonEmpty) exact else all
  }

  /** (column, rendered literal) pairs grounded in a table's VALUE
    * DOMAINS: a domain value whose space/case-stripped form appears in
    * the question ("first class" → (flighttype, 'firstClass')). Values
    * shorter than 4 chars never match (a bare 'F' grade would fire
    * everywhere). */
  private[gen] def domainEqPairs(question: String, table: String,
      values: String => Map[String, Seq[String]]): Seq[(String, String)] = {
    def norm(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]", "")
    val q = norm(question)
    values(table).toSeq.sortBy(_._1).flatMap { case (col, dom) =>
      dom.filter(v => v.length >= 4 && q.contains(norm(v)))
        .sorted.take(1).map(v => col -> sqlLit(v))
    }
  }

  /** Equality filters rendered from [[domainEqPairs]]. */
  private def domainFilters(question: String, fact: String,
      values: String => Map[String, Seq[String]]): Seq[String] =
    domainEqPairs(question, fact, values).map { case (c, v) => s"$c = $v" }

  // -------------------------------------------------- negation anti-join

  // the 'no' alternative is negated EXISTENCE ("have no scores"), not a
  // quantified threshold: "have no more than 3 scores" is a HAVING
  // question (havingCountThresholdCandidates' '<= 3' operator), and
  // reading its 'no' as an anti-join listed entities with ZERO facts —
  // confidently wrong (round-16 advice)
  private[gen] val neverRe =
    raw"(?i)\b(?:never|(?:placed|made|had|have|has|with)\s+no\b(?!\s+(?:more|fewer|less)\s+than))".r

  /**
   * "students who have NEVER enrolled in any course" / "users who never
   * took a first class flight" → the entity rows with NO matching fact
   * row, emitted as a correlated `NOT EXISTS` — NOT a `NOT IN`: Spark
   * plans `NOT IN` as a null-aware anti join, which it supports ONLY as
   * a broadcast (the whole fact-key set must ship to every task — a
   * dead end when the fact side outgrows the broadcast threshold at
   * corpus scale), while `NOT EXISTS` is a plain LeftAnti hash join
   * that shuffles like any other join. The two differ only when the
   * fact key is NULL (NOT IN answers empty), and the benchmark reading
   * is the NOT EXISTS one. Entity/fact linkage comes from the FK graph
   * when present, else from a shared non-"id" key column name (the
   * travel schema has no crawled FKs but shares `usercode`).
   * Domain-grounded value filters restrict the subquery ("first class"
   * → flighttype = 'firstClass'): never did THAT, not never did
   * anything.
   */
  def neverAntiJoinCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] = {
    // a COUNT question over the negation ("number of courses that have
    // no scores") belongs to the sibling antiJoinCandidates shape — this
    // one LISTS the negated entity rows
    if (raw"(?i)\b(?:number|count)\s+of\b|\bhow\s+many\b".r
        .findFirstIn(question).isDefined) return Nil
    neverRe.findFirstMatchIn(question).toSeq.flatMap { nev =>
      // word→table links WITH character positions: the negated entity
      // sits BEFORE the negation word ("STUDENTS who have never …"),
      // while a table named after it is the FACT being negated ("…
      // never enrolled in any COURSE" must not read courses as the
      // entity). Ties INCLUDED (the store schema's customer/customers
      // both link the word "customers") — ambiguity is resolved
      // structurally below, or the shape emits nothing.
      val links = raw"[a-z0-9_]+".r.findAllMatchIn(question.toLowerCase).toSeq
        .flatMap(m => strongTables(slice, m.matched).map(t => (t, m.start)))
      val byTable = links.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val entities = byTable.filter(_._2 < nev.start).keys.toSeq
        .sortBy(byTable)
      // ATTRIBUTE negation (round-17 eval b29): when the negated value
      // grounds in a domain of the ENTITY'S OWN column ("customers who
      // never used a CREDIT CARD" — paymentmethod is each crawled
      // customer's single recorded method), the reading is a plain
      // inequality on the entity row, not an anti-join against some
      // key-shared fact. Checked FIRST: the value belonging to the
      // entity is the stronger grounding, and it resolves the
      // customer/customers tie structurally (only one carries the
      // domain).
      val attrNeg = for {
        entity <- entities
        eCols = slice.tables(entity)
        (c, litv) <- domainEqPairs(question, entity, values).take(1)
      } yield {
        val key = keyishColumn(entity, eCols)
        val proj = (Seq(key) ++ nameishColumn(eCols).toSeq).distinct.mkString(", ")
        Candidate(
          s"SELECT $proj FROM $entity WHERE $c <> $litv " +
            s"ORDER BY $key LIMIT $DefaultLimit",
          0.9, "template_never_attr")
      }
      val attrGrounded = singleGrounding(attrNeg)
      if (attrGrounded.nonEmpty) attrGrounded else {
      val cands = (for {
        entity <- entities
        eCols = slice.tables(entity)
        factCands = (fks.collect {
          case e if e.toTable == entity && slice.tables.contains(e.fromTable) =>
            (e.fromTable, e.fromColumn, e.toColumn)
        } ++ {
          // the travel schema crawls with NO FK metadata: fall back to
          // a shared KEY-LIKE column name (contains id/code/key, never
          // the bare "id" — that names a different entity per table).
          // The slice reorders columns by question relevance, so this
          // scans all entity columns rather than trusting keyishColumn's
          // first-column fallback.
          def keyLike(c: String) = {
            val l = c.toLowerCase
            l != "id" && (l.contains("id") || l.contains("code") || l.contains("key"))
          }
          for {
            t <- slice.tables.keys.toSeq.sorted if t != entity
            shared = eCols.filter(keyLike).filter(slice.tables(t).contains).sorted
            k <- shared.take(1)
          } yield (t, k, k)
        }).distinct
        named = factCands.filter(fc => byTable.contains(fc._1) && fc._1 != entity)
        (isNamed, (fact, fkCol, pkCol)) <- named.map((true, _)) ++
          (if (factCands.size == 1) factCands.map((false, _)) else Nil)
      } yield {
        // value-domain equalities PLUS the general filter extractor
        // ("placed no order AFTER MARCH 1, 2024" restricts the fact
        // side); every rendered condition starts with its column name,
        // so the correlation alias prefixes cleanly
        val filters = (domainFilters(question, fact, values) ++
          extractFilters(question, slice.tables(fact))).distinct
        // negation over a JOIN (round-17 eval b25/b30): the negated
        // value can live on a DIMENSION the fact references ("never
        // enrolled in BIOLOGY" — courses.title, one hop) or one the
        // fact's BRIDGE references ("never ordered a GROCERY item" —
        // orders ← order_items → items.category, two hops). The
        // subquery grows the join chain only when a domain value
        // actually grounds there; dims resolve through the FK graph +
        // mined domains, never the (pruned) slice. One deterministic
        // dim filter at most — a question grounding two is ambiguous
        // and keeps the plain shape.
        val dimHop = fks.filter(_.fromTable == fact).sortBy(_.toTable).flatMap { e2 =>
          domainEqPairs(question, e2.toTable, values).take(1).map { case (c, v) =>
            (s" JOIN ${e2.toTable} j ON f.${e2.fromColumn} = j.${e2.toColumn}",
              s"j.$c = $v")
          }
        }
        val bridgeHop = (for {
          b <- fks.filter(_.toTable == fact).sortBy(_.fromTable)
          e3 <- fks.filter(e => e.fromTable == b.fromTable && e.toTable != fact)
            .sortBy(_.toTable)
          (c, v) <- domainEqPairs(question, e3.toTable, values).take(1)
        } yield (
          s" JOIN ${b.fromTable} b ON b.${b.fromColumn} = f.${b.toColumn}" +
            s" JOIN ${e3.toTable} j ON b.${e3.fromColumn} = j.${e3.toColumn}",
          s"j.$c = $v")).toSeq
        val hop = (dimHop ++ bridgeHop).take(1)
        val joinSql = hop.map(_._1).mkString
        val hopFilters = hop.map(_._2)
        val extra = (filters.map("f." + _) ++ hopFilters) match {
          case Nil => ""
          case fs => fs.mkString(" AND ", " AND ", "")
        }
        val proj = (Seq(pkCol) ++ nameishColumn(eCols).toSeq).distinct
          .map("e." + _).mkString(", ")
        (isNamed, Candidate(
          s"SELECT $proj FROM $entity e WHERE NOT EXISTS " +
            s"(SELECT 1 FROM $fact f$joinSql WHERE f.$fkCol = e.$pkCol$extra) " +
            s"ORDER BY e.$pkCol LIMIT $DefaultLimit",
          0.9, "template_never_anti"))
      })
      // question-NAMED facts disambiguate: "customers who placed no
      // ORDER" resolves against the store schema's structural tie
      // (customer→sales also grounds); only when neither the named nor
      // the full set agrees on one query is the question truly
      // ambiguous — then nothing is emitted
      val namedOnly = cands.collect { case (true, c) => c }
      singleGrounding(namedOnly) match {
        case one if one.nonEmpty => one
        case _ => singleGrounding(cands.map(_._2))
      }
      } // end attr-negation else
    }
  }

  // ---------------------------------------------- tie-aware superlative

  // QUESTION-INITIAL which/who ask for the achieving ROWS; a "what is
  // the lowest X" question asks for the scalar VALUE (plain aggregate
  // shape), and a mid-question "in which / of which" is a RELATIVE
  // pronoun ("the year in which … had its highest average" is a
  // period-argmax, hijacked by an unanchored version of this regex)
  private[gen] val tieArgmaxRe =
    (raw"(?i)^\s*(?:which|who)\b.*?\b(highest|largest|longest|biggest|greatest|maximum|oldest|latest|" +
      raw"most\s+expensive|costliest|lowest|smallest|shortest|cheapest|least\s+expensive|minimum|" +
      raw"youngest|earliest)" +
      raw"(?:\s+([a-z_][a-z0-9_ ]*?))?[\s?.!]*$$").r

  /**
   * "WHICH students achieved the HIGHEST score" — the benchmark-correct
   * answer is every row achieving the extreme (tie-aware), not the
   * scalar MAX and not an arbitrary LIMIT-1: `WHERE col = (SELECT
   * MAX(col) …)`. Two groundings: the measure on the ENTITY table
   * itself (full-row projection — "which items are the most expensive"
   * means the items), or on a FACT joined via FK (entity key + display
   * name, DISTINCT — ties can repeat the entity). "most expensive" /
   * "cheapest" ground to a price-ish column when no column is named.
   */
  def tieArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    tieArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val sup = m.group(1).toLowerCase.replaceAll("\\s+", " ")
      val fn = if (Set("lowest", "smallest", "shortest", "cheapest",
        "least expensive", "minimum", "youngest", "earliest")(sup)) "MIN" else "MAX"
      val colWord = Option(m.group(2)).map(_.trim).filter(_.nonEmpty)
      def measureOn(cols: Seq[String]): Option[String] = colWord match {
        case Some(w) => strongColumn(w, cols)
          .orElse(w.split("\\s+").flatMap(x => strongColumn(x, cols)).headOption)
        case None if sup.contains("expensive") || sup.contains("cheap") ||
          sup.contains("costliest") =>
          cols.find(c => c.toLowerCase.contains("price") || c.toLowerCase.contains("cost"))
        case None => None
      }
      val entities = linkedTables(slice, question)
      // Projection: a NARROW table is the row's identity ("which items
      // are the most expensive" → the 3-column item rows); a WIDE table
      // projected whole buries the answer in incidental columns, so it
      // narrows to the columns a reader identifies the row by — the
      // key-ish column, descriptive name-ish columns (name/title/label,
      // plus place words: the reference's own schema hint singles out
      // fcity/tcity as how flights are described, nl2sql.py:75), and
      // the superlative measure itself.
      def identityKey(entity: String, cols: Seq[String]): String =
        // keyishColumn first (id/_id/key names); crawled schemas also
        // use "…code" keys (travelcode) — never fall back to the
        // slice's relevance-first column, which is the MEASURE here
        cols.find(isKeyish).orElse(cols.find(_.toLowerCase.endsWith("code")))
          .getOrElse(cols.head)
      def identityProjection(entity: String, col: String): Seq[String] = {
        val cols = slice.tables(entity)
        if (cols.size <= 5) cols
        else {
          // city/place are anchored (bare or 1-letter-prefixed, the
          // crawled fcity/tcity idiom): an unanchored substring pulled
          // in "capacity"
          val descriptive = cols.filter(c =>
            raw"(?i)name|title|label|^[a-z]?city$$|^[a-z]?place$$".r.findFirstIn(c.toLowerCase).isDefined)
          (Seq(identityKey(entity, cols)) ++ descriptive ++ Seq(col)).distinct
        }
      }
      val same = for {
        entity <- entities
        col <- measureOn(slice.tables(entity)).toSeq
      } yield Candidate(
        s"SELECT ${identityProjection(entity, col).mkString(", ")} FROM $entity " +
          s"WHERE $col = (SELECT $fn($col) FROM $entity) " +
          s"ORDER BY ${identityKey(entity, slice.tables(entity))} LIMIT $DefaultLimit",
        0.9, "template_tie_argmax")
      val joined = for {
        entity <- entities
        e <- edgesInto(slice, fks, entity)
        col <- measureOn(slice.tables(e.fromTable)).toSeq
        name <- nameishColumn(slice.tables(entity)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.${e.toColumn}, d.$name FROM $entity d " +
          s"JOIN ${e.fromTable} f ON f.${e.fromColumn} = d.${e.toColumn} " +
          s"WHERE f.$col = (SELECT $fn($col) FROM ${e.fromTable}) " +
          s"ORDER BY d.${e.toColumn} LIMIT $DefaultLimit",
        0.92, "template_tie_argmax_join")
      (joined ++ same).take(1)
    }

  // --------------------------------------------- HAVING count threshold

  // 'no more/fewer/less than N' listed FIRST so the alternation claims
  // the full phrase; these are the thresholds neverRe's anti-join
  // reading used to steal (round-16 advice)
  private[gen] val havingCountRe =
    (raw"(?i)\b(?:which|what)\s+([a-z_][a-z0-9_]*)\s+have\s+" +
      raw"(no more than|no fewer than|no less than|at least|more than|at most|fewer than|less than)\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** "Which courses have at least 40 enrollments?" → group the FACT by
    * its FK to the entity, HAVING COUNT(*) against the threshold. */
  def havingCountThresholdCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    havingCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(2).toLowerCase match {
        case "at least" | "no fewer than" | "no less than" => ">="
        case "more than" => ">"
        case "at most" | "no more than" => "<="
        case _ => "<"
      }
      (for {
        entity <- uniqueTable(slice, m.group(1)).toSeq
        fact <- uniqueTable(slice, m.group(4)).toSeq
        if fact != entity
        e <- fks.filter(e => e.fromTable == fact && e.toTable == entity)
      } yield Candidate(
        s"SELECT ${e.fromColumn}, COUNT(*) AS agg_value FROM $fact " +
          s"GROUP BY ${e.fromColumn} HAVING COUNT(*) $op ${m.group(3)} " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_having_count")).take(1)
    }

  // ---------------------------------------------- group agg vs literal

  private[gen] val groupAggThresholdRe =
    (raw"(?i)\b(?:which|what)\s+([a-z_][a-z0-9_]*)\s+have\s+an?\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_ ]*?)\s+" +
      raw"(above|over|below|under|more than|greater than|less than)\s+(\d+(?:\.\d+)?)\b").r

  /** "Which places have an average hotel price above 100?" — group
    * column and measure both live on ONE table (no dim required):
    * GROUP BY g HAVING AVG(v) > N. */
  def groupAggThresholdCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    groupAggThresholdRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val op = if (Set("above", "over", "more than", "greater than")(
        m.group(4).toLowerCase)) ">" else "<"
      (for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g <- strongColumn(m.group(1), cols).toSeq
        v <- (strongColumn(m.group(3).trim, cols) orElse
          m.group(3).trim.split("\\s+").flatMap(w => strongColumn(w, cols)).headOption).toSeq
        if g != v
      } yield Candidate(
        s"SELECT $g, $agg($v) AS agg_value FROM $t GROUP BY $g " +
          s"HAVING $agg($v) $op ${m.group(5)} ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_group_agg_threshold")).take(1)
    }

  // ------------------------------------- group average vs overall average

  private[gen] val aboveOverallRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:have|has|having|with)\s+an?\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_ ]*?)\s+(?:that\s+is\s+)?" +
      raw"(above|over|below|under|more than|greater than|less than)\s+the\s+overall\s+" +
      raw"(average|avg|mean|total|sum)\b").r

  /** "Which courses HAVE AN average score ABOVE THE OVERALL average?" —
    * the Spider Fig.1 comparison-to-aggregate shape; the sibling
    * `havingScalarCandidates` serves only the "whose average X is …"
    * phrasing. Groups the fact by its FK to the entity and compares the
    * group aggregate to the ungrouped scalar (1-row broadcast). */
  def aboveOverallAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    aboveOverallRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val gAgg = sumOrAvg(m.group(2)); val sAgg = sumOrAvg(m.group(5))
      val op = if (Set("above", "over", "more than", "greater than")(
        m.group(4).toLowerCase)) ">" else "<"
      val colPhrase = m.group(3).trim
      (for {
        entity <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, entity)
        fCols = slice.tables(e.fromTable)
        v <- (strongColumn(colPhrase, fCols) orElse
          colPhrase.split("\\s+").flatMap(w => strongColumn(w, fCols)).headOption).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn}, $gAgg($v) AS agg_value FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn} " +
          s"HAVING $gAgg($v) $op (SELECT $sAgg($v) FROM ${e.fromTable}) " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_above_overall")).take(1)
    }

  // ----------------------------------------- count distinct per group

  // the full word is captured and singularized in CODE — a trailing-s?
  // in the regex was dead under the greedy stem (it always swallowed
  // the s), and a non-greedy stem would mangle s-final words ("status"
  // → "statu"); round-16 self-review
  private[gen] val distinctPerGroupRe =
    (raw"(?i)\bhow\s+many\s+(?:different|distinct|unique)\s+([a-z_][a-z0-9_]*)\b" +
      raw".*?\b(?:each|per|every)\s+([a-z_][a-z0-9_]*)\b").r

  /** "How many DIFFERENT courses is EACH student enrolled in?" → both
    * words ground to columns of one fact table:
    * `SELECT g, COUNT(DISTINCT x) GROUP BY g`. */
  def distinctPerGroupCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    distinctPerGroupRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        x <- (strongColumn(m.group(1), cols) orElse
          strongColumn(m.group(1).stripSuffix("s"), cols)).toSeq
        g <- strongColumn(m.group(2), cols).toSeq
        if x != g
      } yield Candidate(
        s"SELECT $g, COUNT(DISTINCT $x) AS agg_value FROM $t GROUP BY $g " +
          s"ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_distinct_per_group")).take(1)
    }

  // ------------------------------------ argmax over a per-entity SUM

  private[gen] val spentMostRe =
    (raw"(?i)^\s*(?:which|who)\s+([a-z_][a-z0-9_]*)\b.*?\bthe\s+(most|least)\s+" +
      raw"(?:money\s+)?(?:in\s+)?([a-z_][a-z0-9_]*)?").r

  /** "Which customer spent the MOST money in total?" → rank entities by
    * the SUM of a fact measure and return every entity achieving the
    * extreme (tie-aware — a LIMIT-1 drops tied top spenders):
    * `WITH t AS (SELECT fk, SUM(v) …) … WHERE s = (SELECT MAX(s) FROM t)`.
    * The measure grounds on the FK-linked fact by the trailing word
    * ("total") or a price-ish fallback; ungroundable → nothing. */
  def sumArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    spentMostRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (m.group(2).equalsIgnoreCase("most")) "MAX" else "MIN"
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        name <- nameishColumn(slice.tables(entity)).toSeq
        e <- edgesInto(slice, fks, entity)
        fCols = slice.tables(e.fromTable)
        // the money-column fallback ONLY under a money reading ("spent
        // the most", "paid the most money") — "the most orders" is a
        // COUNT question and belongs to the with-the-most shape
        moneyish = raw"(?i)\b(?:spent|paid|money|revenue)\b".r
          .findFirstIn(question).isDefined
        v <- (Option(m.group(3)).flatMap(w => strongColumn(w, fCols)) orElse
          (if (moneyish) fCols.find(c => c.toLowerCase.contains("price") ||
            c.toLowerCase.contains("total") || c.toLowerCase.contains("amount"))
           else None)).toSeq
      } yield Candidate(
        s"WITH t AS (SELECT ${e.fromColumn} AS k, SUM($v) AS s FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn}) " +
          s"SELECT d.${e.toColumn}, d.$name FROM $entity d JOIN t ON t.k = d.${e.toColumn} " +
          s"WHERE t.s = (SELECT $fn(s) FROM t) ORDER BY d.${e.toColumn} LIMIT $DefaultLimit",
        0.88, "template_sum_argmax"))
    }

  // -------------------------------------- multi-aggregate per group

  private[gen] val multiAggRe =
    (raw"(?i)\b(?:for\s+each|per)\s+([a-z_][a-z0-9_]*)\b.*?\bhow\s+many\b" +
      raw".*?\b(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** "FOR EACH agency, HOW MANY flights and the AVERAGE price?" — one
    * grouped pass emitting both aggregates; both slots must ground on
    * ONE table (group column + measure column). */
  def multiAggPerGroupCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    multiAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      (for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g <- strongColumn(m.group(1), cols).toSeq
        v <- strongColumn(m.group(3), cols).toSeq
        if g != v
      } yield Candidate(
        s"SELECT $g, COUNT(*) AS n, $agg($v) AS agg_value FROM $t GROUP BY $g " +
          s"ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_multi_agg_group")).take(1)
    }

  // ------------------------------------------- aggregate-pair shapes

  private[gen] val aggWordRe =
    "(average|avg|mean|total|sum|minimum|min|maximum|max|count|number)"
  private[gen] val pairAggRe =
    (raw"(?i)\b$aggWordRe\s+(?:of\s+)?([a-z_][a-z0-9_ ]*?\s+)?and\s+(?:the\s+)?" +
      raw"$aggWordRe\s+(?:of\s+)?([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r
  private[gen] val leadEachRe =
    raw"(?i)^\s*for\s+each\s+([a-z_][a-z0-9_ ]*?)\s*,".r

  private[gen] def aggFn(w: String): String = w.toLowerCase match {
    case "average" | "avg" | "mean" => "AVG"
    case "total" | "sum" => "SUM"
    case "minimum" | "min" => "MIN"
    case "maximum" | "max" => "MAX"
    case _ => "COUNT"
  }

  /** Ground a measure phrase on a table: strong link, per-word strong
    * link, or the crawled initialism idiom — first letters of the
    * leading words + the (singularized) last word ("hotel prices" →
    * hprice, "flight prices" → fprice: the reference's own schema hint
    * names exactly this convention, nl2sql.py:75 "fcity not
    * fromCity"). */
  private[gen] def measureColumn(phrase: String, cols: Seq[String]): Option[String] = {
    val words = phrase.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    if (words.isEmpty) return None
    def sing(w: String) = if (w.endsWith("s")) w.dropRight(1) else w
    val initialism =
      if (words.size < 2) None
      else {
        val target = words.init.map(_.head).mkString + sing(words.last)
        cols.find(_.toLowerCase == target)
      }
    // initialism BEFORE the per-word fallback, and per-word demands
    // WORD-level evidence: "flight prices" must ground fprice, but the
    // bare substring window scored flighttype 100 on "flight" and beat
    // the initialism when per-word ran first
    strongColumn(phrase.trim, cols)
      .orElse(squashedColumn(phrase.trim, cols))
      .orElse(initialism)
      .orElse(words.reverse.flatMap(w => strongColumn(w, cols)
        .filter(c => graft.link.Fuzzy.wordHit(c, phrase))).headOption)
  }

  /**
   * TWO aggregates in one question (round-17 eval b23/b27/b31/b35 —
   * Spider's multi-aggregate family): "the TOTAL and AVERAGE numeric
   * scores", "the MINIMUM and MAXIMUM hotel prices", "the AVERAGE age
   * and NUMBER of students" — one pass, two aggregate expressions.
   * When the first function carries no noun of its own, both apply to
   * the second's column; a count/number slot whose noun names the
   * TABLE renders COUNT(*). Grouped when the question leads with "for
   * each G". Scale: a single grouped (or scalar) partial-aggregated
   * pass — never two scans.
   */
  def pairAggCandidates(slice: SchemaSlice, question: String): Seq[Candidate] =
    pairAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (f1, f2) = (aggFn(m.group(1)), aggFn(m.group(3)))
      val noun1 = Option(m.group(2)).map(_.trim).filter(_.nonEmpty)
      val noun2 = m.group(4).trim
      val groupPhrase = leadEachRe.findFirstMatchIn(question).map(_.group(1).trim)
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        // a count/number slot over the table's own noun is COUNT(*)
        countsTable2 = f2 == "COUNT" && graft.link.Fuzzy.nameScore(t, noun2) >= 100
        c2 <- (if (countsTable2) Some("*") else measureColumn(noun2, cols)).toSeq
        c1 <- (noun1 match {
          case Some(n1) if f1 == "COUNT" && graft.link.Fuzzy.nameScore(t, n1) >= 100 =>
            Some("*")
          case Some(n1) => measureColumn(n1, cols)
          case None => Some(c2) // "total and average scores": shared column
        }).toSeq
        if c1 != "*" || c2 != "*"
        g <- groupPhrase match {
          case Some(gp) =>
            val gc = cols.filterNot(c => c == c1 || c == c2)
              .maxByOption(c => graft.link.Fuzzy.nameScore(c, gp))
            gc.filter(c => graft.link.Fuzzy.nameScore(c, gp) >= 90).map(Some(_)).toSeq
          case None => Seq(None)
        }
      } yield {
        def expr(f: String, c: String) = if (c == "*") "COUNT(*)" else s"$f($c)"
        g match {
          case Some(gc) => Candidate(
            s"SELECT $gc, ${expr(f1, c1)} AS agg_value, ${expr(f2, c2)} AS agg_value2 " +
              s"FROM $t GROUP BY $gc ORDER BY $gc LIMIT $DefaultLimit",
            0.9, "template_pair_agg")
          case None => Candidate(
            s"SELECT ${expr(f1, c1)} AS agg_value, ${expr(f2, c2)} AS agg_value2 FROM $t",
            0.9, "template_pair_agg")
        }
      })
    }

  // ---------------------------------------- share-of-a-value shapes

  private[gen] val shareOfValueRe =
    (raw"(?i)\bwhat\s+(?:share|fraction|proportion|percentage|percent)\s+of\s+" +
      raw"(?:each\s+([a-z_][a-z0-9_ ]*?)(?:'s)?\s+)?([a-z_][a-z0-9_]*)\s+" +
      raw"(?:are|is|were|was)\s+([A-Za-z0-9 +'-]+?)[\s?.!]*$$").r

  /**
   * Share of rows matching a VALUE (round-17 eval b24/b33/b37 — the
   * "what percent of X are Y" family): `SUM(CASE WHEN pred THEN 1 ELSE
   * 0 END) / COUNT(*)`, grouped when the question says "of each G's"
   * or leads with "for each G". The predicate grounds either in a
   * mined VALUE DOMAIN of the fact ("electronics", "first class" →
   * flighttype = 'firstClass') or in the "<literal> <column-noun>"
   * idiom ("A grades" → grade_letter = 'A' — needed because 1-char
   * literals never domain-match). ROUND(…, 4) per the engine's ratio
   * output convention. Scale: one partial-aggregated grouped pass.
   */
  def shareOfValueCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    shareOfValueRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val groupPhrase = Option(m.group(1)).map(_.trim).filter(_.nonEmpty)
        .orElse(leadEachRe.findFirstMatchIn(question).map(_.group(1).trim))
      val factNoun = m.group(2)
      val valuePhrase = m.group(3).trim
      singleGrounding(for {
        t <- strongTables(slice, factNoun)
        cols = slice.tables(t)
        pred <- (domainEqPairs(valuePhrase, t, values).take(1).map {
          case (c, v) => s"$c = $v"
        } ++ {
          // "<literal> <column-noun>" ("A grades"): last word links a
          // column, the tokens before it are the literal, case kept
          val words = valuePhrase.split("\\s+").toSeq
          if (words.size < 2) Nil
          else strongColumn(words.last, cols).map { c =>
            s"$c = ${sqlLit(words.init.mkString(" "))}"
          }.toSeq
        }).take(1)
        g <- groupPhrase match {
          case Some(gp) =>
            cols.maxByOption(c => graft.link.Fuzzy.nameScore(c, gp))
              .filter(c => graft.link.Fuzzy.nameScore(c, gp) >= 90)
              .map(Some(_)).toSeq
          case None => Seq(None)
        }
      } yield {
        val ratio = s"ROUND(CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value"
        g match {
          case Some(gc) => Candidate(
            s"SELECT $gc, $ratio FROM $t GROUP BY $gc ORDER BY $gc LIMIT $DefaultLimit",
            0.9, "template_share_of_value")
          case None => Candidate(s"SELECT $ratio FROM $t", 0.9, "template_share_of_value")
        }
      })
    }

  // --------------------------------- ungrouped distinct-count phrase

  private[gen] val howManyDifferentRe =
    (raw"(?i)\bhow\s+many\s+(?:different|distinct|unique)\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(?:are\s+there|exist|are\s+used|values)\b").r

  /** "HOW MANY DIFFERENT payment methods are there?" (round-17 eval
    * b26) → COUNT(DISTINCT col), the ungrouped sibling of
    * distinctPerGroup — "different" is the Spider phrasing the intent
    * keyword list ("distinct/unique") missed, and the squashed-name
    * idiom grounds multi-word nouns on crawled no-underscore columns
    * ("payment methods" → paymentmethod). */
  def howManyDifferentCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    howManyDifferentRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val noun = m.group(1).trim
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        c <- (strongColumn(noun, cols) orElse squashedColumn(noun, cols)).toSeq
      } yield Candidate(
        s"SELECT COUNT(DISTINCT $c) AS agg_value FROM $t",
        0.9, "template_count_distinct_phrase"))
    }

  // -------------------------------------------- two-hop FK aggregate

  private[gen] val totalPerEntityRe =
    (raw"(?i)\b(?:total|sum\s+of|how\s+much)\s+([a-z_][a-z0-9_]*)\b" +
      raw".*?\b(?:by|per|for)\s+each\s+([a-z_][a-z0-9_]*)\b").r
  // "HOW MANY items (in total) DID EACH customer order?" — the counted
  // noun names the LEAF DIMENSION, and counting items across an order
  // bridge means SUMMING the bridge's quantity column (round-17 eval
  // b32; Spider reads 'how many products did X order' the same way)
  private[gen] val howManyPerEntityRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\b" +
      raw".*?\bdid\s+each\s+([a-z_][a-z0-9_]*)\b").r

  /** "total QUANTITY of items ordered by each CUSTOMER" where the
    * measure lives TWO FK hops from the entity (order_items → orders →
    * customers): chain the two edges, group by the entity. Both hops
    * must be real FK edges — no fabricated joins. Scale shape: two
    * hash joins (the dim side broadcastable) + one grouped pass. */
  def twoHopAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] = {
    val trigger =
      totalPerEntityRe.findFirstMatchIn(question).map(m => (m, false)).orElse(
        howManyPerEntityRe.findFirstMatchIn(question).map(m => (m, true)))
    trigger.toSeq.flatMap { case (m, countForm) =>
      singleGrounding(for {
        entity <- strongTables(slice, m.group(2))
        name <- nameishColumn(slice.tables(entity)).toSeq
        // hop 1: mid → entity; hop 2: leaf → mid carrying the measure
        e1 <- edgesInto(slice, fks, entity)
        mid = e1.fromTable
        e2 <- fks.filter(e => e.toTable == mid && slice.tables.contains(e.fromTable) &&
          e.fromTable != entity)
        // abbrevColumn serves prefix short names ("dept" ⊑ department);
        // skeletonColumn serves consonant-skeleton ones ("qty" ⊑
        // quantity — crawled schemas abbreviate both ways). The
        // count-form resolves differently: the noun names the LEAF
        // DIMENSION the bridge references, and "how many <leaf>" sums
        // the bridge's quantity-typed column (a bridge row is qty-many
        // leaf units, not one)
        v <- (if (countForm) {
          val bridgeCols = slice.tables.get(e2.fromTable).getOrElse(Nil)
          val namesLeafDim = fks.exists(e3 => e3.fromTable == e2.fromTable &&
            e3.toTable != mid && graft.link.Fuzzy.nameScore(e3.toTable, m.group(1)) >= 100)
          if (namesLeafDim)
            bridgeCols.find(c => Set("qty", "quantity", "units")(c.toLowerCase))
          else None
        } else
          strongColumn(m.group(1), slice.tables(e2.fromTable)) orElse
            abbrevColumn(m.group(1), slice.tables(e2.fromTable)) orElse
            skeletonColumn(m.group(1), slice.tables(e2.fromTable))).toSeq
      } yield Candidate(
        s"SELECT d.${e1.toColumn}, d.$name, SUM(l.$v) AS agg_value " +
          s"FROM ${e2.fromTable} l " +
          s"JOIN $mid m ON l.${e2.fromColumn} = m.${e2.toColumn} " +
          s"JOIN $entity d ON m.${e1.fromColumn} = d.${e1.toColumn} " +
          s"GROUP BY d.${e1.toColumn}, d.$name " +
          s"ORDER BY d.${e1.toColumn} LIMIT $DefaultLimit",
        0.88, "template_two_hop_agg"))
    }
  }

  // ------------------------------------------ derived amount measure

  private[gen] val derivedAmountRe =
    raw"(?i)\b(?:total|sum\s+of)\s+(?:the\s+)?(?:[a-z_]+\s+)?(?:amount|revenue|turnover)\b.*?\b(?:per|by|for)\s+(?:each\s+)?[a-z_]".r

  /** "Total SALES AMOUNT per shopping mall in June 2023" — the amount
    * is a DERIVED measure: no column is named amount/revenue, and a
    * single-column SUM silently answers a different question
    * (SUM(quantity) — round-16 eval b12). When the table stores unit
    * price and quantity separately and names neither measure word as a
    * real column, the monetary total is their product: SUM(qty ×
    * price). Literal filters ("in June 2023") attach as WHERE. Scale:
    * one grouped pass — the product folds into the partial aggregate
    * under whole-stage codegen; no join, no second scan. */
  def derivedAmountCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] = {
    if (derivedAmountRe.findFirstIn(question).isEmpty) return Nil
    (for {
      t <- slice.tables.keys.toSeq.sorted
      cols = slice.tables(t)
      // a REAL amount/revenue column answers the question directly and
      // belongs to the plain grouped-aggregate shape — this one exists
      // only for schemas that store the factors separately
      if !cols.exists(c => raw"(?i)amount|revenue".r.findFirstIn(c).isDefined)
      qty <- cols.find(c => Set("qty", "quantity", "units", "unit")(c.toLowerCase)).toSeq
      price <- cols.find(c => raw"(?i)(?:^|_)(?:unit_?)?price$$".r.findFirstIn(c.toLowerCase).isDefined).toSeq
      (filters, maskedQ) = extractFiltersMasked(question, cols, java.time.LocalDate.now())
      groupPhrase <- perPhraseRe.findFirstMatchIn(maskedQ.toLowerCase).map(_.group(1).trim).toSeq
      g = cols.maxBy(c => graft.link.Fuzzy.nameScore(c, groupPhrase))
      // ≥90 tolerates the crawled no-underscore names ("shopping mall"
      // → shoppingmall scores a 96 partial-ratio, below the word-hit
      // 100 band) while still refusing arbitrary fabrications
      if graft.link.Fuzzy.nameScore(g, groupPhrase) >= 90 && g != qty && g != price
    } yield {
      val whereSql = if (filters.isEmpty) "" else filters.mkString(" WHERE ", " AND ", "")
      Candidate(
        s"SELECT $g, SUM($qty * $price) AS agg_value FROM $t$whereSql " +
          s"GROUP BY $g ORDER BY $g LIMIT $DefaultLimit",
        0.89, "template_derived_amount")
    }).take(1)
  }

  // ---------------------- attribute of a cohort vs a scalar aggregate

  private[gen] val attrCohortVsAvgRe =
    (raw"(?i)\b(?:which|what)\s+([a-z_][a-z0-9_ ]*?)\s+(?:are|is|were|was)\s+" +
      raw"(?:used|owned|preferred|chosen|held|placed|made|taken)\s+by\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(older|younger|greater|higher|lower|smaller|larger|bigger|longer|shorter|heavier|lighter)\s+than\s+the\s+" +
      raw"(?:overall\s+)?(?:average|mean|avg)\s+([a-z_][a-z0-9_]*)\b").r

  /** "Which PAYMENT METHODS are used by customers OLDER than the
    * AVERAGE AGE?" (Spider comparison-to-aggregate; round-16 eval b16)
    * → the DISTINCT attribute values of the cohort above/below a scalar
    * aggregate: `SELECT DISTINCT attr FROM t WHERE col > (SELECT
    * AVG(col) FROM t)`. Both the attribute and the compared column must
    * ground on ONE table (the two crawled store dbs both link the word
    * "customers"; only the one carrying both columns survives). Scale:
    * the scalar subquery reduces to a 1-row broadcast; the outer pass
    * is a filtered scan + distinct — no self-join. */
  def attrCohortVsAvgCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    attrCohortVsAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("older", "greater", "higher", "larger", "bigger",
        "longer", "heavier")(m.group(3).toLowerCase)) ">" else "<"
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        if graft.link.Fuzzy.nameScore(t, m.group(2)) >= 100
        cols = slice.tables(t)
        cmp <- strongColumn(m.group(4), cols).toSeq
        attr <- (strongColumn(m.group(1), cols) orElse
          squashedColumn(m.group(1), cols)).toSeq
        if attr != cmp
      } yield Candidate(
        s"SELECT DISTINCT $attr FROM $t WHERE $cmp $op (SELECT AVG($cmp) FROM $t) " +
          s"ORDER BY $attr LIMIT $DefaultLimit",
        0.9, "template_distinct_vs_avg"))
    }

  // ------------------------------------------- existential multi-hop

  private[gen] val existentialRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\b.*?" +
      raw"\b(?:include|includes|contain|contains|have|has|with)\s+at\s+least\s+one\b" +
      raw"(?:\s+([\w+-]+))?(?:\s+([a-z_][a-z0-9_]*))?").r

  /** "How many ORDERS include at least one ELECTRONICS ITEM?" — count
    * the mid entities having ≥1 qualifying row across the FK chain.
    * Emitted WITHOUT joining the mid table: `COUNT(DISTINCT f.<fk>)`
    * over the bridge joined to the (value-filtered) leaf counts exactly
    * the mid keys that qualify — the semi-join against mid adds nothing
    * under FK integrity and is one whole join cheaper at corpus scale.
    * The value modifier grounds in the LEAF's mined domains
    * ("electronics" ∈ items.category), the no-fabrication bar extended
    * to data values; the leaf noun must link the leaf table. */
  def existentialCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    existentialRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val leafWord = Option(m.group(3)).orElse(Option(m.group(2))).getOrElse("")
      singleGrounding(for {
        mid <- strongTables(slice, m.group(1))
        leaf <- strongTables(slice, leafWord)
        if leaf != mid
        // bridge: one table carrying FKs into BOTH mid and leaf
        e1 <- edgesInto(slice, fks, mid)
        e2 <- fks.filter(e => e.fromTable == e1.fromTable && e.toTable == leaf)
        filters = domainFilters(question, leaf, values)
        // a named modifier that grounds nowhere must kill the shape,
        // not silently widen the count to "any leaf at all"
        if Option(m.group(2)).forall(v =>
          strongTables(slice, v).contains(leaf) || filters.nonEmpty)
      } yield {
        val where = if (filters.isEmpty) "" else filters.map("j." + _).mkString(" WHERE ", " AND ", "")
        Candidate(
          s"SELECT COUNT(DISTINCT f.${e1.fromColumn}) AS agg_value " +
            s"FROM ${e1.fromTable} f JOIN $leaf j ON f.${e2.fromColumn} = j.${e2.toColumn}$where",
          0.9, "template_existential_count")
      })
    }

  // ------------------------------------------ directional group count

  private[gen] val directionalRe =
    (raw"(?i)\b(arrive|arrives|arriving|arrivals?|depart|departs|departing|departures?)\b" +
      raw".*?\b(?:at\s+|in\s+|from\s+)?each\s+(?:destination\s+|origin\s+)?([a-z_][a-z0-9_]*)\b").r

  /** "How many flights ARRIVE at each destination CITY?" — the group
    * word ties MULTIPLE columns (`fcity`/`tcity` both contain "city"),
    * and the verb carries the disambiguator: arrivals group by the
    * to-side, departures by the from-side. The to/from prefix idiom is
    * the reference's own crawled-schema convention — its LLM prompt
    * hints "fcity not fromCity" (ref app/ai/nl2sql.py:75) — so the
    * prefix/stem match (t-, to-, dest- vs f-, from-, orig-, src-) is
    * reference-grounded, not invented. Exactly one direction-matching
    * column must survive, else nothing fires. */
  def directionalGroupCountCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    directionalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val arriving = m.group(1).toLowerCase.startsWith("arriv")
      val word = m.group(2)
      (for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        // the word must tie >1 column — a unique link needs no direction
        tied = cols.filter(c => graft.link.Fuzzy.nameScore(c, word) >= 100)
        if tied.size > 1
        g <- {
          def side(c: String) = {
            val l = c.toLowerCase
            if (arriving) l.startsWith("t") || l.contains("dest") || l.contains("arr")
            else l.startsWith("f") || l.contains("orig") || l.contains("src")
          }
          tied.filter(side) match { case Seq(one) => Seq(one); case _ => Nil }
        }
      } yield Candidate(
        s"SELECT $g, COUNT(*) AS agg_value FROM $t GROUP BY $g " +
          s"ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_directional_group")).take(1)
    }

  // --------------------------------------------- calendar-month bucket

  private[gen] val perMonthRe =
    raw"(?i)\b(?:per|each|every|by)\s+month\b".r
  private[gen] val sumOfRe =
    raw"(?i)\b(?:total|sum\s+of)\s+([a-z_][a-z0-9_]*)\b".r

  /** "How many orders were placed IN EACH MONTH?" → bucket the fact's
    * date column by calendar month: `GROUP BY MONTH(datecol)`. COUNT by
    * default; "total <v>" sums a strongly-linked measure instead. */
  def monthBucketCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    perMonthRe.findFirstIn(question).toSeq.flatMap { _ =>
      def dateCol(cols: Seq[String]): Option[String] =
        cols.find(_.toLowerCase.contains("date"))
          .orElse(cols.find(c => c.toLowerCase == "ts" || c.toLowerCase.endsWith("_at")))
      (for {
        fact <- linkedTables(slice, question)
        d <- dateCol(slice.tables(fact)).toSeq
      } yield {
        val agg = sumOfRe.findFirstMatchIn(question)
          .flatMap(m => strongColumn(m.group(1), slice.tables(fact)))
          .map(v => s"SUM($v)").getOrElse("COUNT(*)")
        Candidate(
          s"SELECT MONTH($d) AS month, $agg AS agg_value FROM $fact " +
            s"GROUP BY MONTH($d) ORDER BY month LIMIT $DefaultLimit",
          0.9, "template_month_bucket")
      }).take(1)
    }
}
