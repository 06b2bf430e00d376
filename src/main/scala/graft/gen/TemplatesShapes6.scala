package graft.gen

import graft.core.{FkEdge, SchemaSlice}
import Templates.{Candidate, DefaultLimit}

/**
 * Round-17 third-wave shapes: the compositional benchmark families the
 * n=105 external eval exposed after the second wave closed (COVERAGE.md
 * "External evaluation — round 17"). Each composes two mechanisms the
 * engine already served separately — cross-table scalar pairs,
 * aggregate arithmetic, correlated per-group comparison, per-group
 * argmax windows, two-dimension grouping, filtered count argmax,
 * nth-ranked group aggregates, cohort ratios, numeric-threshold shares,
 * distinct-count HAVING across an FK bridge. Same no-fabrication bars:
 * every slot must ground strongly or the shape emits nothing
 * (singleGrounding across tied tables).
 *
 * Scale notes: every emission is one or two partial-aggregated passes;
 * argmax variants are tie-aware scalar-subquery comparisons (a 1-row
 * broadcast, never a global sort); the per-group argmax is one window
 * over the |groups|-row aggregate frame, not the corpus.
 */
private[gen] trait TemplatesShapes6 { this: Templates.type =>

  // --------------------------------------- cross-table aggregate pair

  private[gen] val howManyPairRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+and\s+" +
      raw"how\s+many\s+([a-z_][a-z0-9_]*)\b").r

  /** "HOW MANY students AND HOW MANY courses are there?" — two scalar
    * counts from two tables in one row (Spider's cross-table pair).
    * Emitted as two scalar subqueries: each is its own partial count,
    * no join, no cross product. */
  def crossTableCountPairCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    howManyPairRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      for {
        t1 <- uniqueTable(slice, m.group(1)).toSeq
        t2 <- uniqueTable(slice, m.group(2)).toSeq
        if t1 != t2
      } yield Candidate(
        s"SELECT (SELECT COUNT(*) FROM $t1) AS agg_value, " +
          s"(SELECT COUNT(*) FROM $t2) AS agg_value2",
        0.9, "template_cross_count_pair")
    }

  // --------------------------------------------- aggregate arithmetic

  private[gen] val maxWords = "(?:highest|largest|longest|biggest|greatest|maximum|oldest|latest|most\\s+expensive|costliest)"
  private[gen] val minWords = "(?:lowest|smallest|shortest|cheapest|least\\s+expensive|minimum|youngest|earliest)"
  private[gen] val aggDiffBetweenRe =
    (raw"(?i)\bdifference\s+between\s+the\s+($maxWords|$minWords)\s+and\s+" +
      raw"(?:the\s+)?($maxWords|$minWords)\s+([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "DIFFERENCE BETWEEN the most expensive and cheapest item price" →
    * MAX(col) − MIN(col), one scalar pass. Price-word superlatives ground
    * to a price-ish column when the noun phrase does not name one
    * directly (the tie-argmax shape's convention). */
  def aggDiffBetweenCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    aggDiffBetweenRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def fn(w: String) =
        if (w.toLowerCase.replaceAll("\\s+", " ").matches(minWords)) "MIN" else "MAX"
      val (f1, f2) = (fn(m.group(1)), fn(m.group(2)))
      if (f1 == f2) Nil
      else {
      // the noun phrase's own words pick the table when they NAME one
      // ("ITEM price" → items, not the sibling sales.price — two
      // groundings would otherwise tie and silence the shape)
      val nounWords = m.group(3).toLowerCase.split("\\s+").toSeq
      // exact singular/plural name first — a segment hit (order_ITEMS)
      // must not tie with the table the noun actually names (items)
      def exactName(t: String, w: String) = {
        val l = t.toLowerCase
        l == w || l == w + "s" || w == l + "s"
      }
      val exact = slice.tables.keys.toSeq.sorted
        .filter(t => nounWords.exists(exactName(t, _)))
      val named =
        if (exact.nonEmpty) exact
        else slice.tables.keys.toSeq.sorted.filter(t =>
          nounWords.exists(w => graft.link.Fuzzy.nameScore(t, w) >= 100 &&
            graft.link.Fuzzy.wordHit(t, m.group(3))))
      val candidates = if (named.nonEmpty) named else slice.tables.keys.toSeq.sorted
      singleGrounding(for {
        t <- candidates
        cols = slice.tables(t)
        priceish = raw"(?i)expensive|cheap|costliest".r.findFirstIn(m.group(1) + m.group(2)).isDefined
        c <- (measureColumn(m.group(3), cols) orElse
          (if (priceish) cols.find(c => c.toLowerCase.contains("price") ||
            c.toLowerCase.contains("cost")) else None)).toSeq
      } yield Candidate(
        s"SELECT $f1($c) - $f2($c) AS agg_value FROM $t",
        0.9, "template_agg_diff"))
      }
    }

  // ------------------------------------------------------ cohort ratio

  private[gen] val ratioOfRe =
    raw"(?i)\bratio\s+of\s+([a-z]+)\s+to\s+([a-z]+)\s+([a-z_][a-z0-9_]*)\b".r

  /** "RATIO OF male TO female students" → SUM(CASE a)/SUM(CASE b) on
    * the one column whose mined domain codes both cohorts. Single-char
    * coded domains (gender M/F) match the words' INITIALS — gated: the
    * domain must be all 1-char values and both initials must be
    * distinct members, so the idiom cannot fire on open text columns.
    * ROUND(…, 4) per the ratio output convention. */
  def cohortRatioCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    ratioOfRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (wa, wb) = (m.group(1), m.group(2))
      singleGrounding(for {
        t <- strongTables(slice, m.group(3))
        (col, dom) <- values(t).toSeq.sortBy(_._1)
        (va, vb) <- {
          def exact(w: String) = dom.find(_.equalsIgnoreCase(w))
          def initial(w: String) =
            if (dom.nonEmpty && dom.forall(_.length == 1))
              dom.find(_.equalsIgnoreCase(w.take(1))) else None
          (exact(wa) orElse initial(wa), exact(wb) orElse initial(wb)) match {
            case (Some(a), Some(b)) if a != b => Seq((a, b))
            case _ => Nil
          }
        }
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN $col = ${sqlLit(va)} THEN 1 ELSE 0 END) AS DOUBLE) " +
          s"/ SUM(CASE WHEN $col = ${sqlLit(vb)} THEN 1 ELSE 0 END), 4) AS agg_value FROM $t",
        0.9, "template_cohort_ratio"))
    }

  // --------------------------------------- numeric-threshold share

  private[gen] val pctThresholdRe =
    (raw"(?i)\bwhat\s+(?:share|fraction|proportion|percentage|percent)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:are|is|were|was)\s+" +
      raw"(older|younger|higher|lower|larger|smaller|longer|shorter|heavier|lighter|more expensive|cheaper)\s+than\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** "What PERCENTAGE of customers are OLDER THAN 40?" — share of rows
    * over a numeric threshold. The comparative adjective names the
    * measure the reference's schemas spell implicitly (older/younger →
    * the age-ish column; expensive/cheap → price-ish; longer/shorter →
    * distance/length-ish). One partial-aggregated pass. */
  def shareOverThresholdCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    pctThresholdRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val adj = m.group(2).toLowerCase
      val op = if (Set("older", "higher", "larger", "longer", "heavier",
        "more expensive")(adj)) ">" else "<"
      def colFor(cols: Seq[String]): Option[String] = adj match {
        // anchored: a bare substring match pulled in "language"/"percentage"
        case "older" | "younger" => cols.find(c =>
          raw"(?i)^age$$|_age$$|^age_".r.findFirstIn(c.toLowerCase).isDefined)
        case "more expensive" | "cheaper" =>
          cols.find(c => c.toLowerCase.contains("price") || c.toLowerCase.contains("cost"))
        case "longer" | "shorter" =>
          cols.find(c => c.toLowerCase.contains("distance") || c.toLowerCase.contains("length"))
        case "heavier" | "lighter" => cols.find(_.toLowerCase.contains("weight"))
        case _ => None
      }
      singleGrounding(for {
        t <- namedTables(slice, m.group(1))
        c <- colFor(slice.tables(t)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN $c $op ${m.group(3)} THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM $t",
        0.9, "template_share_threshold"))
    }

  // ------------------------------- HAVING COUNT DISTINCT over a bridge

  private[gen] val havingDistinctRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+(?:are\s+|is\s+)?" +
      raw"(?:enrolled\s+in|taking|take|took|attend|have|has|use|used)\s+" +
      raw"(more than|at least|fewer than|at most|exactly)\s+(\d+)\s+" +
      raw"(?:different|distinct|unique)\s+([a-z_][a-z0-9_]*)\b").r

  /** "Which STUDENTS are enrolled in MORE THAN 5 DIFFERENT courses?" —
    * group the FACT by its FK to the entity, HAVING COUNT(DISTINCT
    * fk-to-dim) against the threshold (the distinct sibling of
    * havingCountThreshold — 'different' makes plain row counting
    * wrong when the bridge repeats pairs). */
  def havingDistinctCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    havingDistinctRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(2).toLowerCase match {
        case "more than" => ">"
        case "at least" => ">="
        case "fewer than" => "<"
        case "at most" => "<="
        case _ => "="
      }
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        dim <- strongTables(slice, m.group(4))
        if dim != entity
        eE <- fks.filter(_.toTable == entity)
        eJ <- fks.filter(e => e.fromTable == eE.fromTable && e.toTable == dim)
      } yield Candidate(
        s"SELECT ${eE.fromColumn}, COUNT(DISTINCT ${eJ.fromColumn}) AS agg_value " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT ${eJ.fromColumn}) $op ${m.group(3)} " +
          s"ORDER BY ${eE.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_having_distinct"))
    }

  // ------------------------------- correlated per-group comparison

  private[gen] val vsGroupAvgRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+(?:are|is|cost|costs)?\s*" +
      raw"(more expensive|cheaper|higher|lower|longer|shorter|greater|smaller)\s+than\s+the\s+average\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(?:for|of|in)\s+their\s+([a-z_][a-z0-9_]*)\b").r

  /** "Which FLIGHTS are MORE EXPENSIVE than the average PRICE for their
    * AGENCY?" (Spider's 'cheaper than the average of their category')
    * → join the rows to their group's aggregate and compare. Scale: the
    * group-average frame is |groups| rows (AQE broadcasts it); one
    * corpus pass, no correlated re-scan per row. */
  def vsGroupAvgCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    vsGroupAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("more expensive", "higher", "longer", "greater")(
        m.group(2).toLowerCase)) ">" else "<"
      singleGrounding(for {
        t <- strongTables(slice, m.group(1))
        cols = slice.tables(t)
        priceish = raw"(?i)expensive|cheap".r.findFirstIn(m.group(2)).isDefined
        v <- (measureColumn(m.group(3), cols) orElse
          (if (priceish) cols.find(c => c.toLowerCase.contains("price")) else None)).toSeq
        g <- strongColumn(m.group(4), cols).toSeq
        if g != v
        // identity key, never the measure/group: id-ish, then the
        // crawled "…code" convention, then the first remaining column
        key <- (cols.find(isKeyish) orElse cols.find(_.toLowerCase.endsWith("code")) orElse
          cols.find(c => c != v && c != g)).filter(c => c != v && c != g).toSeq
      } yield Candidate(
        s"SELECT f.$key FROM $t f JOIN " +
          s"(SELECT $g, AVG($v) AS a FROM $t GROUP BY $g) t ON f.$g = t.$g " +
          s"WHERE f.$v $op t.a ORDER BY f.$key LIMIT $DefaultLimit",
        0.9, "template_vs_group_avg"))
    }

  // ------------------------------------ derived-measure period argmax

  private[gen] val monthArgmaxRe =
    (raw"(?i)\bwhich\s+month\s+had\s+the\s+(highest|most|largest|lowest|least|smallest)\s+" +
      raw"(?:total\s+)?([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "Which MONTH had the highest total REVENUE?" — month-bucketed
    * aggregate, tie-aware argmax over the 12-row bucket frame. Revenue/
    * amount derive as qty × price exactly like derivedAmountCandidates
    * when no column stores the measure. */
  def monthArgmaxCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    monthArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (Set("lowest", "least", "smallest")(m.group(1).toLowerCase)) "MIN" else "MAX"
      val noun = m.group(2).trim
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        d <- cols.find(c => raw"(?i)date$$|_date|invoicedate|orderdate".r
          .findFirstIn(c.toLowerCase).isDefined).toSeq
        measure <- (measureColumn(noun, cols).map(c => s"SUM($c)") orElse {
          val derived = raw"(?i)revenue|amount|turnover|sales".r.findFirstIn(noun).isDefined &&
            !cols.exists(c => raw"(?i)amount|revenue".r.findFirstIn(c).isDefined)
          val qty = cols.find(c => Set("qty", "quantity", "units")(c.toLowerCase))
          val price = cols.find(_.toLowerCase.endsWith("price"))
          if (derived) for { q <- qty; p <- price } yield s"SUM($q * $p)" else None
        }).toSeq
      } yield Candidate(
        s"WITH t AS (SELECT MONTH($d) AS month, $measure AS s FROM $t GROUP BY MONTH($d)) " +
          s"SELECT month FROM t WHERE s = (SELECT $fn(s) FROM t) ORDER BY month LIMIT $DefaultLimit",
        0.9, "template_month_argmax"))
    }

  // ----------------------------------------- filtered count argmax

  private[gen] val mostOfValueRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+has\s+the\s+most\s+" +
      raw"([A-Za-z0-9 +'-]+?)[\s?.!]*$$").r

  /** "Which COURSE has the most A GRADES?" — count the FACT rows
    * matching the value, grouped by the FK to the entity, tie-aware
    * argmax. The value grounds like shareOfValue: fact domains or the
    * "<literal> <column-noun>" idiom. */
  def mostOfValueCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    mostOfValueRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val valuePhrase = m.group(2).trim
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        e <- fks.filter(e => e.toTable == entity)
        fact = e.fromTable
        fCols = slice.tables.getOrElse(fact, Nil)
        pred <- (domainEqPairs(valuePhrase, fact, values).take(1).map {
          case (c, v) => s"$c = $v"
        } ++ {
          val words = valuePhrase.split("\\s+").toSeq
          if (words.size < 2) Nil
          else strongColumn(words.last, fCols).map { c =>
            s"$c = ${sqlLit(words.init.mkString(" "))}"
          }.toSeq
        }).take(1)
      } yield Candidate(
        s"WITH t AS (SELECT ${e.fromColumn}, COUNT(*) AS n FROM $fact " +
          s"WHERE $pred GROUP BY ${e.fromColumn}) " +
          s"SELECT ${e.fromColumn} FROM t WHERE n = (SELECT MAX(n) FROM t) " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_most_of_value"))
    }

  // -------------------------------------- nth-ranked group aggregate

  private[gen] val nthGroupAggRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+has\s+the\s+" +
      raw"(second|third|fourth|2nd|3rd|4th)\s+(highest|largest|greatest|lowest|smallest)\s+" +
      raw"(average|avg|mean|total|sum|maximum|max|minimum|min)?\s*([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "Which AGENCY has the SECOND HIGHEST AVERAGE flight price?" —
    * rank the |groups|-row aggregate frame, take the nth (ORDER BY +
    * OFFSET over the tiny frame, never the corpus). */
  def nthGroupAggCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    nthGroupAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val off = m.group(2).toLowerCase match {
        case "second" | "2nd" => 1
        case "third" | "3rd" => 2
        case _ => 3
      }
      val dir = if (Set("lowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val fn = Option(m.group(4)).map(aggFn).getOrElse("AVG")
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g <- strongColumn(m.group(1), cols).toSeq
        v <- measureColumn(m.group(5), cols).toSeq
        if g != v
      } yield Candidate(
        s"SELECT $g FROM (SELECT $g, $fn($v) AS a FROM $t GROUP BY $g) t " +
          s"ORDER BY a $dir LIMIT 1 OFFSET $off",
        0.9, "template_nth_group_agg"))
    }

  // ----------------------------------- count argmax with display name

  private[gen] val nameOfMostRe =
    (raw"(?i)\b(?:what\s+is\s+the\s+|the\s+)?name\s+of\s+the\s+([a-z_][a-z0-9_]*)\s+" +
      raw"who\s+(?:placed|made|had|took|bought)\s+the\s+most\s+([a-z_][a-z0-9_]*)\b").r

  /** "The NAME of the customer who placed the MOST ORDERS" — count the
    * fact per FK, join the tied maxima back to the entity for its
    * display column (tie-aware: the fixture gives every customer the
    * same order count, so a LIMIT-1 answer is wrong by construction). */
  def nameOfMostCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nameOfMostRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        fact <- strongTables(slice, m.group(2))
        e <- fks.filter(e => e.fromTable == fact && e.toTable == entity)
        name <- nameishColumn(slice.tables(entity)).toSeq
      } yield Candidate(
        s"WITH t AS (SELECT ${e.fromColumn} AS k, COUNT(*) AS n FROM $fact " +
          s"GROUP BY ${e.fromColumn}) " +
          s"SELECT d.$name FROM $entity d JOIN t ON t.k = d.${e.toColumn} " +
          s"WHERE t.n = (SELECT MAX(n) FROM t) ORDER BY d.$name LIMIT $DefaultLimit",
        0.9, "template_name_of_most"))
    }

  // ------------------------------------------- per-group argmax window

  private[gen] val perGroupArgmaxRe =
    (raw"(?i)^\s*for\s+each\s+([a-z_][a-z0-9_ ]*?)\s*,\s*which\s+([a-z_][a-z0-9_]*)\s+" +
      raw"has\s+the\s+(highest|largest|greatest|lowest|smallest)\s+" +
      raw"(average|avg|mean|total|sum|maximum|max|minimum|min)?\s*([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "FOR EACH term, WHICH course has the HIGHEST AVERAGE score?"
    * (GeoQuery's 'largest city in each state') — aggregate per
    * (group, entity), then RANK inside each group and keep rank 1
    * (tie-aware). The window runs over the aggregate frame
    * (|groups × entities| rows), never the corpus. */
  def perGroupArgmaxCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    perGroupArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("lowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val fn = Option(m.group(4)).map(aggFn).getOrElse("AVG")
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g <- strongColumn(m.group(1).trim, cols).toSeq
        ent <- strongColumn(m.group(2), cols).toSeq
        if ent != g
        v <- measureColumn(m.group(5), cols).toSeq
        if v != g && v != ent
      } yield Candidate(
        s"SELECT $g, $ent FROM (SELECT $g, $ent, " +
          s"RANK() OVER (PARTITION BY $g ORDER BY v $dir) AS rk FROM " +
          s"(SELECT $g, $ent, $fn($v) AS v FROM $t GROUP BY $g, $ent) a) r " +
          s"WHERE rk = 1 ORDER BY $g, $ent LIMIT $DefaultLimit",
        0.9, "template_per_group_argmax"))
    }

  // ------------------------------------------ two-dimension grouping

  private[gen] val twoDimGroupRe =
    (raw"(?i)\b(?:per|by|in\s+each|for\s+each)\s+([a-z_][a-z0-9_ ]*?)\s+and\s+" +
      raw"([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "How many flights PER AGENCY AND FLIGHT TYPE?" — COUNT (or an
    * explicit aggregate) grouped by TWO columns. Both group nouns must
    * ground on the same table; measure defaults to COUNT(*) under a
    * how-many/count reading. */
  def twoDimGroupCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] = {
    if (raw"(?i)\bhow\s+many\b|\bcount\b|\bnumber\s+of\b".r.findFirstIn(question).isEmpty)
      return Nil
    twoDimGroupRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g1 <- (strongColumn(m.group(1).trim, cols) orElse
          measureColumn(m.group(1).trim, cols)).toSeq
        g2 <- (strongColumn(m.group(2).trim, cols) orElse
          measureColumn(m.group(2).trim, cols)).toSeq
        if g1 != g2
      } yield Candidate(
        s"SELECT $g1, $g2, COUNT(*) AS agg_value FROM $t GROUP BY $g1, $g2 " +
          s"ORDER BY $g1, $g2 LIMIT $DefaultLimit",
        0.9, "template_two_dim_group"))
    }
  }

  // ------------------------------------ directional per-group extreme

  private[gen] val directionalExtremeRe =
    (raw"(?i)\b(longest|highest|largest|greatest|maximum|shortest|lowest|smallest|minimum)\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(from|to)\s+each\s+([a-z_][a-z0-9_]*)\b").r

  /** "The LONGEST flight distance FROM EACH city" — MAX(measure)
    * grouped by the DIRECTION-resolved column: the reference's own
    * schema hint spells from/to city as fcity/tcity (nl2sql.py:75), so
    * 'from' picks the f-prefixed group column and 'to' the t-prefixed
    * one when the bare noun ties both. */
  def directionalExtremeCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    directionalExtremeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (Set("shortest", "lowest", "smallest", "minimum")(
        m.group(1).toLowerCase)) "MIN" else "MAX"
      val prefix = if (m.group(3).equalsIgnoreCase("from")) "f" else "t"
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        v <- measureColumn(m.group(2), cols).toSeq
        g <- {
          val noun = m.group(4).toLowerCase
          val sing = if (noun.endsWith("s")) noun.dropRight(1) else noun
          val tied = cols.filter(_.toLowerCase.endsWith(sing))
          val byPrefix = tied.find(_.toLowerCase.startsWith(prefix))
          // an untied noun needs no direction; a tie UNRESOLVED by the
          // prefix stays silent rather than guessing
          (byPrefix orElse (if (tied.size <= 1) strongColumn(m.group(4), cols) else None)).toSeq
        }
        if g != v
      } yield Candidate(
        s"SELECT $g, $fn($v) AS agg_value FROM $t GROUP BY $g " +
          s"ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_directional_extreme"))
    }
}
