package graft.gen

import graft.core.{FkEdge, SchemaSlice}
import Templates.{Candidate, DefaultLimit}

/**
 * Round-17 fourth-wave shapes: the NESTED-composition families of eval
 * wave 4 (COVERAGE.md "External evaluation — round 17") — superlatives
 * OVER a derived or ratio measure, grouped aggregate arithmetic,
 * correlated counts against the row's own group, shares of GROUPS
 * (two aggregation levels), temporal/derived multi-hop filters, nested
 * grouping with an inner HAVING, directional set differences, and
 * two-cohort aggregate pairs. Same bars as Shapes5/6: every slot must
 * ground strongly (singleGrounding), value slots resolve through mined
 * domains or documented schema idioms, and nothing fabricates a join
 * the FK graph does not carry.
 *
 * Scale notes: all emissions are one or two partial-aggregated passes;
 * every argmax is a tie-aware scalar-subquery comparison over the
 * groups frame (1-row broadcast); the correlated-count and share-of-
 * groups shapes join rows to a |groups|-row aggregate frame (AQE
 * broadcasts it); the set difference is one EXCEPT (hash aggregate +
 * anti join), never a driver-side collect.
 */
private[gen] trait TemplatesShapes7 { this: Templates.type =>

  // ----------------------------------------------- argmax over a ratio

  private[gen] val shareArgmaxRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+has\s+the\s+(highest|largest|lowest|smallest)\s+" +
      raw"(?:share|fraction|proportion|percentage)\s+of\s+([A-Za-z0-9 +'-]+?)[\s?.!]*$$").r

  /** "Which COURSE has the highest SHARE OF A GRADES?" — the per-group
    * ratio first (shareOfValue's CASE form), then a tie-aware argmax
    * over the |groups|-row ratio frame. */
  def shareArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    shareArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (Set("lowest", "smallest")(m.group(2).toLowerCase)) "MIN" else "MAX"
      val valuePhrase = m.group(3).trim
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        e <- fks.filter(_.toTable == entity)
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
        s"WITH t AS (SELECT ${e.fromColumn}, " +
          s"CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS r " +
          s"FROM $fact GROUP BY ${e.fromColumn}) " +
          s"SELECT ${e.fromColumn} FROM t WHERE r = (SELECT $fn(r) FROM t) " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        // 0.92: "highest SHARE OF …" must outrank the generic tie-argmax,
        // which reads the same words as a plain column superlative
        0.92, "template_share_argmax"))
    }

  // --------------------------------- superlative over a derived measure

  private[gen] val derivedRowArgmaxRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+had\s+the\s+(highest|largest|greatest|lowest|smallest)\s+" +
      raw"(?:total\s+)?(value|amount|revenue)\b").r

  /** "Which SALE had the highest total VALUE?" — tie-aware row argmax
    * where the measure is DERIVED (qty × price: no column stores it,
    * same rule as derivedAmountCandidates). Projects the row's identity
    * key only — the measure is implied by the question. */
  def derivedRowArgmaxCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    derivedRowArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = if (Set("lowest", "smallest")(m.group(2).toLowerCase)) "MIN" else "MAX"
      singleGrounding(for {
        t <- strongTables(slice, m.group(1))
        cols = slice.tables(t)
        if !cols.exists(c => raw"(?i)amount|revenue|value".r.findFirstIn(c).isDefined)
        qty <- cols.find(c => Set("qty", "quantity", "units")(c.toLowerCase)).toSeq
        price <- cols.find(_.toLowerCase.endsWith("price")).toSeq
        key = identityRowKey(cols)
        if key != qty && key != price
      } yield Candidate(
        s"SELECT $key FROM $t WHERE $qty * $price = " +
          s"(SELECT $fn($qty * $price) FROM $t) ORDER BY $key LIMIT $DefaultLimit",
        0.9, "template_derived_row_argmax"))
    }

  /** Row identity key: id-ish, the crawled "…code" idiom, then the
    * crawled "…no" idiom (invoiceno), then the first column. */
  private[gen] def identityRowKey(cols: Seq[String]): String =
    cols.find(isKeyish).orElse(cols.find(_.toLowerCase.endsWith("code")))
      .orElse(cols.find(_.toLowerCase.endsWith("no")))
      .getOrElse(cols.head)

  // ------------------------------------- two-cohort aggregate pair

  private[gen] val twoCohortAvgRe =
    (raw"(?i)\b(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_ ]*?)\s+" +
      raw"(to|from|in|at)\s+([A-Z][\w]*)\s+and\s+(?:to|from|in|at)?\s*([A-Z][\w]*)[\s?.!]*$$").r

  /** "The AVERAGE flight price TO PARIS and TO ROME" — one pass, two
    * conditional aggregates (AVG over a CASE keeps only the cohort's
    * rows; else-NULL rows don't count). Both values must live in ONE
    * column's mined domain; a from/to direction word resolves the
    * crawled f-/t-prefix tie (fcity vs tcity both hold city names). */
  def twoCohortAvgCandidates(slice: SchemaSlice, question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    twoCohortAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = aggFn(m.group(1))
      val (va, vb) = (m.group(4), m.group(5))
      val prefix = m.group(3).toLowerCase match {
        case "to" => Some("t"); case "from" => Some("f"); case _ => None
      }
      singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        v <- measureColumn(m.group(2), cols).toSeq
        colDoms = values(t).filter { case (_, dom) =>
          dom.exists(_.equalsIgnoreCase(va)) && dom.exists(_.equalsIgnoreCase(vb))
        }.keys.toSeq.sorted
        c <- (colDoms match {
          case Seq(one) => Some(one)
          case many if many.size > 1 && prefix.isDefined =>
            many.find(_.toLowerCase.startsWith(prefix.get))
          case _ => None
        }).toSeq
        if c != v
        da = values(t)(c).find(_.equalsIgnoreCase(va)).get
        db = values(t)(c).find(_.equalsIgnoreCase(vb)).get
      } yield Candidate(
        s"SELECT $fn(CASE WHEN $c = ${sqlLit(da)} THEN $v END) AS agg_value, " +
          s"$fn(CASE WHEN $c = ${sqlLit(db)} THEN $v END) AS agg_value2 FROM $t",
        0.9, "template_two_cohort_agg"))
    }

  // ----------------------------------------- grouped aggregate range

  // bare most/least admitted: "between its MOST and LEAST expensive
  // flight" is elliptical — the shared adjective sits after the pair
  private[gen] val groupedDiffRe =
    (raw"(?i)^\s*for\s+each\s+([a-z_][a-z0-9_ ]*?)\s*,.*?\b([a-z_][a-z0-9_]*)\s+difference\s+between\s+" +
      raw"(?:its|their)\s+($maxWords|$minWords|most|least|highest|lowest)\s+and\s+" +
      raw"(?:its|their\s+)?($maxWords|$minWords|most|least|highest|lowest)" +
      raw"(?:\s+(?:expensive|costly|valuable))?\s+([a-z_][a-z0-9_ ]*?)[\s?.!]*$$").r

  /** "FOR EACH agency, the PRICE DIFFERENCE between its most and least
    * expensive FLIGHT" — per-group MAX − MIN in one grouped pass. The
    * measure grounds from the pre-"difference" noun combined with the
    * trailing entity noun ("flight" + "price" → fprice initialism). */
  def groupedDiffCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    groupedDiffRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def fn(w: String) = {
        val n = w.toLowerCase.replaceAll("\\s+", " ")
        if (n.matches(minWords) || Set("least", "lowest")(n)) "MIN" else "MAX"
      }
      val (f1, f2) = (fn(m.group(3)), fn(m.group(4)))
      if (f1 == f2) Nil
      else singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        g <- strongColumn(m.group(1).trim, cols).toSeq
        v <- (measureColumn(m.group(2).trim, cols) orElse
          measureColumn(m.group(5).trim + " " + m.group(2).trim, cols)).toSeq
        if v != g
      } yield Candidate(
        s"SELECT $g, $f1($v) - $f2($v) AS agg_value FROM $t GROUP BY $g " +
          s"ORDER BY $g LIMIT $DefaultLimit",
        0.9, "template_grouped_diff"))
    }

  // ------------------------------ correlated count vs own group mean

  private[gen] val countVsOwnGroupRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+([a-z]+)\s+" +
      raw"(above|over|below|under)\s+their\s+([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\b").r

  /** "HOW MANY enrollments SCORED ABOVE THEIR COURSE AVERAGE?" — count
    * the fact rows beating their own group's mean: rows joined to the
    * |groups|-row average frame (broadcast), one corpus pass. The
    * measure grounds from the VERB's stem ("scored" → the score-ish
    * column); the group from the possessive noun's FK/segment link. */
  def countVsOwnGroupCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    countVsOwnGroupRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(3).toLowerCase)) ">" else "<"
      val verbStem = m.group(2).toLowerCase.stripSuffix("ed").stripSuffix("d")
      singleGrounding(for {
        t <- strongTables(slice, m.group(1))
        cols = slice.tables(t)
        v <- (strongColumn(verbStem, cols) orElse strongColumn(m.group(2), cols)).toSeq
        g <- strongColumn(m.group(4), cols).toSeq
        if g != v
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM $t e JOIN " +
          s"(SELECT $g, AVG($v) AS a FROM $t GROUP BY $g) t ON e.$g = t.$g " +
          s"WHERE e.$v $op t.a",
        0.9, "template_count_vs_own_group"))
    }

  // --------------------------------------- share of groups over a bar

  private[gen] val shareOfGroupsRe =
    (raw"(?i)\bwhat\s+(?:share|fraction|proportion|percentage|percent)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+have\s+(?:an?\s+)?(average|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_ ]*?)\s+(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** "What FRACTION OF COURSES have an AVERAGE SCORE ABOVE 75?" — two
    * aggregation levels: the per-group aggregate first, then the share
    * of groups passing the bar (4dp per the ratio convention). Groups
    * are the FK values present in the fact — the benchmark reading
    * (groups with no rows have no average to compare). */
  def shareOfGroupsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    shareOfGroupsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val fn = aggFn(m.group(2))
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      singleGrounding(for {
        entity <- strongTables(slice, m.group(1))
        e <- fks.filter(_.toTable == entity)
        fact = e.fromTable
        v <- measureColumn(m.group(3).trim, slice.tables.getOrElse(fact, Nil)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN a $op ${m.group(5)} THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT ${e.fromColumn}, $fn($v) AS a FROM $fact GROUP BY ${e.fromColumn}) t",
        0.9, "template_share_of_groups"))
    }

  // ----------------------------- multi-hop measure with an entity bar

  private[gen] val totalByFilteredEntityRe =
    (raw"(?i)\b(?:total|sum\s+of)\s+([a-z_][a-z0-9_]*)\b.*?\bby\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(older|younger|higher|lower|larger|smaller)\s+than\s+(\d+(?:\.\d+)?)\b").r

  /** "TOTAL QUANTITY of items ordered BY CUSTOMERS OLDER THAN 40" —
    * the b9 two-hop chain, UNGROUPED, with a comparative filter on the
    * entity dimension (older/younger → its age-ish column). One scalar
    * result; the dim side filters before the joins. */
  def totalByFilteredEntityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    totalByFilteredEntityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val adj = m.group(3).toLowerCase
      val op = if (Set("older", "higher", "larger")(adj)) ">" else "<"
      singleGrounding(for {
        entity <- strongTables(slice, m.group(2))
        eCols = slice.tables.getOrElse(entity, Nil)
        fcol <- (adj match {
          case "older" | "younger" => eCols.find(c =>
            raw"(?i)^age$$|_age$$|^age_".r.findFirstIn(c.toLowerCase).isDefined)
          case _ => None
        }).toSeq
        e1 <- fks.filter(_.toTable == entity)
        mid = e1.fromTable
        e2 <- fks.filter(e => e.toTable == mid && e.fromTable != entity)
        v <- (strongColumn(m.group(1), slice.tables.getOrElse(e2.fromTable, Nil)) orElse
          skeletonColumn(m.group(1), slice.tables.getOrElse(e2.fromTable, Nil))).toSeq
      } yield Candidate(
        s"SELECT SUM(l.$v) AS agg_value FROM ${e2.fromTable} l " +
          s"JOIN $mid m ON l.${e2.fromColumn} = m.${e2.toColumn} " +
          s"JOIN $entity d ON m.${e1.fromColumn} = d.${e1.toColumn} " +
          s"WHERE d.$fcol $op ${m.group(4)}",
        0.9, "template_total_by_filtered_entity"))
    }

  // ----------------------------------- nested grouping, inner HAVING

  private[gen] val nestedGroupHavingRe =
    (raw"(?i)^\s*for\s+each\s+([a-z_][a-z0-9_ ]*?)\s*,\s*how\s+many\s+([a-z_][a-z0-9_]*)\s+had\s+" +
      raw"(at least|more than|at most|fewer than)\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** "FOR EACH year, HOW MANY courses had AT LEAST 20 enrollments?" —
    * inner (period, entity) grouping with the HAVING bar, outer count
    * per period. Two chained hash aggregates, no join. */
  def nestedGroupHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nestedGroupHavingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(3).toLowerCase match {
        case "at least" => ">="
        case "more than" => ">"
        case "at most" => "<="
        case _ => "<"
      }
      singleGrounding(for {
        fact <- strongTables(slice, m.group(5))
        fCols = slice.tables.getOrElse(fact, Nil)
        p <- strongColumn(m.group(1).trim, fCols).toSeq
        dim <- strongTables(slice, m.group(2))
        e <- fks.filter(e => e.fromTable == fact && e.toTable == dim)
        if e.fromColumn != p
      } yield Candidate(
        s"SELECT $p, COUNT(*) AS agg_value FROM " +
          s"(SELECT $p, ${e.fromColumn} FROM $fact GROUP BY $p, ${e.fromColumn} " +
          s"HAVING COUNT(*) $op ${m.group(4)}) t GROUP BY $p ORDER BY $p LIMIT $DefaultLimit",
        0.9, "template_nested_group_having"))
    }

  // ------------------------------------ directional set difference

  private[gen] val dirSetDiffRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_ ]*?)\s+appear\s+as\s+" +
      raw"(destination|origin|arrival|departure)s?\s+but\s+never\s+as\s+" +
      raw"(destination|origin|arrival|departure)s?\b").r

  /** "HOW MANY cities appear as DESTINATIONS but never as ORIGINS?" —
    * COUNT over an EXCEPT of the two direction-resolved columns
    * (destination/arrival → t-prefix, origin/departure → f-prefix;
    * the reference's fcity/tcity idiom). Hash-aggregate + anti join,
    * no driver collect. */
  def dirSetDiffCandidates(slice: SchemaSlice,
      question: String): Seq[Candidate] =
    dirSetDiffRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def prefix(w: String) =
        if (Set("destination", "arrival")(w.toLowerCase)) "t" else "f"
      val (pa, pb) = (prefix(m.group(2)), prefix(m.group(3)))
      if (pa == pb) Nil
      else singleGrounding(for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        noun = {
          val n = m.group(1).trim.split("\\s+").last.toLowerCase
          if (n.endsWith("ies")) n.dropRight(3) + "y"
          else if (n.endsWith("s")) n.dropRight(1) else n
        }
        tied = cols.filter(_.toLowerCase.endsWith(noun))
        ca <- tied.find(_.toLowerCase.startsWith(pa)).toSeq
        cb <- tied.find(_.toLowerCase.startsWith(pb)).toSeq
        if ca != cb
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM " +
          s"(SELECT $ca FROM $t EXCEPT SELECT $cb FROM $t) t",
        0.9, "template_dir_set_diff"))
    }
}
