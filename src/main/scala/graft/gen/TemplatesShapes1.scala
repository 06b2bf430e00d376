package graft.gen

import graft.core.{FkEdge, SchemaSlice}

/**
 * Eval-ladder question shapes, waves 1-18: bridge joins, nested
 * HAVING, agg-of-agg, argmax families, shares, trends, divisions.
 *
 * One slice of the deterministic template library (split from the
 * single Templates object purely for source organization — behavior
 * and the candidate dispatch order live in [[Templates.candidates]]).
 * Shared helpers (column linking, literals, FK path resolution) come
 * through the self-type.
 */
private[gen] trait TemplatesShapes1 { this: Templates.type =>
  // "students who scored above 90 in Biology" — entity dimension + fact
  // numeric filter + second dimension categorical value, joined across
  // the two FK edges of the bridging fact table
  private[gen] val bridgeRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+([a-z]+)\s+" +
      raw"(above|over|below|under|more than|greater than|less than)\s+(\d+(?:\.\d+)?)\s+" +
      raw"in\s+([A-Z][\w+-]*(?:\s+[A-Z][\w+-]*)*)").r

  /** Three-table bridge: "students who scored above 90 in Biology" →
    * DISTINCT entity names whose fact rows pass a numeric filter AND
    * reference the named second dimension. All three links must resolve
    * strongly (entity noun → table, verb stem → fact column, a name-ish
    * column on each dimension) or no candidate is produced; the
    * CAPITALIZED trailing value (checked case-sensitively — the (?i)
    * regex alone would let "in total" fabricate a filter) fills the
    * dimension's display-column equality. The entity table may be
    * referenced by several fact tables, so every FK edge into it is
    * tried and the first edge whose fact resolves the verb column wins.
    * Catalyst plans the FK chain as two broadcast hash joins at
    * dimension size. */
  def bridgeCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    bridgeRe.findFirstMatchIn(question).toSeq
      .flatMap { m =>
        // the (?i) regex matches lowercase tails too — keep only the run
        // of genuinely capitalized words ("Biology this semester" →
        // "Biology"; "total" → nothing, no fabricated filter)
        val value = m.group(5).split("\\s+")
          .takeWhile(_.matches(raw"[A-Z][\w+-]*")).mkString(" ")
        if (value.isEmpty) Nil
        else bridgeResolved(slice, fks, m, value)
      }

  private[gen] def bridgeResolved(slice: SchemaSlice, fks: Seq[FkEdge],
      m: scala.util.matching.Regex.Match, value: String): Seq[Candidate] = {
        val op = if (Set("above", "over", "more than", "greater than")(m.group(3).toLowerCase)) ">" else "<"
        (for {
          dim1 <- uniqueTable(slice, m.group(1)).toSeq
          e1 <- edgesInto(slice, fks, dim1)
          fact = e1.fromTable
          numCol <- strongColumn(m.group(2), slice.tables(fact)).toSeq
          e2 <- fks.filter(e => e.fromTable == fact && e.toTable != dim1 &&
            slice.tables.contains(e.toTable)).take(1)
          valCol <- nameishColumn(slice.tables(e2.toTable)).toSeq
          proj <- nameishColumn(slice.tables(dim1)).toSeq
        } yield Candidate(
          s"SELECT DISTINCT d.$proj FROM $fact f " +
            s"JOIN $dim1 d ON f.${e1.fromColumn} = d.${e1.toColumn} " +
            s"JOIN ${e2.toTable} j ON f.${e2.fromColumn} = j.${e2.toColumn} " +
            s"WHERE j.$valCol = ${sqlLit(value)} AND f.$numCol $op ${m.group(4)} " +
            s"ORDER BY d.$proj LIMIT $DefaultLimit",
          0.9, "template_join3")).take(1)
  }

  // "number of students who take more than 5 courses" — a COUNT over the
  // groups that pass a per-group distinct-count threshold
  private[gen] val countWhoMoreRe =
    (raw"(?i)\b(?:number|count)\s+of\s+([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+[a-z]+\s+" +
      raw"(more|fewer|less)\s+than\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Nested HAVING count: "number of students who take more than 5
    * courses" → COUNT of fact-side groups whose DISTINCT second-entity
    * count passes the threshold. Both nouns must name sliced tables
    * bridged by one fact's FK edges. The inner aggregate shuffles once
    * on the group key with partial aggregation; the outer COUNT is a
    * scalar over group cardinality. */
  def nestedHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    countWhoMoreRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).equalsIgnoreCase("more")) ">" else "<"
      for {
        dim1 <- uniqueTable(slice, m.group(1)).toSeq
        dim2 <- uniqueTable(slice, m.group(4)).toSeq
        if dim1 != dim2
        (e1, e2) <- bridges(fks, dim1, dim2).take(1)
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT f.${e1.fromColumn} FROM ${e1.fromTable} f " +
          s"GROUP BY f.${e1.fromColumn} HAVING COUNT(DISTINCT f.${e2.fromColumn}) $op ${m.group(3)}) t",
        0.9, "template_nested_having")
    }

  // "highest average score among courses" — the extreme of a grouped
  // aggregate (max-of-avg), not an aggregate of rows
  private[gen] val aggOfAggRe =
    (raw"(?i)\b(highest|largest|biggest|greatest|maximum|max|lowest|smallest|minimum|min)\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:among|across|over|per|by)\s+([a-z_][a-z0-9_]*)\b").r

  /** Aggregate-of-aggregate: "highest average score among courses" →
    * MAX over the per-group AVG. The group noun resolves to a sliced
    * table reached by an FK edge from the fact (group key = the fact's
    * FK column) or directly to a fact column. Plans as one grouped
    * aggregate plus a scalar aggregate over group cardinality — no
    * window, no second shuffle of the base rows. */
  def aggOfAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    aggOfAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val outer = if (Set("lowest", "smallest", "minimum", "min")(m.group(1).toLowerCase)) "MIN" else "MAX"
      val inner = sumOrAvg(m.group(2))
      slice.tables.toSeq.flatMap { case (t, cols) =>
        for {
          aggCol <- strongColumn(m.group(3), cols).toSeq
          groupCol <- uniqueTable(slice, m.group(4))
            .flatMap(g => fks.find(e => e.fromTable == t && e.toTable == g).map(_.fromColumn))
            .orElse(strongColumn(m.group(4), cols.filterNot(_ == aggCol))).toSeq
        } yield Candidate(
          s"SELECT $outer(a) AS agg_value FROM " +
            s"(SELECT $inner($aggCol) AS a FROM $t GROUP BY $groupCol) t",
          0.9, "template_agg_of_agg")
      }
    }

  // "for each dept the course with the highest average score" — a
  // group-wise argmax: rank second-entity rows within each group by a
  // grouped aggregate, keep rank 1
  private[gen] val groupwiseArgmaxRe =
    (raw"(?i)\bfor each\s+([a-z_][a-z0-9_]*)\s+the\s+([a-z_][a-z0-9_]*)\s+with the\s+" +
      raw"(highest|largest|biggest|greatest|maximum|max|lowest|smallest|minimum|min)\s+" +
      raw"(?:(average|avg|mean|total|sum)\s+)?([a-z_][a-z0-9_]*)\b").r

  /** Group-wise argmax (ref `app/models/inference.py:151-213` serves this
    * shape through LLM candidates): "for each G the E with the highest
    * [avg] V" → rank E within G by the grouped aggregate of V, keep
    * rn = 1 (ties to the lower display name, stated in the ORDER BY so
    * the result is deterministic). The group word must resolve to a
    * column ON the entity's dimension table and V to a column on a fact
    * referencing it. Plan: one grouped aggregate (partial+final), then a
    * window over the GROUP ROWS ONLY — |groups| rows, not the fact
    * table — which the BoundedRankPrefilter rule further caps. */
  def groupwiseArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupwiseArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val lowest = Set("lowest", "smallest", "minimum", "min")(m.group(3).toLowerCase)
      val dir = if (lowest) "ASC" else "DESC"
      val inner = Option(m.group(4)).map(_.toLowerCase) match {
        case Some("total") | Some("sum") => "SUM"
        case Some(_) => "AVG"
        // bare "the course with the highest/lowest score": the group's
        // extreme value in the SAME direction as the ranking — MAX+ASC
        // would rank "lowest" groups by their maximum
        case None => if (lowest) "MIN" else "MAX"
      }
      (for {
        dim <- uniqueTable(slice, m.group(2)).toSeq
        groupCol <- strongColumn(m.group(1), slice.tables(dim)).toSeq
        nameCol <- nameishColumn(slice.tables(dim)).toSeq
        e <- edgesInto(slice, fks, dim)
        aggCol <- strongColumn(m.group(5), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $groupCol, $nameCol FROM (SELECT d.$groupCol, d.$nameCol, " +
          s"ROW_NUMBER() OVER (PARTITION BY d.$groupCol ORDER BY $inner(f.$aggCol) $dir, d.$nameCol) AS rn " +
          s"FROM ${e.fromTable} f JOIN $dim d ON f.${e.fromColumn} = d.${e.toColumn} " +
          s"GROUP BY d.$groupCol, d.$nameCol) t WHERE rn = 1 " +
          s"ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_groupwise_argmax")).take(1)
    }

  // "students whose average score is above the overall average" — a
  // per-group aggregate compared against the ungrouped (scalar) one
  private[gen] val havingScalarRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+is\s+" +
      raw"(above|over|more than|greater than|below|under|less than)\s+the\s+overall\s+" +
      raw"(average|avg|mean|total|sum)\b").r

  /** HAVING vs scalar subquery: "Es whose avg V is above the overall
    * avg" → group the fact by the entity's display column, HAVING the
    * group aggregate compared to the ungrouped scalar. The scalar
    * subquery is one extra scan reduced to a single row and broadcast
    * into the HAVING filter; the grouped side shuffles once with
    * partial aggregation. */
  def havingScalarCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    havingScalarRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      // group side and scalar side carry their OWN aggregate words:
      // "whose TOTAL score is above the overall AVERAGE" compares each
      // group's SUM to the ungrouped AVG — collapsing both onto the
      // group-side word would compare one group's total against the
      // whole table's total (vacuously false for positive values)
      val groupAgg = sumOrAvg(m.group(2))
      val scalarAgg = sumOrAvg(m.group(5))
      val op = if (Set("above", "over", "more than", "greater than")(m.group(4).toLowerCase)) ">" else "<"
      (for {
        dim <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dim)).toSeq
        e <- edgesInto(slice, fks, dim)
        aggCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol AS $nameCol FROM ${e.fromTable} f " +
          s"JOIN $dim d ON f.${e.fromColumn} = d.${e.toColumn} " +
          s"GROUP BY d.$nameCol HAVING $groupAgg(f.$aggCol) $op (SELECT $scalarAgg($aggCol) FROM ${e.fromTable}) " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_having_scalar")).take(1)
    }

  // "percentage of scores with grade A" — a conditional share of rows
  private[gen] val ratioAggRe =
    (raw"(?i)\b(percentage|percent|share|fraction)\s+of\s+([a-z_][a-z0-9_]*)\s+with\s+" +
      raw"([a-z_][a-z0-9_]*)\s+([A-Za-z0-9][\w+-]*)").r

  /** Ratio aggregate: "percentage of T with C = v" → 100·SUM(CASE WHEN
    * C = v)/COUNT(*) in ONE pass over the table (a conditional sum, not
    * two scans joined). The value token must be capitalized or numeric
    * (checked case-sensitively, like bridgeCandidates) so "fraction of
    * scores with problems" fabricates nothing. */
  def ratioAggCandidates(slice: SchemaSlice, question: String): Seq[Candidate] =
    ratioAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val value = m.group(4)
      if (!value.matches(raw"[A-Z][\w+-]*|\d+(?:\.\d+)?")) Nil
      else {
        val scale = if (m.group(1).toLowerCase.startsWith("percent")) "100.0" else "1.0"
        for {
          t <- uniqueTable(slice, m.group(2)).toSeq
          c <- strongColumn(m.group(3), slice.tables(t)).toSeq
        } yield Candidate(
          s"SELECT ROUND($scale * SUM(CASE WHEN $c = ${sqlLit(value)} THEN 1 ELSE 0 END) / COUNT(*), 2) " +
            s"AS agg_value FROM $t",
          0.9, "template_ratio_agg")
      }
    }

  // "students older than the average age of their grade level" — a
  // row filter against the row's OWN group aggregate
  private[gen] val correlatedFilterRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(older|younger|taller|shorter|higher|lower|bigger|" +
      raw"smaller|greater|larger|longer|heavier|lighter|more|less)\s+than\s+the\s+" +
      raw"(average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+of\s+their\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Correlated per-group filter (ref `app/models/inference.py:151-213`
    * serves this shape through LLM candidates): "Es CMP than the average
    * V of their G" → `V op (SELECT AVG(V) FROM T t2 WHERE t2.G = t.G)`.
    * Catalyst decorrelates the equality-correlated scalar subquery into
    * one grouped aggregate joined back on G — two scans of T, one
    * shuffle on G, never a per-row subquery execution. */
  def correlatedFilterCandidates(slice: SchemaSlice, question: String): Seq[Candidate] =
    correlatedFilterRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("older", "taller", "higher", "bigger", "greater", "larger",
        "longer", "heavier", "more")(m.group(2).toLowerCase)) ">" else "<"
      val groupWord = m.group(5).trim.replaceAll("\\s+", "_")
      for {
        t <- uniqueTable(slice, m.group(1)).toSeq
        aggCol <- strongColumn(m.group(4), slice.tables(t)).toSeq
        groupCol <- strongColumn(groupWord, slice.tables(t).filterNot(_ == aggCol)).toSeq
        nameCol <- nameishColumn(slice.tables(t)).toSeq
      } yield Candidate(
        s"SELECT $nameCol FROM $t s WHERE $aggCol $op " +
          s"(SELECT AVG($aggCol) FROM $t s2 WHERE s2.$groupCol = s.$groupCol) " +
          s"ORDER BY $nameCol LIMIT $DefaultLimit",
        0.9, "template_correlated_filter")
    }

  // "median score per course" / "90th percentile score per course" — an
  // exact distribution statistic per group
  private[gen] val percentileAggRe =
    (raw"(?i)\b(?:(median)|(\d{1,2})(?:st|nd|rd|th)\s+percentile(?:\s+of)?)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:per|by|for\s+each)\s+([a-z_][a-z0-9_]*)\b").r

  /** Median / percentile per group: `MEDIAN(V)` (or `PERCENTILE(V, q)`)
    * grouped by the resolved key. Spark's exact percentile is a single
    * ObjectHashAggregate pass (per-group value buffers), one shuffle on
    * the group key — the same plan family as `Profiler.exactPercentiles`;
    * for quantile-sketch scale (huge groups) `approx_percentile` is the
    * documented relaxation, not needed at the template surface. */
  def percentileAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    percentileAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val aggExpr: String => String =
        if (m.group(1) != null) c => s"MEDIAN($c)"
        else { val q = m.group(2).toInt / 100.0; c => s"PERCENTILE($c, $q)" }
      slice.tables.toSeq.flatMap { case (t, cols) =>
        for {
          aggCol <- strongColumn(m.group(3), cols).toSeq
          groupCol <- uniqueTable(slice, m.group(4))
            .flatMap(g => fks.find(e => e.fromTable == t && e.toTable == g).map(_.fromColumn))
            .orElse(strongColumn(m.group(4), cols.filterNot(_ == aggCol))).toSeq
        } yield Candidate(
          s"SELECT $groupCol, ${aggExpr(aggCol)} AS agg_value FROM $t " +
            s"GROUP BY $groupCol ORDER BY $groupCol LIMIT $DefaultLimit",
          0.9, "template_percentile_agg")
      }.take(1)
    }

  // "the 3 courses with the fewest students" — bottom-N (or top-N) of
  // one entity by its DISTINCT count of another, bridged by a fact
  private[gen] val bottomNRe =
    (raw"(?i)\bthe\s+(\d+)\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(fewest|least|most)\s+([a-z_][a-z0-9_]*)\b").r

  /** Bottom-N by joined count: "the N Es with the fewest Js" → group the
    * bridging fact by E's display column, COUNT(DISTINCT fk-to-J),
    * ascending ORDER BY + LIMIT n (ties to the name so the cut is
    * deterministic). Plans as one partial+final aggregate and a
    * TakeOrderedAndProject — no full sort. NOTE: entities with ZERO
    * joined rows can't appear (no fact row to group); the anti-join
    * template covers the "have no Js" phrasing explicitly. */
  def bottomNCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    bottomNRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).equalsIgnoreCase("most")) "DESC" else "ASC"
      (for {
        dim1 <- uniqueTable(slice, m.group(2)).toSeq
        dim2 <- uniqueTable(slice, m.group(4)).toSeq
        if dim1 != dim2
        (e1, e2) <- bridges(fks, dim1, dim2).take(1)
        nameCol <- nameishColumn(slice.tables(dim1)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol AS $nameCol, COUNT(DISTINCT f.${e2.fromColumn}) AS agg_value " +
          s"FROM ${e1.fromTable} f JOIN $dim1 d ON f.${e1.fromColumn} = d.${e1.toColumn} " +
          s"GROUP BY d.$nameCol ORDER BY agg_value $dir, d.$nameCol LIMIT ${m.group(1)}",
        0.9, "template_bottom_n")).take(1)
    }

  // "average number of courses per student" — the mean over entities of
  // each entity's DISTINCT count of a second entity, both FK-bridged
  // the trailing lookahead leaves "per E in each A" questions to the
  // grouped sibling [[groupedAvgCountPerCandidates]]
  private[gen] val avgCountPerRe =
    (raw"(?i)\b(?:average|avg|mean)\s+(?:number|count)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:per|for\s+each|by)\s+([a-z_][a-z0-9_]*)\b" +
      raw"(?!\s+(?:in|for|by)\s+each\b)").r

  /** Average count per entity: "average number of Js per E" → inner
    * grouped `COUNT(DISTINCT fk-to-J)` per fk-to-E over the bridging
    * fact, outer scalar `AVG` over the group rows (ref
    * `app/models/inference.py:151-213` reaches this shape via LLM
    * candidates). Both counted and grouping keys are FK columns OF the
    * fact, so the plan is two chained hash aggregates — one shuffle on
    * the E key, then a tiny scalar reduce — with no join at all. */
  def avgCountPerCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    avgCountPerRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val bridged = (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimJ != dimE
        (eJ, eE) <- bridges(fks, dimJ, dimE).take(1)
      } yield Candidate(
        s"SELECT AVG(c) AS agg_value FROM " +
          s"(SELECT COUNT(DISTINCT ${eJ.fromColumn}) AS c FROM ${eJ.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t",
        0.9, "template_avg_count_per")).take(1)
      // FACT-count grounding (round-17 eval b28): "average number of
      // ORDERS per CUSTOMER" where the counted noun IS a fact that
      // directly FK-references the entity — mean over entities of
      // their plain row count (no bridge, no distinct). Both slots
      // resolve through the FK edge itself, which also breaks the
      // crawled customer/customers name tie (only one is referenced).
      // ROUND(…, 4) per the engine's ratio output convention.
      lazy val factCount = (for {
        f <- slice.tables.keys.toSeq.sorted
        if graft.link.Fuzzy.nameScore(f, m.group(1)) >= 100
        e <- fks.filter(e => e.fromTable == f &&
          graft.link.Fuzzy.nameScore(e.toTable, m.group(2)) >= 100).take(1)
      } yield Candidate(
        s"SELECT ROUND(AVG(c), 4) AS agg_value FROM " +
          s"(SELECT COUNT(*) AS c FROM $f GROUP BY ${e.fromColumn}) t",
        0.9, "template_avg_count_per")).distinct.take(1)
      if (bridged.nonEmpty) bridged else factCount
    }

  // "students who scored above 90 in at least 3 courses" — the bridge
  // shape with a per-group distinct-count threshold instead of a named
  // second-dimension value (bridgeRe requires a capitalized value, so
  // the two regexes never both fire)
  private[gen] val filteredHavingRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+([a-z]+)\s+" +
      raw"(above|over|below|under|more than|greater than|less than)\s+(\d+(?:\.\d+)?)\s+" +
      raw"in\s+at\s+least\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Filtered HAVING count: "Es who Ved CMP X in at least K Js" → join
    * fact→E, filter rows on the verb-resolved measure, group by E's
    * display name, keep groups with `COUNT(DISTINCT fk-to-J) >= K`.
    * The row filter lands BEFORE the aggregate (WHERE, pushed to the
    * fact scan) and the threshold after (HAVING) — partial+final
    * distinct-count aggregate, one shuffle on the display key. */
  def filteredHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    filteredHavingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over", "more than", "greater than")(m.group(3).toLowerCase)) ">" else "<"
      (for {
        dim1 <- uniqueTable(slice, m.group(1)).toSeq
        dim2 <- uniqueTable(slice, m.group(6)).toSeq
        if dim1 != dim2
        (e1, e2) <- bridges(fks, dim1, dim2).take(1)
        numCol <- strongColumn(m.group(2), slice.tables(e1.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dim1)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol AS $nameCol FROM ${e1.fromTable} f " +
          s"JOIN $dim1 d ON f.${e1.fromColumn} = d.${e1.toColumn} " +
          s"WHERE f.$numCol $op ${m.group(4)} GROUP BY d.$nameCol " +
          s"HAVING COUNT(DISTINCT f.${e2.fromColumn}) >= ${m.group(5)} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_filtered_having")).take(1)
    }

  // "courses where the best score is below 95" — groups kept by a
  // threshold on the group EXTREME (not the count)
  private[gen] val havingExtremeRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+" +
      raw"(best|highest|top|maximum|max|worst|lowest|minimum|min)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+(below|under|above|over|at\s+least|at\s+most)\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** HAVING on a group extreme: "Es where the best V is below X" →
    * group the fact by its fk-to-E, keep groups with `MAX(V) < X`
    * (MIN for worst/lowest). Stays entirely on the fact table — the
    * fk column IS the answer key, so no dimension join; a single
    * partial+final hash aggregate with the HAVING applied post-merge. */
  def havingExtremeCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    havingExtremeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("best", "highest", "top", "maximum", "max")(m.group(2).toLowerCase)) "MAX" else "MIN"
      val op = m.group(4).toLowerCase.replaceAll("\\s+", " ") match {
        case "below" | "under" => "<"
        case "above" | "over"  => ">"
        case "at least"        => ">="
        case _                 => "<="
      }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM ${e.fromTable} GROUP BY ${e.fromColumn} " +
          s"HAVING $agg($numCol) $op ${m.group(5)} " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_having_extreme")).take(1)
    }

  // "students whose average score is at least 10 points above the
  // overall average" — the HAVING-vs-scalar shape with a NUMERIC OFFSET
  // from the global aggregate (havingScalarRe requires the comparator
  // word directly before "the overall", so the two never both fire)
  private[gen] val deviationHavingRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+is\s+" +
      raw"(at\s+least|at\s+most|more\s+than|over)\s+(\d+(?:\.\d+)?)\s+points?\s+" +
      raw"(above|below)\s+the\s+overall\s+(average|avg|mean|total|sum)\b").r

  /** Deviation-from-global HAVING: "Es whose avg V is at least N points
    * above the overall avg" → group the fact by the entity's display
    * column, HAVING the group aggregate vs `(scalar subquery) ± N`.
    * Same plan as the offset-free shape ([[havingScalarCandidates]]):
    * the scalar side reduces to one row, the `+ N` folds into the
    * broadcast HAVING filter, the grouped side shuffles once with
    * partial aggregation. Direction flips the comparator: "at least N
    * above" keeps groups ≥ scalar+N, "at least N below" ≤ scalar−N. */
  def deviationHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    deviationHavingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val groupAgg = sumOrAvg(m.group(2))
      val scalarAgg = sumOrAvg(m.group(7))
      val above = m.group(6).toLowerCase == "above"
      val strict = Set("more than", "over")(m.group(4).toLowerCase.replaceAll("\\s+", " "))
      val op = (above, strict) match {
        case (true, true)   => ">"
        case (true, false)  => ">="
        case (false, true)  => "<"
        case (false, false) => "<="
      }
      val sign = if (above) "+" else "-"
      (for {
        dim <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dim)).toSeq
        e <- edgesInto(slice, fks, dim)
        aggCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol AS $nameCol FROM ${e.fromTable} f " +
          s"JOIN $dim d ON f.${e.fromColumn} = d.${e.toColumn} " +
          s"GROUP BY d.$nameCol " +
          s"HAVING $groupAgg(f.$aggCol) $op (SELECT $scalarAgg($aggCol) FROM ${e.fromTable}) $sign ${m.group(5)} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_deviation_having")).take(1)
    }

  // "the course with the largest gap between the highest and lowest
  // score" — argmax over a per-group RANGE (max - min)
  private[gen] val rangeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(largest|biggest|widest|greatest|smallest|narrowest)\s+" +
      raw"(?:gap|difference|spread|range)\s+between\s+(?:the\s+)?" +
      raw"(?:highest|best|maximum|top)\s+and\s+(?:the\s+)?(?:lowest|worst|minimum)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Per-group range argmax: "the E with the largest gap between the
    * highest and lowest V" → group the fact by its fk-to-E, rank by
    * `MAX(V) - MIN(V)`, keep the top row. MAX and MIN share one
    * partial+final hash aggregate pass (one shuffle on the fk), and the
    * ORDER BY … LIMIT 1 is a TakeOrderedAndProject over the group rows
    * — never a global sort. The fk column is the answer key, so no
    * dimension join. */
  def rangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    rangeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("smallest", "narrowest")(m.group(2).toLowerCase)) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn}, MAX($numCol) - MIN($numCol) AS agg_value " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn} " +
          s"ORDER BY agg_value $dir, ${e.fromColumn} LIMIT 1",
        0.9, "template_range_argmax")).take(1)
    }

  // "for each grade level, the course with the highest average score" —
  // two-level grouped argmax: the GROUP attribute lives on one dimension
  // (students.grade_level), the RANKED entity is the fact's fk to a
  // DIFFERENT dimension (scores.course_id → courses)
  private[gen] val groupedArgmax2Re =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s*,?\s+the\s+" +
      raw"([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(highest|largest|biggest|greatest|maximum|max|lowest|smallest|minimum|min)\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Two-level grouped argmax: "for each G, the E with the highest avg
    * V" where G is a column on dimension A and E is the fact's fk to
    * dimension B — both bridged by the same fact. Defers to
    * [[groupwiseArgmaxCandidates]] when G resolves on E's own dimension
    * (the round-6 single-dimension shape). Plan: fact ⋈ broadcast dim A
    * (the group side only — the entity needs no join, its fk IS the
    * answer key), one grouped aggregate on (G, fk) with partial
    * aggregation, then RANK over the GROUP ROWS ONLY — |A-groups ×
    * B-entities| rows, never the fact — with the deterministic fk
    * tiebreak stated in the ORDER BY. */
  def groupedArgmax2Candidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    groupedArgmax2Re.findFirstMatchIn(question).toSeq.flatMap { m =>
      val lowest = Set("lowest", "smallest", "minimum", "min")(m.group(3).toLowerCase)
      val dir = if (lowest) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        // single-dimension questions belong to the round-6 template
        if strongColumn(m.group(1), slice.tables(dimE)).isEmpty
        eE <- edgesInto(slice, fks, dimE)
        eG <- otherEdges(slice, fks, eE)
        groupCol <- strongColumn(m.group(1), slice.tables(eG.toTable)).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $groupCol, ${eE.fromColumn} FROM (" +
          s"SELECT d.$groupCol, f.${eE.fromColumn}, " +
          s"RANK() OVER (PARTITION BY d.$groupCol ORDER BY $agg(f.$numCol) $dir, f.${eE.fromColumn}) AS rnk " +
          s"FROM ${eE.fromTable} f JOIN ${eG.toTable} d ON f.${eG.fromColumn} = d.${eG.toColumn} " +
          s"GROUP BY d.$groupCol, f.${eE.fromColumn}) t WHERE rnk = 1 " +
          s"ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_grouped_argmax2")).take(1)
    }

  // "students who took all math courses" / "students who are enrolled
  // in every course" — relational division: the entities whose fact
  // rows cover EVERY member of a (possibly filtered) dimension. The
  // relative pronoun and auxiliary are optional ("Which students are
  // enrolled in every course" has neither a who/that nor a bare verb),
  // and all|every are the same quantifier; the structural grounding
  // below (two dims + a shared fact across FK edges) is what prevents
  // the looser trigger from fabricating anything.
  private[gen] val divisionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:(?:who|that|which)\s+)?(?:(?:are|is|was|were|have|has)\s+)?" +
      raw"[a-z]+\s+(?:in\s+|to\s+|at\s+)?(?:all|every)\s+" +
      raw"(?:the\s+)?(?:([a-z0-9_+-]+)\s+)?([a-z_][a-z0-9_]*)\b").r

  /** Relational division (ref `app/models/inference.py:151-213` serves
    * this only through its LLM path): "Es who V all [m] Js" → group the
    * fact by the entity KEY (two same-named entities must qualify
    * individually), compare each group's DISTINCT J count to the
    * divisor `(SELECT COUNT(*) FROM J [WHERE …])`. The optional
    * modifier m ("math") resolves against the J dimension's MINED VALUE
    * DOMAINS (`values`, Profiler.stringDomains): it must appear in
    * exactly one column's domain or no candidate is produced — the
    * no-fabrication bar, extended from names to data values. Plan: fact
    * ⋈ two broadcast dims, one grouped aggregate on the entity key, the
    * divisor a one-row scalar subquery broadcast into the HAVING
    * filter. */
  def divisionCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String,
      values: String => Map[String, Seq[String]]): Seq[Candidate] =
    divisionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        whereSql <- Option(m.group(2)).map(_.trim).filter(_.nonEmpty) match {
          case None => Seq("")
          case Some(v) =>
            // the modifier must be a mined domain value of exactly one
            // dimension column (and not resolve as a column name itself)
            val hits = values(dimJ).collect {
              case (c, dom) if slice.tables(dimJ).contains(c) && dom.contains(v) => c
            }.toSeq
            if (hits.size == 1 && strongColumn(v, slice.tables(dimJ)).isEmpty)
              Seq(s" WHERE ${hits.head} = ${sqlLit(v)}")
            else Nil
        }
      } yield Candidate(
        s"SELECT DISTINCT d.$nameCol FROM ${eE.fromTable} f " +
          s"JOIN $dimE d ON f.${eE.fromColumn} = d.${eE.toColumn} " +
          s"JOIN $dimJ j ON f.${eJ.fromColumn} = j.${eJ.toColumn}" +
          whereSql.replace(" WHERE ", " WHERE j.") +
          s" GROUP BY d.${eE.toColumn}, d.$nameCol " +
          s"HAVING COUNT(DISTINCT f.${eJ.fromColumn}) = " +
          s"(SELECT COUNT(*) FROM $dimJ$whereSql) " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_division")).take(1)
    }

  // "the course with the second highest average score" — an ordinal
  // rank over a GROUPED aggregate (nthRe handles the rank over raw
  // distinct values; this shape has an agg word between rank and column)
  private[gen] val nthAggRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(second|third|fourth|fifth|\d+(?:st|nd|rd|th))[-\s]+" +
      raw"(highest|largest|biggest|greatest|lowest|smallest)\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Nth-ranked aggregate: "the E with the second highest avg V" →
    * RANK over the GROUP ROWS of one grouped aggregate, keep rank n
    * (RANK, not OFFSET: ties at rank n all belong in the answer). The
    * window runs over |entities| group rows, never the fact — the same
    * group-rows-only contract as [[groupedArgmax2Candidates]]; the fk
    * column is the answer key, so no dimension join. */
  def nthAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge], question: String): Seq[Candidate] =
    nthAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinalOffset(m.group(2)) + 1
      val dir = if (Set("lowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(5), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (SELECT ${e.fromColumn}, " +
          s"RANK() OVER (ORDER BY $agg($numCol) $dir, ${e.fromColumn}) AS rnk " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t WHERE rnk = $n " +
          s"LIMIT $DefaultLimit",
        0.9, "template_nth_agg")).take(1)
    }

  // "for each course, the percentage of scores of at least 90" — a
  // per-group conditional share (ratioAggRe serves the global
  // categorical form; this one is grouped with a numeric threshold)
  private[gen] val conditionalShareRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*)\s*,?\s+the\s+" +
      raw"(percentage|percent|share|fraction)\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:of|with|scoring|at)?\s*(at\s+least|at\s+most|above|over|below|under)\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** Per-group conditional share: "for each G, the percentage of Ts of
    * at least N" → `100·COUNT(CASE WHEN V op N)/COUNT(*)` grouped by
    * G's key — the conditional count and the total share ONE
    * partial+final aggregate pass (one shuffle on the group key), never
    * two scans joined. The measured column is the counted noun's
    * singular ("scores" → `score`), resolved strongly on the fact. */
  def conditionalShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    conditionalShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(4).toLowerCase.replaceAll("\\s+", " ") match {
        case "at least" => ">="
        case "above" | "over" => ">"
        case "at most" => "<="
        case _ => "<"
      }
      val scale = if (m.group(2).toLowerCase.startsWith("percent")) "100.0" else "1.0"
      val noun = m.group(3)
      val valueWord = if (noun.endsWith("s")) noun.dropRight(1) else noun
      (for {
        fact <- uniqueTable(slice, noun).toSeq
        numCol <- strongColumn(valueWord, slice.tables(fact)).toSeq
        groupCol <- uniqueTable(slice, m.group(1))
          .flatMap(g => fks.find(e => e.fromTable == fact && e.toTable == g).map(_.fromColumn))
          .orElse(strongColumn(m.group(1), slice.tables(fact).filterNot(_ == numCol))).toSeq
      } yield Candidate(
        s"SELECT $groupCol, $scale * COUNT(CASE WHEN $numCol $op ${m.group(5)} THEN 1 END) " +
          s"/ COUNT(*) AS agg_value FROM $fact GROUP BY $groupCol " +
          s"ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_conditional_share")).take(1)
    }

  // "students whose average score improved from 2022 to 2023" — a
  // two-period trend comparison inside one grouped aggregate
  private[gen] val trendCompareRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(improved|increased|rose|went\s+up|decreased|declined|dropped|fell)\s+" +
      raw"from\s+(\d{4})\s+to\s+(\d{4})\b").r

  /** Two-period trend compare: "Es whose avg V improved from Y1 to Y2"
    * → both periods' conditional aggregates (`AGG(CASE WHEN year = Yi
    * THEN V END)`) share ONE partial+final pass over the fact grouped
    * by the fk to E (one shuffle; never two per-year scans joined),
    * HAVING compares them, and the surviving keys broadcast-join to
    * the dimension for display names. Needs a year-named column on the
    * fact; "improved/increased/rose/went up" reads as to-year > from-
    * year, the falling verbs as <. */
  def trendCompareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trendCompareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val cmp = m.group(4).toLowerCase.replaceAll("\\s+", " ") match {
        case "decreased" | "declined" | "dropped" | "fell" => "<"
        case _ => ">"
      }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined &&
          slice.tables(e.fromTable).exists(_.toLowerCase.contains("year"))).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
        yearCol <- slice.tables(e.fromTable).find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM ${e.toTable} d JOIN (" +
          s"SELECT ${e.fromColumn} FROM ${e.fromTable} GROUP BY ${e.fromColumn} " +
          s"HAVING $agg(CASE WHEN $yearCol = ${m.group(6)} THEN $numCol END) $cmp " +
          s"$agg(CASE WHEN $yearCol = ${m.group(5)} THEN $numCol END)) q " +
          s"ON q.${e.fromColumn} = d.${e.toColumn} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_trend_compare")).take(1)
    }

  // "the percentage of students who take more than 5 courses" — a
  // global share over a per-entity distinct count (ratioAggRe is the
  // "of T with C v" categorical form; this one has a counted second
  // entity behind a verb, so the two never both fire)
  private[gen] val groupShareRe =
    (raw"(?i)\bthe\s+(percentage|percent|share|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+[a-z]+\s+" +
      raw"(more\s+than|at\s+least|fewer\s+than|less\s+than|at\s+most)\s+" +
      raw"(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Global share over a per-entity count: "the percentage of Es who V
    * more than N Js" → inner grouped `COUNT(DISTINCT fk-to-J)` per E
    * key (one shuffle on the fact's fk to E), outer single-row share —
    * the second aggregate collapses |E| group rows, so the global pass
    * is trivially cheap. No dimension join: both the numerator and the
    * denominator live on the fact's keys. */
  def groupShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(3).toLowerCase.replaceAll("\\s+", " ") match {
        case "more than" => ">"
        case "at least" => ">="
        case "at most" => "<="
        case _ => "<"
      }
      val scale = if (m.group(1).toLowerCase.startsWith("percent")) "100.0" else "1.0"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        dimJ <- uniqueTable(slice, m.group(5)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ).take(1)
      } yield Candidate(
        s"SELECT ROUND($scale * SUM(CASE WHEN c $op ${m.group(4)} THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value FROM " +
          s"(SELECT ${eE.fromColumn}, COUNT(DISTINCT ${eJ.fromColumn}) AS c " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) t",
        0.9, "template_group_share")).take(1)
    }

  // "students who share a course with Ada Adams" — entity
  // co-occurrence through the bridging fact's second FK, anchored on a
  // capitalized display-name value
  private[gen] val coOccurRe =
    (raw"\b([a-z_][a-z0-9_]*)\s+(?i:who|that|which)\s+(?i:shares?)\s+(?i:an?\s+)?" +
      raw"([a-z_][a-z0-9_]*)\s+(?i:with)\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)").r

  /** Entity co-occurrence: "Es who share a J with NAME" → the anchor's
    * fact rows are isolated FIRST (fact ⋈ broadcast dim filtered to
    * NAME — a few rows), then joined back to the fact on the J-fk, so
    * the fact-to-fact step is anchor-rows × per-J peers, never the
    * quadratic self-join of the naive form. The anchor itself (same
    * entity key, or a different key sharing the display name) is
    * excluded from the answer. */
  def coOccurrenceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    coOccurRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val name = m.group(3).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ).take(1)
      } yield Candidate(
        s"SELECT DISTINCT d2.$nameCol FROM " +
          s"(SELECT f.${eJ.fromColumn} AS jk, f.${eE.fromColumn} AS ek " +
          s"FROM ${eE.fromTable} f JOIN $dimE d1 ON d1.${eE.toColumn} = f.${eE.fromColumn} " +
          s"WHERE d1.$nameCol = '$name') a " +
          s"JOIN ${eE.fromTable} f2 ON f2.${eJ.fromColumn} = a.jk " +
          s"AND f2.${eE.fromColumn} <> a.ek " +
          s"JOIN $dimE d2 ON d2.${eE.toColumn} = f2.${eE.fromColumn} " +
          s"WHERE d2.$nameCol <> '$name' " +
          s"ORDER BY d2.$nameCol LIMIT $DefaultLimit",
        0.9, "template_co_occurrence")).take(1)
    }

  // "courses where no student scored below 60" — a universal condition
  // per group, phrased as a negated existential
  private[gen] val universalFilterRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+no\s+([a-z_][a-z0-9_]*)\s+" +
      raw"([a-z]+)\s+(below|under|above|over)\s+(\d+(?:\.\d+)?)\b").r

  /** Universal per-group condition: "Es where no J Ved below N" — the
    * negated existential IS a group extreme ("no row below N" ⟺
    * `MIN(V) >= N`, "no row above N" ⟺ `MAX(V) <= N`), so the plan is
    * one partial+final aggregate on the fact joined to the broadcast
    * dimension for display names — never an anti-join against the
    * offending rows. The "no"-noun must name a table connected to the
    * same fact (or the fact itself) so the shape can't fire on an
    * unrelated entity word. */
  def universalFilterCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalFilterRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (agg, op) =
        if (Set("below", "under")(m.group(4).toLowerCase)) ("MIN", ">=") else ("MAX", "<=")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
        noTable <- uniqueTable(slice, m.group(2)).toSeq
        if noTable == e.fromTable || bridges(fks, dimE, noTable).exists(_._1 == e)
      } yield Candidate(
        s"SELECT d.$nameCol FROM $dimE d " +
          s"JOIN ${e.fromTable} f ON f.${e.fromColumn} = d.${e.toColumn} " +
          s"GROUP BY d.$nameCol HAVING $agg(f.$numCol) $op ${m.group(5)} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_universal_filter")).take(1)
    }

  // "the mean absolute change in each course's average between 2022 and
  // 2023" — a per-entity two-period delta folded to one global mean.
  // The measure may be explicit ("average SCORE between") or implicit
  // ("…course's average between"), where it resolves to the fact
  // table's self-named column (scores → score), the convention the
  // reference's crawled schemas follow.
  private[gen] val absDeltaRe =
    (raw"(?i)\bthe\s+(?:mean|average)\s+absolute\s+(?:change|difference|delta)\s+in\s+" +
      raw"each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+(average|avg|mean|total|sum)" +
      raw"(?:\s+(?!between\b)([a-z_][a-z0-9_]*))?\s+between\s+(\d{4})\s+and\s+(\d{4})\b").r

  /** Per-entity period delta, globally averaged: both periods'
    * conditional aggregates share ONE partial+final pass over the fact
    * grouped by the entity fk (one shuffle), the outer mean collapses
    * |E| rows — the trendCompare plan shape with an ABS-delta fold
    * instead of a HAVING. Entities present in only one period drop out
    * (their delta is NULL), matching "change between" semantics. */
  def absPeriodDeltaCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    absDeltaRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val (y1, y2) = (m.group(4), m.group(5))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          slice.tables(e.fromTable).exists(_.toLowerCase.contains("year"))).toSeq
        factCols = slice.tables(e.fromTable)
        yearCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        factStem = if (e.fromTable.endsWith("s")) e.fromTable.dropRight(1) else e.fromTable
        measure <- Option(m.group(3)).flatMap(w => strongColumn(w, factCols))
          .orElse(strongColumn(factStem, factCols)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(ABS(d)), 4) AS agg_value FROM (" +
          s"SELECT ${e.fromColumn}, $agg(CASE WHEN $yearCol = $y2 THEN $measure END) - " +
          s"$agg(CASE WHEN $yearCol = $y1 THEN $measure END) AS d " +
          s"FROM ${e.fromTable} WHERE $yearCol IN ($y1, $y2) " +
          s"GROUP BY ${e.fromColumn}) t WHERE d IS NOT NULL",
        0.9, "template_abs_period_delta")).take(1)
    }

  // "the number of departments where every year's average score was
  // above 70" — a universal condition over PERIOD-grained aggregates:
  // the entity is an ATTRIBUTE (courses.dept), the period a fact
  // column, and "every P" folds to HAVING MIN(indicator) = 1
  private[gen] val universalPeriodRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+where\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)(?:'s)?\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:was|is|were|are|stayed|remained)\s+" +
      raw"(above|over|at\s+least|below|under|at\s+most)\s+(\d+(?:\.\d+)?)\b").r

  /** Universal period condition count: "the number of Es where every
    * P's AGG(M) was above N" → inner (entity, period) aggregate (one
    * shuffle over the fact ⋈ broadcast dimension), HAVING
    * MIN(CASE a > N) = 1 collapses "every" without an anti-join, outer
    * COUNT over the survivors. The entity resolves as a fact column
    * first, else an attribute of an FK-joined dimension — "departments"
    * lives on courses, not in the question's fact table. */
  def universalPeriodCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalPeriodRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(3))
      val op = m.group(5).toLowerCase.replaceAll("\\s+", " ") match {
        case "above" | "over" => ">"
        case "at least" => ">="
        case "at most" => "<="
        case _ => "<"
      }
      val n = m.group(6)
      // the fact: any sliced table carrying BOTH the measure and a
      // period-ish column matching the "every P" noun
      val facts = slice.tables.toSeq.filter { case (_, cols) =>
        strongColumn(m.group(4), cols).isDefined &&
          cols.exists(_.toLowerCase.contains(m.group(2).toLowerCase))
      }
      facts.flatMap { case (fact, factCols) =>
        val measure = strongColumn(m.group(4), factCols).get
        val pCol = factCols.find(_.toLowerCase.contains(m.group(2).toLowerCase)).get
        // schemas ABBREVIATE entity attributes (dept ← departments,
        // qty ← quantity): the column is an initial-anchored
        // SUBSEQUENCE of the question noun, which neither a substring
        // window nor a prefix test sees ("dept" skips the 'ar' of
        // "department"). The resolver accepts a unique ≥4-char
        // first-letter-anchored subsequence. Scoped HERE, not in
        // nameScore: a global abbreviation bonus re-ranked unrelated
        // links across every template.
        def isAbbrev(n: String, w: String): Boolean =
          n.length >= 4 && w.length > n.length && n.head == w.head && {
            var i = 0; var j = 0
            while (i < n.length && j < w.length) { if (n(i) == w(j)) i += 1; j += 1 }
            i == n.length
          }
        def entityColumn(word: String, cols: Seq[String]): Option[String] =
          strongColumn(word, cols).orElse {
            val w = word.toLowerCase
            val pref = cols.filter(c => isAbbrev(c.toLowerCase, w))
            if (pref.size == 1) pref.headOption else None
          }
        val inner = entityColumn(m.group(1), factCols.filterNot(Set(measure, pCol))) match {
          case Some(eCol) => // entity is a fact column: no join
            Some(s"SELECT $eCol AS e, $pCol, $agg($measure) AS a FROM $fact GROUP BY $eCol, $pCol")
          case None => // entity is an attribute of an FK-joined dimension
            (for {
              e <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable))
              eCol <- entityColumn(m.group(1),
                slice.tables(e.toTable).filterNot(_ == e.toColumn)).toSeq
            } yield s"SELECT d.$eCol AS e, f.$pCol, $agg(f.$measure) AS a " +
              s"FROM $fact f JOIN ${e.toTable} d ON f.${e.fromColumn} = d.${e.toColumn} " +
              s"GROUP BY d.$eCol, f.$pCol").headOption
        }
        inner.map(i => Candidate(
          s"SELECT COUNT(*) AS agg_value FROM (SELECT e FROM ($i) x " +
            s"GROUP BY e HAVING MIN(CASE WHEN a $op $n THEN 1 ELSE 0 END) = 1) u",
          0.9, "template_universal_period_count"))
      }.take(1)
    }

  // "the two courses most often taken together" — the top co-occurring
  // pair through the fact's other FK
  private[gen] val pairCoOccurRe =
    (raw"(?i)\bthe\s+two\s+([a-z_][a-z0-9_]*)\s+most\s+" +
      raw"(?:often|frequently|commonly)\s+([a-z]+)\s+together\b").r

  // "the two courses with the most students in common" — same top pair,
  // phrased through the shared entity; the entity word must resolve to
  // the fact's co-occurrence key dimension
  private[gen] val pairInCommonRe =
    (raw"(?i)\bthe\s+two\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+common\b").r

  /** Top co-occurring pair: "the two Js most often Ved together" →
    * fact self-joined on its OTHER fk (the co-occurrence key) with
    * `jfk1 < jfk2` so each unordered pair appears once, grouped by the
    * pair, top-1 by count via TakeOrderedAndProject. Per co-occurrence
    * key the join emits k·(k−1)/2 pairs — bounded by the per-entity
    * fan-out (a student's courses), not the corpus; the dimension join
    * for display names happens AFTER pair counting would be wrong
    * (names are the group key in the gold), so both fact sides join the
    * broadcast dimension first and the aggregate groups on names. */
  def pairCoOccurrenceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] = {
    // two phrasings, one plan: "most often taken together" leaves the
    // co-occurrence key implicit (any other FK of the fact); "with the
    // most Es in common" NAMES it, so the E word must resolve to that
    // dimension or the shape stays silent
    val matched: Option[(String, Option[String])] =
      pairCoOccurRe.findFirstMatchIn(question).map(m => (m.group(1), None))
        .orElse(pairInCommonRe.findFirstMatchIn(question)
          .map(m => (m.group(1), Some(m.group(2)))))
    matched.toSeq.flatMap { case (jWord, eWord) =>
      (for {
        dimJ <- uniqueTable(slice, jWord).toSeq
        nameCol <- nameishColumn(slice.tables(dimJ)).toSeq
        (eJ, eE) <- bridgesWhere(fks, dimJ, t => t != dimJ &&
          eWord.forall(w => uniqueTable(slice, w).contains(t)))
          .filter(p => slice.tables.contains(p._1.fromTable)).take(1)
      } yield Candidate(
        s"SELECT j1.$nameCol AS ${nameCol}_a, j2.$nameCol AS ${nameCol}_b " +
          s"FROM ${eJ.fromTable} f1 JOIN ${eJ.fromTable} f2 " +
          s"ON f1.${eE.fromColumn} = f2.${eE.fromColumn} " +
          s"AND f1.${eJ.fromColumn} < f2.${eJ.fromColumn} " +
          s"JOIN $dimJ j1 ON j1.${eJ.toColumn} = f1.${eJ.fromColumn} " +
          s"JOIN $dimJ j2 ON j2.${eJ.toColumn} = f2.${eJ.fromColumn} " +
          s"GROUP BY j1.$nameCol, j2.$nameCol " +
          s"ORDER BY COUNT(*) DESC, ${nameCol}_a, ${nameCol}_b LIMIT 1",
        0.9, "template_pair_cooccurrence")).take(1)
    }
  }

  // "students whose score in Algebra is above their average score" — a
  // row compared against the row's OWN entity aggregate, anchored on a
  // capitalized second-dimension value
  // case-sensitive [A-Z] anchor (inline (?i:) groups, like coOccurRe):
  // a lowercase word after "in" must never read as a display-name value
  private[gen] val selfRelativeRe =
    (raw"\b([a-z_][a-z0-9_]*)\s+(?i:whose)\s+([a-z_][a-z0-9_]*)\s+(?i:in)\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)\s+(?i:is)\s+(?i:(above|over|below|under))\s+" +
      raw"(?i:their)\s+(?i:own\s+)?(?i:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Self-relative comparison: "Es whose V in NAME is above their avg
    * V" → per-entity averages come from ONE grouped pass over the fact
    * (shuffle on the fk to E), joined back on the same key; the NAME
    * filter lands on the broadcast second dimension BEFORE the
    * aggregate join, so only the anchor rows (one per entity) meet the
    * per-entity averages. Both measure words must resolve to the same
    * fact column — "score in Algebra ... average grade" fires
    * nothing. The anchor dimension is chosen by MINED VALUE DOMAINS
    * (the divisionCandidates rule): among the fact's other dimensions
    * with a display column, prefer one whose domain contains NAME; with
    * no domain hit the shape only proceeds when a single candidate
    * dimension exists — a multi-dimension fact must never anchor NAME
    * on the wrong table. */
  def selfRelativeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    selfRelativeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val name = m.group(3).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eName <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(2), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        numCol2 <- strongColumn(m.group(5), slice.tables(eE.fromTable)).toSeq
        if numCol == numCol2
        candidateDims = fks.filter(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          nameishColumn(slice.tables(e.toTable)).isDefined)
        eJ <- {
          val domainHit = candidateDims.filter(e =>
            nameishColumn(slice.tables(e.toTable)).exists(nc =>
              values(e.toTable).get(nc).exists(_.contains(m.group(3)))))
          (if (domainHit.nonEmpty) domainHit.headOption
           else if (candidateDims.size == 1) candidateDims.headOption
           else None).toSeq
        }
        jName <- nameishColumn(slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.$eName FROM ${eE.fromTable} f " +
          s"JOIN ${eJ.toTable} j ON j.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"JOIN $dimE d ON d.${eE.toColumn} = f.${eE.fromColumn} " +
          s"JOIN (SELECT ${eE.fromColumn} AS k, AVG($numCol) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) m ON m.k = f.${eE.fromColumn} " +
          s"WHERE j.$jName = '$name' AND f.$numCol $op m.a " +
          s"ORDER BY d.$eName LIMIT $DefaultLimit",
        0.9, "template_self_relative")).take(1)
    }

  /** [[strongColumn]], falling back to a unique ABBREVIATION match:
    * the column name shares the word's first three letters and its
    * remaining letters appear in order inside the word ("dept" ⊑
    * "department"). Both constraints plus uniqueness so a loose stem
    * can never steal a resolution from a full-word hit. */
  private[gen] def abbrevColumn(word: String, cols: Seq[String]): Option[String] =
    strongColumn(word, cols).orElse {
      val w = word.toLowerCase
      def subseq(c: String): Boolean = {
        var i = 0
        w.foreach(ch => if (i < c.length && c(i) == ch) i += 1)
        i == c.length
      }
      cols.filter { col =>
        val c = col.toLowerCase
        c.length >= 4 && w.length > c.length &&
          w.startsWith(c.take(3)) && subseq(c)
      } match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }

  // "students who took a course in every department" — division against
  // the distinct values of a dimension ATTRIBUTE, not its rows
  private[gen] val attrDivisionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+[a-z]+\s+" +
      raw"(?:a|an|some)\s+([a-z_][a-z0-9_]*)\s+(?:in|from|of)\s+" +
      raw"(?:every|each)\s+([a-z_][a-z0-9_]*)\b").r

  /** Attribute division: "Es who Ved a J in every A" — the divisor is
    * the DISTINCT COUNT of an attribute of the J dimension (every
    * department), not the J rows themselves ([[divisionCandidates]]
    * serves that form). Same plan shape: fact ⋈ two broadcast dims, one
    * grouped aggregate on the entity KEY (same-named entities qualify
    * individually), the divisor a one-row scalar subquery broadcast
    * into HAVING. The attribute word resolves strong-or-abbreviation
    * against the J dimension only ("department" → courses.dept) — a
    * word matching nothing, or two columns, fires no candidate. */
  def attrDivisionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    attrDivisionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attrCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM ${eE.fromTable} f " +
          s"JOIN $dimE d ON f.${eE.fromColumn} = d.${eE.toColumn} " +
          s"JOIN $dimJ j ON f.${eJ.fromColumn} = j.${eJ.toColumn} " +
          s"GROUP BY d.${eE.toColumn}, d.$nameCol " +
          s"HAVING COUNT(DISTINCT j.$attrCol) = " +
          s"(SELECT COUNT(DISTINCT $attrCol) FROM $dimJ) " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_attr_division")).take(1)
    }

  // "the student with the most consistent scores" — an argmin/argmax
  // over per-entity dispersion
  private[gen] val variabilityRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+(most|least)\s+" +
      raw"(consistent|stable|uniform|variable|volatile|erratic|inconsistent)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Dispersion argmin/argmax: "the E with the most consistent Vs" →
    * rank entities by per-group `STDDEV_SAMP` ("most consistent" =
    * smallest). Single-row groups are excluded (`HAVING COUNT(*) >= 2`
    * — sample stddev is NULL there, and "consistency" of one value is
    * meaningless); the aggregate is one partial+final pass on the fact,
    * top-1 via TakeOrderedAndProject with the entity key breaking
    * ties. The answer is the fact's fk column — no dimension join. */
  def variabilityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    variabilityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val lowDispersion = Set("consistent", "stable", "uniform")(m.group(3).toLowerCase)
      val dir = if ((m.group(2).toLowerCase == "most") == lowDispersion) "ASC" else "DESC"
      val noun = m.group(4)
      val valueWord = if (noun.endsWith("s")) noun.dropRight(1) else noun
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(valueWord, slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(valueWord, slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (SELECT ${e.fromColumn}, " +
          s"STDDEV_SAMP($numCol) AS sd FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn} HAVING COUNT(*) >= 2) t " +
          s"ORDER BY sd $dir, ${e.fromColumn} LIMIT 1",
        0.9, "template_variability")).take(1)
    }

  // "for each course, the share of scores above the course average" — a
  // per-group share measured against the group's OWN average
  private[gen] val groupSelfShareRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*)\s*,?\s+the\s+" +
      raw"(percentage|percent|share|fraction)\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(above|over|below|under)\s+(?:the|its|their)\s+" +
      raw"(?:\1\s+|own\s+|group\s+)?(?:average|avg|mean)\b").r

  /** Per-group self-relative share: "for each G, the share of Ts above
    * the G average" — the threshold is the group's own `AVG`, so the
    * plan is one window pass (`AVG OVER (PARTITION BY G)`) feeding one
    * grouped aggregate on the SAME key: Spark exchanges on G once and
    * the aggregate reuses that partitioning — never two scans joined.
    * [[conditionalShareCandidates]] serves the numeric-threshold form;
    * this one requires the group word (or own/group) before
    * "average", backreferenced so "the course average" can't fire on an
    * unrelated grouping. */
  def groupSelfShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupSelfShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val scale = if (m.group(2).toLowerCase == "fraction") "1.0" else "100.0"
      val noun = m.group(3)
      val valueWord = if (noun.endsWith("s")) noun.dropRight(1) else noun
      (for {
        fact <- uniqueTable(slice, noun).toSeq
        numCol <- strongColumn(valueWord, slice.tables(fact)).toSeq
        groupCol <- uniqueTable(slice, m.group(1))
          .flatMap(g => fks.find(e => e.fromTable == fact && e.toTable == g).map(_.fromColumn))
          .orElse(strongColumn(m.group(1), slice.tables(fact).filterNot(_ == numCol))).toSeq
      } yield Candidate(
        s"SELECT $groupCol, ROUND($scale * SUM(CASE WHEN $numCol $op a THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value FROM (SELECT $groupCol, $numCol, " +
          s"AVG($numCol) OVER (PARTITION BY $groupCol) AS a FROM $fact) t " +
          s"GROUP BY $groupCol ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_group_self_share")).take(1)
    }

  // "courses taken by at least half of the students" — division against
  // a FRACTION of the divisor dimension, not all of it
  private[gen] val relativeDivisionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+(at\s+least|more\s+than|over)\s+" +
      raw"(half|a\s+quarter|three\s+quarters|\d+(?:\.\d+)?\s*(?:%|percent))\s+of\s+" +
      raw"(?:the\s+|all\s+)?([a-z_][a-z0-9_]*)\b").r

  /** Relative division: "Js Ved by at least half of the Es" — like
    * [[divisionCandidates]] but the divisor is a FRACTION of the E
    * dimension's row count and the ANSWER is the J dimension. One
    * grouped aggregate on the J key (fact joined to J for the display
    * name only — E's members are counted through the fact's fk, no E
    * join), the fractional divisor a one-row scalar folded into the
    * broadcast HAVING filter. Fraction words map to exact decimals
    * (half → 0.5); an unmappable fraction fires no candidate rather
    * than approximating. */
  def relativeDivisionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    relativeDivisionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).toLowerCase.replaceAll("\\s+", " ") == "at least") ">=" else ">"
      val fracWord = m.group(3).toLowerCase.replaceAll("\\s+", " ")
      val frac: Option[String] = fracWord match {
        case "half" => Some("0.5")
        case "a quarter" => Some("0.25")
        case "three quarters" => Some("0.75")
        case p if p.endsWith("%") || p.endsWith("percent") =>
          Some((p.replaceAll(raw"\s*(%|percent)$$", "").toDouble / 100.0).toString)
        case _ => None
      }
      (for {
        f <- frac.toSeq
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        nameCol <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT j.$nameCol FROM ${eJ.fromTable} f " +
          s"JOIN $dimJ j ON f.${eJ.fromColumn} = j.${eJ.toColumn} " +
          s"GROUP BY j.${eJ.toColumn}, j.$nameCol " +
          s"HAVING COUNT(DISTINCT f.${eE.fromColumn}) $op $f * " +
          s"(SELECT COUNT(*) FROM $dimE) " +
          s"ORDER BY j.$nameCol LIMIT $DefaultLimit",
        0.9, "template_relative_division")).take(1)
    }

  // "students ranked in the top 3 of each course by score" — the
  // MEMBERS of every group's top-k, not the per-group winners
  private[gen] val groupTopkMembersRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:ranked\s+|ranking\s+|who\s+rank(?:ed)?\s+)?" +
      raw"in\s+the\s+(top|bottom)\s+(\d+)\s+(?:of|in|for)\s+(?:each|every)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+([a-z_][a-z0-9_]*)\b").r

  /** Group-top-k membership: "Es ranked in the top N of each G by V" →
    * RANK partitioned by the fact's fk-to-G over V, keep rnk <= N,
    * DISTINCT display names of the surviving entity keys. RANK (not
    * ROW_NUMBER) so ties at the boundary all qualify — membership must
    * not depend on partition delivery order. The window runs over the
    * fact partitioned by group (bounded per-partition by
    * `BoundedRankPrefilter`, plans/RankLimit.scala); the entity
    * dimension joins AFTER the rank filter, at |survivors| size. */
  def groupTopkMembersCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupTopkMembersRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "top") "DESC" else "ASC"
      val noun = m.group(5)
      val valueWord = if (noun.endsWith("s")) noun.dropRight(1) else noun
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimG <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimG
        (eE, eG) <- bridges(fks, dimE, dimG)
        numCol <- strongColumn(valueWord, slice.tables(eE.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.$nameCol FROM (SELECT ${eE.fromColumn}, " +
          s"RANK() OVER (PARTITION BY ${eG.fromColumn} ORDER BY $numCol $dir) AS rnk " +
          s"FROM ${eE.fromTable}) t " +
          s"JOIN $dimE d ON d.${eE.toColumn} = t.${eE.fromColumn} " +
          s"WHERE t.rnk <= ${m.group(3)} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_group_topk_members")).take(1)
    }

  // "the course whose average score differs most from the overall
  // average" — argmax over |group aggregate − global aggregate|
  private[gen] val deviationArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:differs|deviates)\s+(?:the\s+)?(most|least)\s+" +
      raw"from\s+the\s+overall\s+(average|avg|mean|total|sum)\b").r

  /** Deviation argmax: "the E whose avg V differs most from the overall
    * avg" → rank groups by `ABS(agg − scalar)`. The global aggregate is
    * a one-row scalar subquery broadcast into every group row; the
    * grouped side is one partial+final pass over the fact, then top-1
    * via TakeOrderedAndProject with the fk key breaking ties — the
    * answer is the fact's fk column, no dimension join (same contract
    * as [[nthAggCandidates]]). "least" flips to ASC. */
  def deviationArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    deviationArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(4).toLowerCase == "most") "DESC" else "ASC"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (SELECT ${e.fromColumn}, " +
          s"ABS(${sumOrAvg(m.group(2))}($numCol) - " +
          s"(SELECT ${sumOrAvg(m.group(5))}($numCol) FROM ${e.fromTable})) AS dev " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"ORDER BY dev $dir, ${e.fromColumn} LIMIT 1",
        0.9, "template_deviation_argmax")).take(1)
    }

  /** Same-dimension grouped argmax: "for each A, the J with the highest
    * avg V" where A is an ATTRIBUTE of the ranked entity's OWN dimension
    * ("for each department, the course with the highest average score" —
    * dept and course_name both live on courses). The cross-dimension
    * form is [[groupedArgmax2Candidates]]; this variant joins the single
    * broadcast dimension for both the group attribute and the display
    * name, aggregates on (attr, name), and ranks the GROUP ROWS ONLY —
    * |attr × entities| rows, never the fact. The attribute resolves
    * strong-or-abbreviation ("department" → dept) against the entity
    * dimension alone. Listed AFTER the cross-dimension template so an
    * attr word resolving on another dimension keeps its round-7c
    * serving. */
  def sameDimArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupedArgmax2Re.findFirstMatchIn(question).toSeq.flatMap { m =>
      val lowest = Set("lowest", "smallest", "minimum", "min")(m.group(3).toLowerCase)
      val dir = if (lowest) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(4))
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(dimJ)).toSeq
        nameCol <- nameishColumn(slice.tables(dimJ)).toSeq
        if nameCol != attrCol
        eJ <- fks.filter(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(5), slice.tables(e.fromTable)).isDefined)
        numCol <- strongColumn(m.group(5), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $attrCol, $nameCol FROM (" +
          s"SELECT d.$attrCol AS $attrCol, d.$nameCol AS $nameCol, " +
          s"RANK() OVER (PARTITION BY d.$attrCol ORDER BY $agg(f.$numCol) $dir, d.$nameCol) AS rnk " +
          s"FROM ${eJ.fromTable} f JOIN $dimJ d ON f.${eJ.fromColumn} = d.${eJ.toColumn} " +
          s"GROUP BY d.$attrCol, d.$nameCol) t WHERE rnk = 1 " +
          s"ORDER BY $attrCol LIMIT $DefaultLimit",
        0.9, "template_same_dim_argmax")).take(1)
    }

  // "students whose scores span more than 40 points" — a per-entity
  // range (MAX − MIN) threshold
  private[gen] val rangeHavingRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)s?\s+" +
      raw"(?:span|vary\s+by|range\s+over)\s+(more\s+than|over|at\s+least)\s+" +
      raw"(\d+(?:\.\d+)?)(?:\s+points?)?\b").r

  /** Range HAVING: "Es whose Vs span more than N points" → one grouped
    * pass on the fact's fk computes MAX and MIN together (one
    * partial+final aggregate, one shuffle), the range threshold filters
    * in HAVING, display names join at survivor size. "at least" keeps
    * equality. */
  def rangeHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    rangeHavingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(3).toLowerCase.replaceAll("\\s+", " ") == "at least") ">=" else ">"
      val word = m.group(2)
      val vWord = if (word.endsWith("s")) word.dropRight(1) else word
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM ${e.fromTable} f " +
          s"JOIN $dimE d ON d.${e.toColumn} = f.${e.fromColumn} " +
          s"GROUP BY d.${e.toColumn}, d.$nameCol " +
          s"HAVING MAX(f.$numCol) - MIN(f.$numCol) $op ${m.group(4)} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_range_having")).take(1)
    }

  // "the year with the biggest improvement in average score" — argmax
  // over the consecutive-period DELTA of a per-period aggregate
  private[gen] val trendArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(biggest|largest|greatest|smallest)\s+" +
      raw"(improvement|increase|rise|jump|gain|drop|decrease|decline|fall)\s+in\s+" +
      raw"(?:the\s+)?(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Trend argmax: "the T with the biggest improvement in avg V" → the
    * fact collapses to one aggregate per period (partial+final, the
    * only corpus pass), LAG over the |periods| group rows computes the
    * consecutive delta, top-1 by delta. The single-partition window is
    * over PERIODS (years, months — intrinsically bounded), never the
    * fact. Falling words ("drop") rank the most NEGATIVE delta first;
    * "smallest improvement" the least positive. */
  def trendArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trendArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val falling = Set("drop", "decrease", "decline", "fall")(m.group(3).toLowerCase)
      val smallest = m.group(2).toLowerCase == "smallest"
      // rising words rank delta DESC (biggest positive change first);
      // falling words ASC; "smallest" flips either reading
      val dir = (falling, smallest) match {
        case (false, false) => "DESC"
        case (false, true) => "ASC"
        case (true, false) => "ASC"
        case (true, true) => "DESC"
      }
      val agg = sumOrAvg(m.group(4))
      (for {
        fact <- slice.tables.keys.toSeq.sorted
          .find(t => strongColumn(m.group(1), slice.tables(t)).isDefined &&
            strongColumn(m.group(5), slice.tables(t)).isDefined).toSeq
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(fact)).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT $periodCol FROM (" +
          s"SELECT $periodCol, $agg($numCol) - " +
          s"LAG($agg($numCol)) OVER (ORDER BY $periodCol) AS delta " +
          s"FROM $fact GROUP BY $periodCol) t " +
          s"WHERE delta IS NOT NULL ORDER BY delta $dir, $periodCol LIMIT 1",
        0.9, "template_trend_argmax")).take(1)
    }

  // "students whose average score improved every year" — a per-period
  // aggregate that must move in one direction across ALL consecutive
  // periods of the entity
  private[gen] val monotonicTrendRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(improved|increased|rose|grew|went\s+up|" +
      raw"decreased|declined|dropped|fell|went\s+down)\s+" +
      raw"(?:in\s+)?(?:every|each)\s+([a-z_][a-z0-9_]*)\b").r

  /** Monotonic trend: "Es whose avg V improved every T" → the fact
    * collapses to one row per (entity, period) FIRST (partial+final
    * aggregate — the only corpus-sized pass), then LAG partitioned by
    * the entity key orders the handful of period rows per entity, and a
    * grouped MIN over the step indicator keeps entities whose every
    * consecutive step moves the right way (single-period entities have
    * no step to satisfy, so COUNT(*) >= 2 keeps "every" meaningful).
    * The window input is |entities|·|periods|, never the fact, so the
    * WindowExec is bounded; display names join at survivor size. */
  def monotonicTrendCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    monotonicTrendRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val up = Set("improved", "increased", "rose", "grew")(
        m.group(4).toLowerCase.replaceAll("\\s+", " ")) ||
        m.group(4).toLowerCase.startsWith("went up")
      val op = if (up) ">" else "<"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined &&
          strongColumn(m.group(5), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
        periodCol <- strongColumn(m.group(5), slice.tables(e.fromTable)).toSeq
        if periodCol != numCol
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM (" +
          s"SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, $agg($numCol) AS a, " +
          s"LAG($agg($numCol)) OVER (PARTITION BY ${e.fromColumn} ORDER BY $periodCol) AS prev " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}, $periodCol) t " +
          s"GROUP BY ${e.fromColumn} " +
          s"HAVING MIN(CASE WHEN prev IS NULL OR a $op prev THEN 1 ELSE 0 END) = 1 " +
          s"AND COUNT(*) >= 2) m " +
          s"JOIN $dimE d ON d.${e.toColumn} = m.${e.fromColumn} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_monotonic_trend")).take(1)
    }

  // "students who scored above the course average in every course they
  // took" — a universal quantifier over the row-vs-its-GROUP-average
  // comparison (the group is the fact's other dimension)
  private[gen] val universalSelfRelativeRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+([a-z]+)\s+(above|over|below|under)\s+" +
      raw"the\s+([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\s+in\s+" +
      raw"(?:every|each)\s+([a-z_][a-z0-9_]*)\b").r

  /** Universal self-relative: "Es who Ved above the J average in every
    * J" → per-J averages come from ONE grouped pass over the fact
    * (|J| rows, broadcast back), each fact row compares against its
    * group's average, and a grouped MIN over the indicator keeps
    * entities whose EVERY row clears the bar — a join-then-aggregate
    * shape, not a WindowExec over the corpus (the grouped side is
    * dimension-sized, so Catalyst broadcasts it and the only corpus
    * shuffle is the final entity aggregate). The measure resolves from
    * the verb's stem ("scored" → score); both J words must name the
    * same dimension. */
  def universalSelfRelativeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalSelfRelativeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(3).toLowerCase)) ">" else "<"
      val verb = m.group(2).toLowerCase
      val stems = Seq(verb, verb.stripSuffix("d"), verb.stripSuffix("ed")).distinct
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ && uniqueTable(slice, m.group(5)).contains(dimJ)
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        if slice.tables.contains(eE.fromTable)
        numCol <- stems.flatMap(s => strongColumn(s, slice.tables(eE.fromTable))).headOption.toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM (" +
          s"SELECT f.${eE.fromColumn} FROM ${eE.fromTable} f " +
          s"JOIN (SELECT ${eJ.fromColumn} AS k, AVG($numCol) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eJ.fromColumn}) g ON g.k = f.${eJ.fromColumn} " +
          s"GROUP BY f.${eE.fromColumn} " +
          s"HAVING MIN(CASE WHEN f.$numCol $op g.a THEN 1 ELSE 0 END) = 1) m " +
          s"JOIN $dimE d ON d.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_universal_self_relative")).take(1)
    }

  // "students who took every course taken by Ada Adams" — division
  // where the divisor is the J-set of a NAMED EXAMPLE entity
  // (case-sensitive name anchor, like selfRelativeRe)
  private[gen] val divisionByExampleRe =
    (raw"\b([a-z_][a-z0-9_]*)\s+(?i:who|that|which)\s+[a-z]+\s+(?i:every|each|all)\s+" +
      raw"([a-z_][a-z0-9_]*)s?\s+[a-z]+\s+(?i:by)\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)\b").r

  /** Division by example: "Es who Ved every J Ved by NAME" → the
    * divisor is the DISTINCT J-set of the entities named NAME (several
    * rows may share the display name — the divisor unions their Js, the
    * only reading that keeps "every J taken by NAME" well-defined).
    * Both the IN-filter and the HAVING divisor reuse the same
    * name-anchored subquery; the anchor subquery is entity-sized and
    * broadcast, the outer pass is one grouped distinct-count on the
    * fact — the [[divisionCandidates]] plan with the divisor swapped
    * from a dimension count to an example-entity count. */
  def divisionByExampleCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    divisionByExampleRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val name = m.group(3).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield {
        val anchor = s"FROM ${eE.fromTable} af JOIN $dimE a " +
          s"ON a.${eE.toColumn} = af.${eE.fromColumn} WHERE a.$nameCol = '$name'"
        Candidate(
          s"SELECT d.$nameCol FROM $dimE d " +
            s"JOIN ${eE.fromTable} f ON f.${eE.fromColumn} = d.${eE.toColumn} " +
            s"WHERE f.${eJ.fromColumn} IN (SELECT af.${eJ.fromColumn} $anchor) " +
            s"GROUP BY d.${eE.toColumn}, d.$nameCol " +
            s"HAVING COUNT(DISTINCT f.${eJ.fromColumn}) = " +
            s"(SELECT COUNT(DISTINCT af.${eJ.fromColumn}) $anchor) " +
            s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
          0.9, "template_division_by_example")
      }).take(1)
    }

  // "the most popular course among grade 9 students" — fact-popularity
  // argmax under an entity-attribute filter
  private[gen] val filteredPopularityRe =
    (raw"(?i)\bthe\s+most\s+popular\s+([a-z_][a-z0-9_]*)\s+among\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(\d+(?:\.\d+)?)\s+([a-z_][a-z0-9_]*)\b").r

  /** A column of `cols` the word resolves to strongly OR as the unique
    * name PREFIX ("grade" → grade_level) — attribute phrases routinely
    * shorten compound column names. */
  private[gen] def prefixColumn(word: String, cols: Seq[String]): Option[String] =
    strongColumn(word, cols).orElse {
      cols.filter(_.toLowerCase.startsWith(word.toLowerCase + "_")) match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }

  /** Filtered popularity: "the most popular J among A-N Es" ("grade 9
    * students") → the attribute phrase filters the ENTITY dimension
    * (prefix-resolved: "grade" → grade_level), popularity is the fact
    * row count per J under that filter, top-1 via
    * TakeOrderedAndProject. Both dimensions broadcast; the filter
    * pushes to the entity dimension scan BEFORE its join. */
  def filteredPopularityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    filteredPopularityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        attrCol <- prefixColumn(m.group(2), slice.tables(dimE)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT j.$jName FROM ${eJ.fromTable} f " +
          s"JOIN $dimE e ON e.${eE.toColumn} = f.${eE.fromColumn} " +
          s"JOIN $dimJ j ON j.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"WHERE e.$attrCol = ${m.group(3)} " +
          s"GROUP BY j.${eJ.toColumn}, j.$jName " +
          s"ORDER BY COUNT(*) DESC, j.$jName LIMIT 1",
        0.9, "template_filtered_popularity")).take(1)
    }

  // "courses where the top scorer is younger than 16" — per-group
  // argmax entity, filtered by an entity attribute
  private[gen] val argmaxAttrFilterRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+(top|best|bottom|worst)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+(younger|older)\s+than\s+(\d+(?:\.\d+)?)\b").r

  /** Argmax-attribute filter: "Js where the top Ver is younger than N"
    * → RANK per J over the fact by the verb-stem measure ("scorer" →
    * score), keep rank 1 (ties: ANY top scorer qualifying keeps the J —
    * the DISTINCT group-by), join the entity dimension at
    * top-rows size for the age comparison ("younger" < / "older" >,
    * resolved against an age-named entity column). The window is
    * per-group over the fact with a rank-1 bound —
    * `BoundedRankPrefilter` (plans/RankLimit.scala) caps each
    * partition's input. */
  def argmaxAttrFilterCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    argmaxAttrFilterRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("top", "best")(m.group(2).toLowerCase)) "DESC" else "ASC"
      val cmp = if (m.group(4).toLowerCase == "younger") "<" else ">"
      val verb = m.group(3).toLowerCase
      val stems = Seq(verb, verb.stripSuffix("r"), verb.stripSuffix("er"),
        verb.stripSuffix("rs"), verb.stripSuffix("ers")).distinct
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
        eJ <- fks.filter(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          stems.exists(s => strongColumn(s, slice.tables(e.fromTable)).isDefined))
        numCol <- stems.flatMap(s => strongColumn(s, slice.tables(eJ.fromTable))).headOption.toSeq
        eE <- fks.find(e => e.fromTable == eJ.fromTable && e.toTable != dimJ &&
          slice.tables.contains(e.toTable) &&
          strongColumn("age", slice.tables(e.toTable)).isDefined).toSeq
        ageCol <- strongColumn("age", slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT j.$jName FROM (SELECT ${eJ.fromColumn}, ${eE.fromColumn}, " +
          s"RANK() OVER (PARTITION BY ${eJ.fromColumn} ORDER BY $numCol $dir) AS r " +
          s"FROM ${eJ.fromTable}) t " +
          s"JOIN ${eE.toTable} e ON e.${eE.toColumn} = t.${eE.fromColumn} " +
          s"JOIN $dimJ j ON j.${eJ.toColumn} = t.${eJ.fromColumn} " +
          s"WHERE t.r = 1 AND e.$ageCol $cmp ${m.group(5)} " +
          s"GROUP BY j.${eJ.toColumn}, j.$jName " +
          s"ORDER BY j.$jName LIMIT $DefaultLimit",
        0.9, "template_argmax_attr_filter")).take(1)
    }

  // "the pair of students with the most similar average scores" —
  // argmin over pairwise aggregate differences
  private[gen] val pairArgminAggRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"similar\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)s?\b").r

  /** Pair argmin over aggregates: "the pair of Es with the most similar
    * avg V" → NOT a pairwise self-join: in one dimension the closest
    * pair is always ADJACENT in sorted order, so the plan is one
    * grouped aggregate (the only corpus pass), a window over the
    * |entities| GROUP ROWS sorted by (aggregate, key), LAG for the
    * adjacent delta, top-1. Entity-count work is linear, not quadratic.
    * Ties normalize through LEAST/GREATEST + the (delta, a, b) order,
    * which selects the same pair as the quadratic definition: with
    * distinct aggregates every minimal pair is adjacent (1-D closest
    * pair), and with ties the lexicographically-first zero-delta pair
    * is two id-consecutive members of the same aggregate group —
    * adjacent under the (aggregate, key) sort. */
  def pairArgminAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    pairArgminAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val word = m.group(3)
      val vWord = if (word.endsWith("s")) word.dropRight(1) else word
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
      } yield {
        val k = e.fromColumn
        Candidate(
          s"SELECT ${k}_a, ${k}_b FROM (" +
            s"SELECT LEAST(k, LAG(k) OVER (ORDER BY a, k)) AS ${k}_a, " +
            s"GREATEST(k, LAG(k) OVER (ORDER BY a, k)) AS ${k}_b, " +
            s"ABS(a - LAG(a) OVER (ORDER BY a, k)) AS delta " +
            s"FROM (SELECT $k AS k, $agg($numCol) AS a " +
            s"FROM ${e.fromTable} GROUP BY $k) g) t " +
            s"WHERE delta IS NOT NULL " +
            s"ORDER BY delta ASC, ${k}_a, ${k}_b LIMIT 1",
          0.9, "template_pair_argmin_agg")
      }).take(1)
    }

  // "courses whose average score is above the median course average" —
  // per-group aggregate vs the MEDIAN of all group aggregates
  private[gen] val aggVsMedianRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+(above|over|below|under)\s+the\s+median\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\b").r

  /** Aggregate vs median-of-aggregates: "Js whose avg V is above the
    * median J average" → the group rows compute once (one corpus pass,
    * partial+final), the median of those |J| aggregates is a one-row
    * scalar subquery broadcast into the filter. Catalyst evaluates the
    * CTE-free double reference as two aggregates over the same scan —
    * both group-rows-sized, the filter never touches the fact again. */
  def aggVsMedianCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    aggVsMedianRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        if uniqueTable(slice, m.group(5)).contains(dimJ)
        e <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (SELECT ${e.fromColumn}, AVG($numCol) AS a " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"WHERE a $op (SELECT MEDIAN(a) FROM (SELECT AVG($numCol) AS a " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) m) " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_agg_vs_median")).take(1)
    }

  // "students who share every course with another student" — entities
  // with an IDENTICAL J-set to some other entity
  private[gen] val setEqualityRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+share\s+(?:every|all(?:\s+of)?\s+their)\s+" +
      raw"([a-z_][a-z0-9_]*)s?\s+with\s+another\s+([a-z_][a-z0-9_]*)\b").r

  /** Set equality: "Es who share every J with another E" → each
    * entity's J-set collapses to ONE sorted-array SIGNATURE (a grouped
    * collect_set — the only corpus pass), and entities join ON THE
    * SIGNATURE: the shuffle key is the set itself, so only
    * identical-set entities ever meet — no pairwise subset testing, no
    * quadratic join. Display names join at survivor size. */
  def setEqualityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    setEqualityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val jWord = m.group(2)
      val jSingular = if (jWord.endsWith("s")) jWord.dropRight(1) else jWord
      val eSingular = {
        val w = m.group(1)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        // "another X" must name the same entity
        if uniqueTable(slice, m.group(3)).contains(dimE) ||
          eSingular == m.group(3).toLowerCase
        dimJ <- uniqueTable(slice, jSingular).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"WITH sets AS (SELECT ${eE.fromColumn} AS k, " +
          s"sort_array(collect_set(${eJ.fromColumn})) AS cs " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) " +
          s"SELECT DISTINCT d.$nameCol FROM sets a JOIN sets b " +
          s"ON a.cs = b.cs AND a.k <> b.k " +
          s"JOIN $dimE d ON d.${eE.toColumn} = a.k " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_set_equality")).take(1)
    }

  // "students whose best course by average score is in the math
  // department" — per-entity argmax over joined aggregates, the winner
  // filtered by a dimension attribute VALUE
  private[gen] val entityArgmaxAttrRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(best|worst)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"by\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+is\s+in\s+" +
      raw"(?:the\s+)?([a-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Per-entity argmax with attribute filter: "Es whose best J by avg V
    * is in the M A" → one grouped aggregate per (E, J) pair (the only
    * corpus pass), RANK partitioned by the entity key over those group
    * rows, rank-1 winners join the broadcast J dimension where the
    * attribute value filters them ("math" must be a MINED DOMAIN VALUE
    * of the attribute column, resolved like [[divisionCandidates]]'s
    * modifier — the no-fabrication bar; the attribute word
    * abbreviation-resolves: "department" → dept). "worst" flips the
    * rank direction. */
  def entityArgmaxAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    entityArgmaxAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "best") "DESC" else "ASC"
      val agg = sumOrAvg(m.group(4))
      val value = m.group(6)
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        numCol <- strongColumn(m.group(5), slice.tables(eE.fromTable)).toSeq
        attrCol <- abbrevColumn(m.group(7), slice.tables(dimJ)).toSeq
        // the value must belong to the attribute column's mined domain
        if values(dimJ).get(attrCol).exists(_.contains(value))
        eName <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$eName FROM (" +
          s"SELECT ${eE.fromColumn}, ${eJ.fromColumn}, " +
          s"RANK() OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $agg($numCol) $dir, ${eJ.fromColumn}) AS r " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}, ${eJ.fromColumn}) t " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = t.${eJ.fromColumn} " +
          s"JOIN $dimE d ON d.${eE.toColumn} = t.${eE.fromColumn} " +
          s"WHERE t.r = 1 AND c.$attrCol = ${sqlLit(value)} " +
          s"ORDER BY d.$eName LIMIT $DefaultLimit",
        0.9, "template_entity_argmax_attr")).take(1)
    }

  // "the percentage of students who improved their average score from
  // 2022 to 2023" — a global share over a per-entity two-period trend
  private[gen] val trendShareRe =
    (raw"(?i)\bthe\s+(percentage|percent|share|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+who\s+" +
      raw"(improved|increased|raised|grew|decreased|declined|dropped|lowered)\s+" +
      raw"their\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"from\s+(\d+)\s+to\s+(\d+)\b").r

  /** Trend share: "the percentage of Es who improved their avg V from
    * Y1 to Y2" → both period aggregates as conditional CASE aggregates
    * in ONE grouped pass (the [[trendCompareCandidates]] trick), the
    * share computed over entities present in BOTH periods (an entity
    * absent from either has no trend to state — the NULL filter defines
    * the denominator). Two aggregates total: the grouped pass over the
    * fact and a single-row collapse of the |E| group rows. */
  def trendShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trendShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(4))
      val cmp = m.group(3).toLowerCase match {
        case "decreased" | "declined" | "dropped" | "lowered" => "<"
        case _ => ">"
      }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(5), slice.tables(e.fromTable)).isDefined &&
          slice.tables(e.fromTable).exists(_.toLowerCase.contains("year"))).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(e.fromTable)).toSeq
        yearCol <- slice.tables(e.fromTable).find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT ROUND(100.0 * SUM(CASE WHEN a2 $cmp a1 THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value FROM (" +
          s"SELECT ${e.fromColumn}, " +
          s"$agg(CASE WHEN $yearCol = ${m.group(6)} THEN $numCol END) AS a1, " +
          s"$agg(CASE WHEN $yearCol = ${m.group(7)} THEN $numCol END) AS a2 " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"WHERE a1 IS NOT NULL AND a2 IS NOT NULL",
        0.9, "template_trend_share")).take(1)
    }

  // "courses taken by students in every grade level" — division where
  // the divisor is the attribute domain of the ENTITY dimension
  private[gen] val reverseAttrDivisionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:in|from|of)\s+(?:every|each)\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Reverse attribute division: "Js Ved by Es in every A" where A is
    * an attribute of the E dimension ("courses taken by students in
    * every grade level") — the mirror of [[attrDivisionCandidates]]:
    * group the fact by the J key, count DISTINCT E-attribute values
    * through the broadcast E dimension, compare to the one-row domain
    * cardinality subquery in HAVING. The attribute word
    * abbreviation-resolves with spaces collapsed ("grade level" →
    * grade_level). */
  def reverseAttrDivisionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    reverseAttrDivisionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).trim.replaceAll("\\s+", "_")
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attrCol <- abbrevColumn(attrWord, slice.tables(dimE)).toSeq
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT j.$jName FROM ${eJ.fromTable} f " +
          s"JOIN $dimE e ON e.${eE.toColumn} = f.${eE.fromColumn} " +
          s"JOIN $dimJ j ON j.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY j.${eJ.toColumn}, j.$jName " +
          s"HAVING COUNT(DISTINCT e.$attrCol) = " +
          s"(SELECT COUNT(DISTINCT $attrCol) FROM $dimE) " +
          s"ORDER BY j.$jName LIMIT $DefaultLimit",
        0.9, "template_reverse_attr_division")).take(1)
    }

  // "the two departments with the most different average scores" —
  // pair argmax over the aggregates of a JOINED-attribute grouping
  private[gen] val joinedPairArgmaxRe =
    (raw"(?i)\bthe\s+two\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"(?:different|dissimilar)\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)s?\b").r

  /** Joined pair argmax: "the two As with the most different avg Vs"
    * where A is an attribute of a dimension joined to the fact
    * ("department" → courses.dept) → ONE grouped aggregate through the
    * broadcast dimension (the only corpus pass), then the pair argmax
    * runs over the GROUP ROWS — |attribute domain|² pairs, inherently
    * bounded by the domain (departments, categories), never the corpus.
    * The unordered pair appears once via `a.k < b.k`; ties resolve
    * lexicographically, matching the quadratic definition exactly. */
  def joinedPairArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedPairArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val aWord = {
        val w = m.group(1)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      val vWord = {
        val w = m.group(3)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        e <- fks.filter(e => slice.tables.contains(e.fromTable) &&
          slice.tables.contains(e.toTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined &&
          abbrevColumn(aWord, slice.tables(e.toTable)).isDefined)
        numCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
        attrCol <- abbrevColumn(aWord, slice.tables(e.toTable)).toSeq
      } yield Candidate(
        s"WITH g AS (SELECT c.$attrCol AS k, $agg(f.$numCol) AS av " +
          s"FROM ${e.fromTable} f JOIN ${e.toTable} c " +
          s"ON c.${e.toColumn} = f.${e.fromColumn} GROUP BY c.$attrCol) " +
          s"SELECT a.k AS ${attrCol}_a, b.k AS ${attrCol}_b " +
          s"FROM g a JOIN g b ON a.k < b.k " +
          s"ORDER BY ABS(a.av - b.av) DESC, ${attrCol}_a, ${attrCol}_b LIMIT 1",
        0.9, "template_joined_pair_argmax")).take(1)
    }

  // "students who took more courses than the average student" —
  // per-entity distinct count vs the average of all such counts
  private[gen] val countVsAvgCountRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+[a-z]+\s+" +
      raw"(more|fewer|less)\s+([a-z_][a-z0-9_]*)\s+than\s+the\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Count vs average count: "Es who V more Js than the average E" →
    * the per-entity DISTINCT J count computes once per entity key (one
    * grouped pass over the fact), the average of those |E| counts is a
    * one-row scalar subquery broadcast into the filter, and display
    * names join at survivor size. The comparison entity ("the average
    * student") must name the SAME dimension. */
  def countVsAvgCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    countVsAvgCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).toLowerCase == "more") ">" else "<"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        if uniqueTable(slice, m.group(4)).contains(dimE)
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield {
        val grouped = s"SELECT ${eE.fromColumn}, COUNT(DISTINCT ${eJ.fromColumn}) AS n " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}"
        Candidate(
          s"SELECT d.$nameCol FROM ($grouped) t " +
            s"JOIN $dimE d ON d.${eE.toColumn} = t.${eE.fromColumn} " +
            s"WHERE t.n $op (SELECT AVG(n) FROM ($grouped) m) " +
            s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
          0.9, "template_count_vs_avg_count")
      }).take(1)
    }

  // "for each grade level, the percentage of scores above 80" — a
  // conditional share within groups defined by a JOINED attribute
  private[gen] val joinedCondShareRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s*,?\s+the\s+" +
      raw"(percentage|percent|share|fraction)\s+of\s+([a-z_][a-z0-9_]*)s?\s+" +
      raw"(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** Joined conditional share: "for each A, the percentage of Vs above
    * N" where A is an attribute on a dimension joined to the fact
    * ("grade level" → students.grade_level) → the conditional count and
    * the total share ONE grouped pass through the broadcast dimension
    * join; group keys are the attribute values. The same-table group
    * form belongs to [[conditionalShareCandidates]] — this fires only
    * when the group word resolves on a JOINED dimension, so the two
    * never compete. */
  def joinedCondShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedCondShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      val vWord = {
        val w = m.group(3)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        e <- fks.filter(e => slice.tables.contains(e.fromTable) &&
          slice.tables.contains(e.toTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined &&
          abbrevColumn(attrWord, slice.tables(e.toTable)).isDefined)
        numCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(e.toTable)).toSeq
      } yield Candidate(
        s"SELECT e.$attrCol, ROUND(100.0 * SUM(CASE WHEN f.$numCol $op ${m.group(5)} " +
          s"THEN 1 ELSE 0 END) / COUNT(*), 2) AS agg_value " +
          s"FROM ${e.fromTable} f JOIN ${e.toTable} e " +
          s"ON e.${e.toColumn} = f.${e.fromColumn} " +
          s"GROUP BY e.$attrCol ORDER BY e.$attrCol LIMIT $DefaultLimit",
        0.9, "template_joined_cond_share")).take(1)
    }

  // "the department with the highest ratio of A grades" — argmax over a
  // conditional ratio within joined-attribute groups
  private[gen] val joinedRatioArgmaxRe =
    (raw"\bthe\s+([a-z_][a-z0-9_]*)\s+(?i:with)\s+(?i:the)\s+(?i:(highest|lowest))\s+" +
      raw"(?i:ratio|share|percentage|fraction)\s+(?i:of)\s+" +
      raw"([A-Z][\w'-]*|\d+)\s+([a-z_][a-z0-9_]*)s?\b").r

  /** Joined ratio argmax: "the A with the highest ratio of X Vs" ("the
    * department with the highest ratio of A grades") → conditional
    * count and total in ONE grouped pass through the broadcast
    * dimension join, argmax over the |attribute domain| group rows via
    * TakeOrderedAndProject. The matched value X is CASE-SENSITIVE
    * (capitalized or numeric — "a grades" never reads as a value); the
    * category column strong-resolves on the fact, the attribute
    * abbreviation-resolves on a joined dimension. */
  def joinedRatioArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedRatioArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "highest") "DESC" else "ASC"
      val vWord = {
        val w = m.group(4)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        e <- fks.filter(e => slice.tables.contains(e.fromTable) &&
          slice.tables.contains(e.toTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined &&
          abbrevColumn(m.group(1), slice.tables(e.toTable)).isDefined)
        catCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
        attrCol <- abbrevColumn(m.group(1), slice.tables(e.toTable)).toSeq
      } yield Candidate(
        s"SELECT $attrCol FROM (SELECT c.$attrCol AS $attrCol, " +
          s"CAST(SUM(CASE WHEN f.$catCol = ${sqlLit(m.group(3))} THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*) AS r " +
          s"FROM ${e.fromTable} f JOIN ${e.toTable} c " +
          s"ON c.${e.toColumn} = f.${e.fromColumn} GROUP BY c.$attrCol) t " +
          s"ORDER BY r $dir, $attrCol LIMIT 1",
        0.9, "template_joined_ratio_argmax")).take(1)
    }

  // "students with a score at least as high as every score in Algebra"
  // — a >= ALL / <= ALL comparison against a name-anchored subset
  private[gen] val universalComparisonRe =
    (raw"\b([a-z_][a-z0-9_]*)\s+(?i:with)\s+(?i:a|an)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?i:at\s+least\s+as\s+(high|large|great|big)|at\s+most\s+as\s+(low|small|little))\s+" +
      raw"(?i:as)\s+(?i:every|each|any)\s+([a-z_][a-z0-9_]*)\s+(?i:in)\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)\b").r

  /** Universal comparison: "Es with a V at least as high as every V in
    * NAME" → `V >= ALL (subset)` ⟺ `V >= (SELECT MAX(V) FROM subset)` —
    * the quantifier collapses to a one-row extreme broadcast into the
    * filter, never a per-row ALL comparison. The NAME anchors the
    * second dimension (mined domains first, single candidate
    * otherwise, like [[selfRelativeCandidates]]); both V words must
    * resolve to the same fact column. */
  def universalComparisonCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    universalComparisonRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val high = m.group(3) != null
      val (op, ext) = if (high) (">=", "MAX") else ("<=", "MIN")
      val name = m.group(6).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eName <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- fks.filter(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(2), slice.tables(e.fromTable)).isDefined)
        numCol <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        numCol2 <- strongColumn(m.group(5), slice.tables(eE.fromTable)).toSeq
        if numCol == numCol2
        candidateDims = fks.filter(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          nameishColumn(slice.tables(e.toTable)).isDefined)
        eJ <- {
          val domainHit = candidateDims.filter(e =>
            nameishColumn(slice.tables(e.toTable)).exists(nc =>
              values(e.toTable).get(nc).exists(_.contains(m.group(6)))))
          (if (domainHit.nonEmpty) domainHit.headOption
           else if (candidateDims.size == 1) candidateDims.headOption
           else None).toSeq
        }
        jName <- nameishColumn(slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.$eName FROM ${eE.fromTable} f " +
          s"JOIN $dimE d ON d.${eE.toColumn} = f.${eE.fromColumn} " +
          s"WHERE f.$numCol $op (SELECT $ext(f2.$numCol) FROM ${eE.fromTable} f2 " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = f2.${eJ.fromColumn} " +
          s"WHERE c.$jName = '$name') " +
          s"ORDER BY d.$eName LIMIT $DefaultLimit",
        0.9, "template_universal_comparison")).take(1)
    }

  // "the median age of students who took Biology" — a scalar aggregate
  // over entities selected through a name-anchored join
  private[gen] val filteredScalarAggRe =
    (raw"\bthe\s+(?i:(median|average|avg|mean))\s+([a-z_][a-z0-9_]*)\s+(?i:of)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?i:who|that|which)\s+[a-z]+\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)\b").r

  /** Filtered scalar aggregate: "the median A of Es who Ved NAME" → the
    * qualifying entity keys come from an IN-subquery (fact ⋈ broadcast
    * second dimension, name-filtered — Catalyst plans a semi-join), and
    * the aggregate runs over the surviving DIMENSION rows — entity
    * attribute values never join through the fact, so each qualifying
    * entity counts ONCE regardless of its fact fan-out. The attribute
    * strong-resolves on the entity dimension, the NAME anchors the
    * second dimension by mined domains (single candidate otherwise). */
  def filteredScalarAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    filteredScalarAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = m.group(1).toLowerCase match {
        case "median" => "MEDIAN"
        case _ => "AVG"
      }
      val name = m.group(4).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        attrCol <- strongColumn(m.group(2), slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        candidateDims = fks.filter(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          nameishColumn(slice.tables(e.toTable)).isDefined)
        eJ <- {
          val domainHit = candidateDims.filter(e =>
            nameishColumn(slice.tables(e.toTable)).exists(nc =>
              values(e.toTable).get(nc).exists(_.contains(m.group(4)))))
          (if (domainHit.nonEmpty) domainHit.headOption
           else if (candidateDims.size == 1) candidateDims.headOption
           else None).toSeq
        }
        jName <- nameishColumn(slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT $agg(d.$attrCol) AS agg_value FROM $dimE d " +
          s"WHERE d.${eE.toColumn} IN (SELECT f.${eE.fromColumn} " +
          s"FROM ${eE.fromTable} f JOIN ${eJ.toTable} c " +
          s"ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"WHERE c.$jName = '$name')",
        0.9, "template_filtered_scalar_agg")).take(1)
    }

  // "the course taken by the widest range of grade levels" — argmax by
  // the DISTINCT count of a joined attribute
  private[gen] val joinedDistinctArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+the\s+" +
      raw"(widest|broadest|largest|greatest|smallest|narrowest)\s+" +
      raw"(?:range|variety|number|spread)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Joined distinct argmax: "the J Ved by the widest range of As" →
    * group the fact by the J key, count DISTINCT attribute values
    * through the broadcast entity dimension, top-1 via
    * TakeOrderedAndProject over the group rows. The attribute phrase
    * singularizes its last word and abbreviation-resolves ("grade
    * levels" → grade_level) against a dimension joined to the fact. */
  def joinedDistinctArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedDistinctArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("smallest", "narrowest")(m.group(2).toLowerCase)) "ASC" else "DESC"
      val attrWord = {
        val parts = m.group(3).trim.split("\\s+")
        val last = parts.last
        (parts.init :+ (if (last.endsWith("s")) last.dropRight(1) else last))
          .mkString("_")
      }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- fks.find(e => e.fromTable == eJ.fromTable && e.toTable != dimJ &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(attrWord, slice.tables(e.toTable)).isDefined).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT j.$jName FROM ${eJ.fromTable} f " +
          s"JOIN ${eE.toTable} e ON e.${eE.toColumn} = f.${eE.fromColumn} " +
          s"JOIN $dimJ j ON j.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY j.${eJ.toColumn}, j.$jName " +
          s"ORDER BY COUNT(DISTINCT e.$attrCol) $dir, j.$jName LIMIT 1",
        0.9, "template_joined_distinct_argmax")).take(1)
    }

  // "students whose scores rank in the top 10 percent overall" — a
  // global percentile-rank threshold
  private[gen] val percentileRankRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)s?\s+rank\s+in\s+" +
      raw"the\s+(top|bottom)\s+(\d+(?:\.\d+)?)\s+(?:percent|%)\s+overall\b").r

  /** Percentile-rank filter: "Es whose Vs rank in the top N percent
    * overall" → PERCENT_RANK over the fact ordered by V, keep
    * `pr >= 1 − N/100` ("bottom" keeps `pr <= N/100`), DISTINCT
    * display names at survivor size. The global window mirrors the
    * semantics exactly; at corpus scale the same answer comes from a
    * precomputed quantile CUTOFF (`Sketches.kllQuantiles` /
    * `Profiler.exactPercentiles`) broadcast into a plain filter —
    * trading the global sort for one sketch merge when tie-boundary
    * subtleties allow. */
  def percentileRankCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    percentileRankRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val top = m.group(3).toLowerCase == "top"
      val frac = m.group(4).toDouble / 100.0
      val cond = if (top) s"t.pr >= ${1 - frac}" else s"t.pr <= $frac"
      val word = m.group(2)
      val vWord = if (word.endsWith("s")) word.dropRight(1) else word
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(vWord, slice.tables(e.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.$nameCol FROM (SELECT ${e.fromColumn}, " +
          s"PERCENT_RANK() OVER (ORDER BY $numCol) AS pr FROM ${e.fromTable}) t " +
          s"JOIN $dimE d ON d.${e.toColumn} = t.${e.fromColumn} " +
          s"WHERE $cond ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_percentile_rank")).take(1)
    }

  // "for each course, the gap between its average score and the
  // department average" — per-group deviation from its PARENT group
  private[gen] val nestedGroupDeviationRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*)\s*,?\s+the\s+" +
      raw"(?:gap|difference)\s+between\s+its\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+and\s+the\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:average|avg|mean|total|sum)\b").r

  /** Nested group deviation: "for each J, the gap between its avg V
    * and the A average" where A is a coarser attribute on J's own
    * dimension ("department" groups courses) → TWO aggregates over the
    * same scan (fine: (J, A); coarse: A — the parent level aggregates
    * ALL fact rows of the parent, not an average of averages), joined
    * on the parent key: |J| × |A| group rows, the fact scans twice at
    * worst (Catalyst reuses the exchange when it can), never a window
    * over the corpus. */
  def nestedGroupDeviationCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nestedGroupDeviationRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
        attrCol <- abbrevColumn(m.group(4), slice.tables(dimJ)).toSeq
        if attrCol != jName
        eJ <- fks.filter(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(3), slice.tables(e.fromTable)).isDefined)
        numCol <- strongColumn(m.group(3), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $jName, ROUND(ca - da, 2) AS agg_value FROM (" +
          s"SELECT c.$jName AS $jName, c.$attrCol AS attr_k, $agg(f.$numCol) AS ca " +
          s"FROM ${eJ.fromTable} f JOIN $dimJ c ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY c.$jName, c.$attrCol) x " +
          s"JOIN (SELECT c.$attrCol AS attr_k, $agg(f.$numCol) AS da " +
          s"FROM ${eJ.fromTable} f JOIN $dimJ c ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol) y USING (attr_k) " +
          s"ORDER BY $jName LIMIT $DefaultLimit",
        0.9, "template_nested_group_deviation")).take(1)
    }

  // "students who took courses in more departments than Ada Adams" —
  // per-entity distinct joined-attribute count vs a NAMED example's
  private[gen] val countVsExampleRe =
    (raw"\b([a-z_][a-z0-9_]*)\s+(?i:who|that|which)\s+[a-z]+\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?i:in)\s+(?i:(more|fewer))\s+" +
      raw"([a-z_][a-z0-9_]*)s\s+(?i:than)\s+" +
      raw"([A-Z][\w'-]*(?:\s+[A-Z][\w'-]*)*)\b").r

  /** Count vs example: "Es who Ved Js in more As than NAME" → each
    * entity's DISTINCT count of the attribute A (reached through the
    * fact's J join) compared to the NAMED entity's own count — the
    * example's count is a one-row scalar subquery broadcast into the
    * filter (name-sharing rows union, as in
    * [[divisionByExampleCandidates]]); the grouped pass over the fact
    * runs once. */
  def countVsExampleCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    countVsExampleRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(3).toLowerCase == "more") ">" else "<"
      val name = m.group(5).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attrCol <- abbrevColumn(m.group(4), slice.tables(dimJ)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM (SELECT f.${eE.fromColumn} AS k, " +
          s"COUNT(DISTINCT c.$attrCol) AS n FROM ${eE.fromTable} f " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY f.${eE.fromColumn}) t " +
          s"JOIN $dimE d ON d.${eE.toColumn} = t.k " +
          s"WHERE t.n $op (SELECT COUNT(DISTINCT c.$attrCol) " +
          s"FROM ${eE.fromTable} f JOIN $dimJ c ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"JOIN $dimE a ON a.${eE.toColumn} = f.${eE.fromColumn} " +
          s"WHERE a.$nameCol = '$name') " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_count_vs_example")).take(1)
    }
}
