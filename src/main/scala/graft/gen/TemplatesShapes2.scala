package graft.gen

import graft.core.{FkEdge, SchemaSlice}

/**
 * Eval-ladder question shapes, waves 19-36: universal/rank/period
 * families, correlations, streaks, coverage and concentration shapes.
 *
 * One slice of the deterministic template library (split from the
 * single Templates object purely for source organization — behavior
 * and the candidate dispatch order live in [[Templates.candidates]]).
 * Shared helpers (column linking, literals, FK path resolution) come
 * through the self-type.
 */
private[gen] trait TemplatesShapes2 { this: Templates.type =>
  // "the grade level whose students have the widest age range" — a
  // purely dimension-side grouped range argmax
  private[gen] val dimRangeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+have\s+the\s+" +
      raw"(widest|largest|greatest|biggest|narrowest|smallest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+range\b").r

  /** Dimension range argmax: "the A whose Es have the widest B range" —
    * both the group attribute and the measured attribute live on the
    * SAME dimension table, so the whole query is one grouped MAX−MIN
    * pass over the dimension (no fact scan at all) with a
    * TakeOrderedAndProject top-1. */
  def dimRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    dimRangeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("narrowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(dimE)).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(dimE)).toSeq
        if numCol != attrCol
      } yield Candidate(
        s"SELECT $attrCol FROM $dimE GROUP BY $attrCol " +
          s"ORDER BY MAX($numCol) - MIN($numCol) $dir, $attrCol LIMIT 1",
        0.9, "template_dim_range_argmax")).take(1)
    }

  // "courses where every student scored above their own average" — a
  // universal quantifier where each row compares against the ROW
  // ENTITY's aggregate, grouped by the OTHER dimension
  private[gen] val universalOtherRelativeRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+(?:every|each)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+([a-z]+)\s+(above|over|below|under)\s+" +
      raw"their\s+own\s+(?:average|avg|mean)\b").r

  /** Universal other-relative: "Js where every E Ved above their own
    * average" → per-ENTITY averages from one grouped pass (broadcast
    * back on the entity key), each fact row compares against its OWN
    * entity's bar, and a grouped MIN over the indicator — grouped by
    * the J key this time — keeps the Js where EVERY row clears it. The
    * dual of [[universalSelfRelativeCandidates]]: same two-aggregate
    * plan, quantifier and comparison group swapped. */
  def universalOtherRelativeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalOtherRelativeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val verb = m.group(3).toLowerCase
      val stems = Seq(verb, verb.stripSuffix("d"), verb.stripSuffix("ed")).distinct
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        numCol <- stems.flatMap(s => strongColumn(s, slice.tables(eJ.fromTable))).headOption.toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT c.$jName FROM ${eJ.fromTable} s " +
          s"JOIN (SELECT ${eE.fromColumn} AS k, AVG($numCol) AS a " +
          s"FROM ${eJ.fromTable} GROUP BY ${eE.fromColumn}) m ON m.k = s.${eE.fromColumn} " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.${eJ.toColumn}, c.$jName " +
          s"HAVING MIN(CASE WHEN s.$numCol $op m.a THEN 1 ELSE 0 END) = 1 " +
          s"ORDER BY c.$jName LIMIT $DefaultLimit",
        0.9, "template_universal_other_relative")).take(1)
    }

  // "the average gap between a student's best and worst scores" —
  // AVG over a per-entity MAX−MIN: two chained aggregates
  private[gen] val avgOfRangeRe =
    (raw"(?i)\bthe\s+(average|avg|mean)\s+(gap|difference|spread|range)\s+between\s+" +
      raw"(?:a|an|each|every)\s+([a-z_][a-z0-9_]*)(?:'s)?\s+" +
      raw"(?:best|highest|top|largest|maximum)\s+and\s+" +
      raw"(?:worst|lowest|bottom|smallest|minimum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Average-of-range (ref `app/models/inference.py:151-213` reaches
    * this shape only through LLM candidates): "the average D between an
    * E's best and worst Vs" → inner grouped MAX/MIN on the entity key
    * (partial+final — the only fact-sized pass, one shuffle on the fk),
    * outer AVG collapsing |entities| rows to one. ROUND(…, 2) fixes the
    * float so the answer is presentation-stable. */
  def avgOfRangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgOfRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(4), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(mx - mn), 2) AS agg_value FROM " +
          s"(SELECT MAX($numCol) AS mx, MIN($numCol) AS mn " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t",
        0.9, "template_avg_of_range")).take(1)
    }

  // "departments where every course has an average score above 70" — a
  // universal quantifier over PER-GROUP-MEMBER aggregates: the group is
  // an attribute of the member's own dimension
  private[gen] val universalGroupAggRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+(?:every|each)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+has\s+an?\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** Universal group aggregate: "As where every J has an avg V above N"
    * → per-J aggregates from ONE fact-sized grouped pass keyed on
    * (A-attribute, J-key) — the dimension joins broadcast, so the single
    * corpus shuffle is that aggregate — then a second, |J|-row aggregate
    * per A with a MIN-indicator encoding the ∀. The quantified entity's
    * group attribute lives on its OWN dimension (dept on courses),
    * distinguishing this from [[universalOtherRelativeCandidates]]
    * where the bar is the row entity's own average. */
  def universalGroupAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalGroupAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(3))
      val op = if (Set("above", "over")(m.group(5).toLowerCase)) ">" else "<"
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        groupCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(4), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $groupCol FROM (" +
          s"SELECT c.$groupCol AS $groupCol, c.${eJ.toColumn}, " +
          s"$agg(s.$numCol) AS a FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$groupCol, c.${eJ.toColumn}) t " +
          s"GROUP BY $groupCol " +
          s"HAVING MIN(CASE WHEN a $op ${m.group(6)} THEN 1 ELSE 0 END) = 1 " +
          s"ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_universal_group_agg")).take(1)
    }

  // "the student who improved the most between 2022 and 2023" — entity
  // trend argmax: two-period conditional aggregates per entity, top-1
  // by delta. No measure word appears, so the measure resolves from the
  // fact's schema by elimination (see scaladoc).
  private[gen] val trendArgmaxEntityRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+(?:who|that|which)\s+" +
      raw"(improved|increased|grew|gained|declined|decreased|dropped|fell|worsened)\s+" +
      raw"the\s+most\s+between\s+(\d{4})\s+and\s+(\d{4})\b").r

  /** Entity trend argmax (ref `app/models/inference.py:151-213` LLM
    * path): "the E who improved the most between Y1 and Y2" → one
    * grouped pass over the fact with two conditional aggregates
    * (AVG CASE per period — partial+final, one shuffle on the entity
    * fk), delta ranked by TakeOrderedAndProject top-1 over |entities|
    * rows. The question names no measure, so it resolves by
    * elimination: fact columns minus key-ish names (`*_id`/`id`/
    * `*key`), minus the year column, minus columns with a mined STRING
    * value domain (categoricals like grade letters) — exactly one
    * survivor or no candidate fires, the no-fabrication bar applied to
    * an implicit column. Rising verbs rank the later-minus-earlier
    * delta DESC; falling verbs ASC; entities absent from either period
    * (NULL delta) are excluded — "improved" presumes both readings. */
  def trendArgmaxEntityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    trendArgmaxEntityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val rising = Set("improved", "increased", "grew", "gained")(m.group(2).toLowerCase)
      val dir = if (rising) "DESC" else "ASC"
      val (y1, y2) = (m.group(3), m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(e.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(e.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, " +
          s"AVG(CASE WHEN $periodCol = $y2 THEN $measure END) - " +
          s"AVG(CASE WHEN $periodCol = $y1 THEN $measure END) AS d " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"WHERE d IS NOT NULL ORDER BY d $dir, ${e.fromColumn} LIMIT 1",
        0.9, "template_trend_argmax_entity")).take(1)
    }

  // "the median number of courses per student" — the median analogue of
  // avgCountPerRe (kept separate: MEDIAN is a different outer aggregate
  // with its own intent label)
  private[gen] val medianCountPerRe =
    (raw"(?i)\bmedian\s+(?:number|count)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:per|for\s+each|by)\s+([a-z_][a-z0-9_]*)\b").r

  /** Median count per entity: "the median number of Js per E" → inner
    * grouped COUNT(DISTINCT fk-to-J) per entity key (partial+final, the
    * one fact-sized shuffle), outer MEDIAN over |entities| rows —
    * Spark's `median` is an exact sort-based aggregate, fine at group
    * cardinality; a corpus-sized median would use the KLL path
    * instead. */
  def medianCountPerCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    medianCountPerRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimJ != dimE
        (eJ, eE) <- bridges(fks, dimJ, dimE).take(1)
      } yield Candidate(
        s"SELECT MEDIAN(c) AS agg_value FROM " +
          s"(SELECT COUNT(DISTINCT ${eJ.fromColumn}) AS c FROM ${eJ.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t",
        0.9, "template_median_count_per")).take(1)
    }

  // "students ranked in the top 3 of every course they took" — a
  // universal quantifier over the entity's WITHIN-GROUP RANK
  private[gen] val universalRankRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(?:ranked|ranking)\s+in\s+the\s+top\s+(\d+)\s+" +
      raw"(?:of|in)\s+(?:every|each)\s+([a-z_][a-z0-9_]*)\b").r

  /** Universal rank: "Es ranked in the top N of every J they took" →
    * RANK over the fact partitioned by the J key ordered by the
    * measure (the window input is the fact, but partitions are
    * J-sized — Spark sorts within hash-partitioned groups, no global
    * sort), then one grouped MAX(rank) per entity with the ∀ encoded
    * as MAX <= N. The measure resolves by elimination exactly like
    * [[trendArgmaxEntityCandidates]] — the question names no measure
    * word. Display names join at survivor size. */
  def universalRankCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    universalRankRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _.toLowerCase.contains("year"))
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM (" +
          s"SELECT ${eE.fromColumn} FROM (" +
          s"SELECT ${eE.fromColumn}, RANK() OVER (PARTITION BY ${eJ.fromColumn} " +
          s"ORDER BY $measure DESC) AS r FROM ${eE.fromTable}) x " +
          s"GROUP BY ${eE.fromColumn} HAVING MAX(r) <= ${m.group(2)}) m " +
          s"JOIN $dimE d ON d.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_universal_rank")).take(1)
    }

  // "the dept whose best course by average score is the weakest" — a
  // minimax argmax: per-member aggregates, the group's extreme member,
  // ranked across groups in the opposite direction
  private[gen] val minimaxArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+(best|worst|strongest|weakest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+the\s+(weakest|lowest|worst|strongest|highest|best)\b").r

  /** Minimax argmax: "the A whose best J by avg V is the weakest" →
    * per-J aggregates (one fact-sized grouped pass, dims broadcast),
    * MAX (best) or MIN (worst) of those per A-group — |J| rows in, |A|
    * rows out — then TakeOrderedAndProject top-1 in the outer
    * direction. The inner word picks the per-group extreme, the outer
    * word ranks the extremes; the A attribute lives on J's own
    * dimension (the [[universalGroupAggCandidates]] join shape with
    * the ∀ swapped for a minimax). */
  def minimaxArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    minimaxArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(4))
      val innerBest = Set("best", "strongest")(m.group(2).toLowerCase)
      val inner = if (innerBest) "MAX" else "MIN"
      val outerDir =
        if (Set("weakest", "lowest", "worst")(m.group(6).toLowerCase)) "ASC" else "DESC"
      (for {
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        groupCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(5), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $groupCol FROM (" +
          s"SELECT c.$groupCol AS $groupCol, $inner(a) AS ext FROM (" +
          s"SELECT ${eJ.fromColumn} AS jk, $agg($numCol) AS a " +
          s"FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn}) s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.jk " +
          s"GROUP BY c.$groupCol) t " +
          s"ORDER BY ext $outerDir, $groupCol LIMIT 1",
        0.9, "template_minimax_argmax")).take(1)
    }

  // "the correlation between student age and score" — Pearson CORR of
  // two measures, possibly living on different tables of one FK edge
  private[gen] val correlationRe =
    (raw"(?i)\bthe\s+correlation\s+between\s+" +
      raw"(?:([a-z_][a-z0-9_]*)\s+)?([a-z_][a-z0-9_]*)\s+and\s+([a-z_][a-z0-9_]*)\b").r

  /** Correlation: "the correlation between [E] A and B" → one CORR
    * aggregate. Same-table measures need no join; a dimension-side
    * measure (the optional entity qualifier resolves it: "student age"
    * → students.age) joins through the fact's fk — one broadcast dim
    * join, one fact-sized aggregate pass, a single output row.
    * ROUND(…, 4) for presentation stability. */
  def correlationCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    correlationRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (w1, w2) = (m.group(2), m.group(3))
      val sameTable = for {
        t <- slice.tables.keys.toSeq.sorted
        a <- strongColumn(w1, slice.tables(t)).toSeq
        b <- strongColumn(w2, slice.tables(t)).toSeq
        if a != b
      } yield Candidate(
        s"SELECT ROUND(CORR($a, $b), 4) AS agg_value FROM $t",
        0.9, "template_correlation")
      val joined = for {
        entityWord <- Option(m.group(1)).toSeq
        dimE <- uniqueTable(slice, entityWord).toSeq
        a <- strongColumn(w1, slice.tables(dimE)).toSeq
        e <- edgesInto(slice, fks, dimE)
        b <- strongColumn(w2, slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CORR(d.$a, f.$b), 4) AS agg_value " +
          s"FROM ${e.fromTable} f JOIN $dimE d ON d.${e.toColumn} = f.${e.fromColumn}",
        0.9, "template_correlation")
      (sameTable ++ joined).take(1)
    }

  // "courses whose score spread is wider than the average course's
  // spread" — per-group dispersion vs the average group dispersion
  private[gen] val stddevVsAvgRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(spread|variability|dispersion)\s+is\s+" +
      raw"(wider|broader|larger|greater|narrower|smaller|tighter)\s+than\s+the\s+" +
      raw"average\s+([a-z_][a-z0-9_]*)(?:'s)?\s+\3\b").r

  /** Spread vs average spread: "Js whose V spread is wider than the
    * average J's spread" → per-group STDDEV in one grouped pass, the
    * bar a broadcast scalar subquery (AVG over the |J| group STDDEVs —
    * group rows, never the corpus), threshold in HAVING. Both J words
    * must name the same dimension; the answer key is the fact's fk
    * (group identity), matching the grouped pass's key. */
  def stddevVsAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    stddevVsAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("narrower", "smaller", "tighter")(m.group(4).toLowerCase)) "<" else ">"
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        if uniqueTable(slice, m.group(5)).contains(dimJ)
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(2), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(2), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${eJ.fromColumn} FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn} " +
          s"HAVING STDDEV($numCol) $op (SELECT AVG(s) FROM " +
          s"(SELECT STDDEV($numCol) AS s FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) t) " +
          s"ORDER BY ${eJ.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_stddev_vs_avg")).take(1)
    }

  // "for each dept, the share of its scores above the dept average" —
  // per-group share against the group's OWN aggregate bar
  private[gen] val groupSelfBeatShareRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*)\s*,?\s+the\s+" +
      raw"(share|percentage|percent|fraction)\s+of\s+its\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(above|over|below|under)\s+the\s+\1\s+(?:average|avg|mean)\b").r

  /** Group self-beat share: "for each G, the share of its Vs above the
    * G average" → per-G averages from ONE grouped pass through the
    * broadcast dimension (|G| rows, broadcast back on the attribute
    * key), each fact row compares to its own group's bar, and the
    * share is a second grouped conditional aggregate — a
    * join-then-aggregate plan, no corpus-wide WindowExec (same shape
    * as [[universalSelfRelativeCandidates]], the ∀ swapped for a
    * percentage). The G attribute resolves on a JOINED dimension of
    * the fact carrying the measure. */
  def groupSelfBeatShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupSelfBeatShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val measureWords = Seq(m.group(3), m.group(3).stripSuffix("s")).distinct
      (for {
        dimJ <- slice.tables.keys.toSeq.sorted
        groupCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        numCol <- measureWords.flatMap(w =>
          strongColumn(w, slice.tables(eJ.fromTable))).headOption.toSeq
      } yield Candidate(
        s"SELECT c.$groupCol AS $groupCol, " +
          s"ROUND(100.0 * SUM(CASE WHEN s.$numCol $op g.a THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"JOIN (SELECT c2.$groupCol AS gk, AVG(s2.$numCol) AS a " +
          s"FROM ${eJ.fromTable} s2 " +
          s"JOIN $dimJ c2 ON c2.${eJ.toColumn} = s2.${eJ.fromColumn} " +
          s"GROUP BY c2.$groupCol) g ON g.gk = c.$groupCol " +
          s"GROUP BY c.$groupCol " +
          s"ORDER BY c.$groupCol LIMIT $DefaultLimit",
        0.9, "template_group_self_beat_share")).take(1)
    }

  // "the top 2 depts by number of students taught" — top-N group
  // attributes ranked by a joined DISTINCT entity count
  private[gen] val joinedDistinctTopnRe =
    (raw"(?i)\b(top|bottom)\s+(\d+)\s+([a-z_][a-z0-9_]*)\s+by\s+" +
      raw"(?:the\s+)?number\s+of\s+([a-z_][a-z0-9_]*)\b").r

  /** Joined distinct top-N: "top N As by number of Es" → the fact joins
    * its A-dimension (broadcast), one grouped COUNT(DISTINCT fk-to-E)
    * on the attribute key, TakeOrderedAndProject cuts N — never a
    * global sort. The attribute word resolves on a dimension the fact
    * references; the counted word on ANOTHER dimension of the same
    * fact (distinct fk), so "number of" counts entities, not fact
    * rows — the row-count reading belongs to the popularity/most
    * templates. */
  def joinedDistinctTopnCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedDistinctTopnRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(1).equalsIgnoreCase("top")) "DESC" else "ASC"
      (for {
        dimA <- slice.tables.keys.toSeq.sorted
        groupCol <- abbrevColumn(m.group(3), slice.tables(dimA)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimA
        (eA, eE) <- bridges(fks, dimA, dimE)
      } yield Candidate(
        s"SELECT c.$groupCol, COUNT(DISTINCT s.${eE.fromColumn}) AS agg_value " +
          s"FROM ${eA.fromTable} s " +
          s"JOIN $dimA c ON c.${eA.toColumn} = s.${eA.fromColumn} " +
          s"GROUP BY c.$groupCol " +
          s"ORDER BY agg_value $dir, c.$groupCol LIMIT ${m.group(2)}",
        0.9, "template_joined_distinct_topn")).take(1)
    }

  // "the year in which the science dept had its highest average score"
  // — argmax over periods WITHIN a value-filtered group
  private[gen] val filteredPeriodArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+in\s+which\s+the\s+" +
      raw"([a-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\s+had\s+its\s+" +
      raw"(highest|best|largest|greatest|lowest|worst|smallest)\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Filtered period argmax: "the T in which the X A had its highest
    * avg V" → the value X resolves through MINED VALUE DOMAINS against
    * the attribute column A (the no-fabrication bar on data values,
    * the [[divisionCandidates]] rule), the filter pushes to the
    * broadcast dimension scan BEFORE its join, one grouped aggregate
    * per period over the filtered fact, TakeOrderedAndProject top-1. */
  def filteredPeriodArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    filteredPeriodArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("lowest", "worst", "smallest")(m.group(4).toLowerCase)) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(5))
      (for {
        dimJ <- slice.tables.keys.toSeq.sorted
        attrCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
        if values(dimJ).get(attrCol).exists(_.contains(m.group(2)))
        eJ <- edgesInto(slice, fks, dimJ)
        periodCol <- strongColumn(m.group(1), slice.tables(eJ.fromTable)).toSeq
        numCol <- strongColumn(m.group(6), slice.tables(eJ.fromTable)).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT $periodCol FROM (" +
          s"SELECT s.$periodCol AS $periodCol, $agg(s.$numCol) AS a " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"WHERE c.$attrCol = ${sqlLit(m.group(2))} " +
          s"GROUP BY s.$periodCol) t " +
          s"ORDER BY a $dir, $periodCol LIMIT 1",
        0.9, "template_filtered_period_argmax")).take(1)
    }

  // "the share of all scores contributed by the top 3 courses" —
  // concentration: the fraction of fact rows held by the k largest
  // groups
  private[gen] val topkShareRe =
    (raw"(?i)\bthe\s+(share|percentage|percent|fraction)\s+of\s+all\s+" +
      raw"([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+the\s+top\s+(\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Top-k concentration share: "the share of all Fs contributed by
    * the top N Js" → one grouped count on the fact's fk (partial+
    * final), RANK over the |J| GROUP ROWS ONLY (never the fact — the
    * window input is group-cardinality-sized), one summary row. The
    * counted word must name the fact table itself; the ranked word
    * the fk's dimension. */
  def topkShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    topkShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(2)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        eJ <- fks.find(e => e.fromTable == fact && e.toTable == dimJ).toSeq
      } yield Candidate(
        s"SELECT ROUND(100.0 * SUM(CASE WHEN rnk <= ${m.group(3)} THEN cnt ELSE 0 END) " +
          s"/ SUM(cnt), 2) AS agg_value FROM (" +
          s"SELECT ${eJ.fromColumn}, COUNT(*) AS cnt, " +
          s"RANK() OVER (ORDER BY COUNT(*) DESC) AS rnk " +
          s"FROM $fact GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_topk_share")).take(1)
    }

  // "students whose worst score came in a math course" — which GROUP
  // holds each entity's extreme row, filtered to a named group value
  private[gen] val argminAttributionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(worst|lowest|best|highest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:came|was|happened|occurred)\s+in\s+an?\s+" +
      raw"([a-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Extreme-row attribution: "Es whose worst V came in a X J" → RANK
    * per entity over the fact (partitions are entity-sized; ties keep
    * every co-extreme row, the only reading under which "came in"
    * is well-defined for ties), rank-1 rows join the J dimension
    * (broadcast) and filter on the MINED-DOMAIN value X — the
    * no-fabrication bar on data values. DISTINCT display names because
    * a tie can attribute one entity twice. */
  def argminAttributionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    argminAttributionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("worst", "lowest")(m.group(2).toLowerCase)) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(5)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        numCol <- strongColumn(m.group(3), slice.tables(eE.fromTable)).toSeq
        attrCol <- slice.tables(dimJ).find(c =>
          values(dimJ).get(c).exists(_.contains(m.group(4)))).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT DISTINCT d.$nameCol FROM (" +
          s"SELECT ${eE.fromColumn}, ${eJ.fromColumn}, " +
          s"RANK() OVER (PARTITION BY ${eE.fromColumn} ORDER BY $numCol $dir) AS r " +
          s"FROM ${eE.fromTable}) x " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = x.${eJ.fromColumn} " +
          s"JOIN $dimE d ON d.${eE.toColumn} = x.${eE.fromColumn} " +
          s"WHERE x.r = 1 AND c.$attrCol = ${sqlLit(m.group(4))} " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_argmin_attribution")).take(1)
    }

  // "the number of years in which the average score increased" — count
  // of consecutive-period steps moving one direction
  private[gen] val countIncreasingRe =
    (raw"(?i)\bthe\s+(?:number|count)\s+of\s+([a-z_][a-z0-9_]*)\s+in\s+which\s+the\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(increased|rose|grew|improved|went\s+up|decreased|declined|fell|dropped|went\s+down)\b").r

  /** Count of moving periods: "the number of Ts in which the avg V
    * increased" → per-period aggregates first (the one fact-sized
    * pass), LAG over the |periods| GROUP ROWS, one summary count. */
  def countIncreasingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    countIncreasingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(2))
      val up = Set("increased", "rose", "grew", "improved")(
        m.group(4).toLowerCase) || m.group(4).toLowerCase.startsWith("went up")
      val op = if (up) ">" else "<"
      (for {
        fact <- slice.tables.keys.toSeq.sorted
          .find(t => strongColumn(m.group(1), slice.tables(t)).isDefined &&
            strongColumn(m.group(3), slice.tables(t)).isDefined).toSeq
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        numCol <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT SUM(CASE WHEN a $op p THEN 1 ELSE 0 END) AS agg_value FROM (" +
          s"SELECT $periodCol, $agg($numCol) AS a, " +
          s"LAG($agg($numCol)) OVER (ORDER BY $periodCol) AS p " +
          s"FROM $fact GROUP BY $periodCol) t",
        0.9, "template_count_increasing_periods")).take(1)
    }

  // "courses taken by more grade 9 students than grade 12 students" —
  // per-group comparison of two attribute-cohort counts
  private[gen] val comparativeCohortRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+(more|fewer|less)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(\d+)\s+([a-z_][a-z0-9_]*)\s+than\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Comparative cohort count: "Js Ved by more A-N Es than A-M Es" →
    * both cohort counts as CASE conditionals in ONE grouped pass
    * through the two broadcast dimensions, compared in HAVING. The
    * attribute word prefix-resolves on the entity dimension ("grade" →
    * grade_level, the filteredPopularity rule) and must be the same on
    * both sides of "than". */
  def comparativeCohortCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    comparativeCohortRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).equalsIgnoreCase("more")) ">" else "<"
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(5)).toSeq
        if dimE != dimJ && uniqueTable(slice, m.group(8)).contains(dimE) &&
          m.group(3).equalsIgnoreCase(m.group(6))
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        attrCol <- prefixColumn(m.group(3), slice.tables(dimE)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT c.$jName FROM ${eJ.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.${eJ.toColumn}, c.$jName " +
          s"HAVING SUM(CASE WHEN st.$attrCol = ${m.group(4)} THEN 1 ELSE 0 END) $op " +
          s"SUM(CASE WHEN st.$attrCol = ${m.group(7)} THEN 1 ELSE 0 END) " +
          s"ORDER BY c.$jName LIMIT $DefaultLimit",
        0.9, "template_comparative_cohort")).take(1)
    }

  // "which dept improved its average score the most between 2022 and
  // 2023" — the attribute-group variant of the entity trend argmax
  private[gen] val trendArgmaxAttrRe =
    (raw"(?i)\bwhich\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(improved|increased|grew|gained|declined|decreased|dropped|fell|worsened)\s+" +
      raw"its\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"the\s+most\s+between\s+(\d{4})\s+and\s+(\d{4})\b").r

  /** Attribute-group trend argmax: "which A improved its avg V the most
    * between Y1 and Y2" → [[trendArgmaxEntityCandidates]] with the
    * grouping key swapped from the fact's fk to a JOINED dimension
    * attribute (dept on courses): one grouped pass with two conditional
    * aggregates through the broadcast dimension, |attribute-domain|
    * rows, top-1 by delta. The measure is explicit here (unlike the
    * entity form), so no elimination is needed. */
  def trendArgmaxAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trendArgmaxAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val rising = Set("improved", "increased", "grew", "gained")(m.group(2).toLowerCase)
      val dir = if (rising) "DESC" else "ASC"
      val agg = sumOrAvg(m.group(3))
      val (y1, y2) = (m.group(5), m.group(6))
      (for {
        dimJ <- slice.tables.keys.toSeq.sorted
        groupCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        numCol <- strongColumn(m.group(4), slice.tables(eJ.fromTable)).toSeq
        periodCol <- slice.tables(eJ.fromTable).find(_.toLowerCase.contains("year")).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT $groupCol FROM (" +
          s"SELECT c.$groupCol AS $groupCol, " +
          s"$agg(CASE WHEN s.$periodCol = $y2 THEN s.$numCol END) - " +
          s"$agg(CASE WHEN s.$periodCol = $y1 THEN s.$numCol END) AS d " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$groupCol) t " +
          s"WHERE d IS NOT NULL ORDER BY d $dir, $groupCol LIMIT 1",
        0.9, "template_trend_argmax_attr")).take(1)
    }

  // "the minimum number of courses any student took" — MIN/MAX over
  // per-entity distinct counts (the extreme siblings of median/avg
  // count-per)
  private[gen] val extremeCountPerRe =
    (raw"(?i)\bthe\s+(minimum|min|fewest|maximum|max|most)\s+(?:number|count)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:any|a|an|per|each|one)\s+([a-z_][a-z0-9_]*)\b").r

  /** Extreme count per entity: "the minimum number of Js any E took" →
    * inner grouped COUNT(DISTINCT fk-to-J) per entity key, outer
    * MIN/MAX over |entities| rows — the [[medianCountPerCandidates]]
    * plan with the outer aggregate swapped. */
  def extremeCountPerCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    extremeCountPerRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val outer =
        if (Set("minimum", "min", "fewest")(m.group(1).toLowerCase)) "MIN" else "MAX"
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        if dimJ != dimE
        (eJ, eE) <- bridges(fks, dimJ, dimE).take(1)
      } yield Candidate(
        s"SELECT $outer(c) AS agg_value FROM " +
          s"(SELECT COUNT(DISTINCT ${eJ.fromColumn}) AS c FROM ${eJ.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t",
        0.9, "template_extreme_count_per")).take(1)
    }

  // "the percentage of students whose best score is above 95" — the
  // share of entities whose per-entity EXTREME clears a threshold
  private[gen] val shareEntityExtremeRe =
    (raw"(?i)\bthe\s+(percentage|percent|share|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+whose\s+(best|highest|top|worst|lowest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** Share of entities by extreme: "the share of Es whose best V is
    * above N" → per-entity MAX/MIN in one grouped pass (the only
    * fact-sized shuffle), one summary share row over |entities|. The
    * denominator is entities WITH fact rows — the only population for
    * which "best V" is defined. */
  def shareEntityExtremeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    shareEntityExtremeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val inner = if (Set("worst", "lowest")(m.group(3).toLowerCase)) "MIN" else "MAX"
      val op = if (Set("above", "over")(m.group(5).toLowerCase)) ">" else "<"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(4), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(100.0 * SUM(CASE WHEN mx $op ${m.group(6)} THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value FROM " +
          s"(SELECT $inner($numCol) AS mx FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn}) t",
        0.9, "template_share_entity_extreme")).take(1)
    }

  // "rank the depts by their share of A grades" — the full ranked
  // listing of [[joinedRatioArgmaxCandidates]]'s top-1 shape
  private[gen] val rankedGroupShareRe =
    (raw"(?i)\brank\s+the\s+([a-z_][a-z0-9_]*)\s+by\s+their\s+" +
      raw"(share|percentage|percent|ratio|fraction)\s+of\s+" +
      raw"([A-Za-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Ranked group share: "rank the As by their share of X Vs" → the
    * conditional count and the total in ONE grouped pass through the
    * broadcast dimension, every group returned ordered by the share —
    * the ranked-listing form of the ratio argmax (which keeps only the
    * top-1). Case-sensitive category value, attribute
    * strong-or-abbreviation on the joined dimension. */
  def rankedGroupShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    rankedGroupShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
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
        s"SELECT c.$attrCol, " +
          s"ROUND(100.0 * SUM(CASE WHEN s.$catCol = ${sqlLit(m.group(3))} " +
          s"THEN 1 ELSE 0 END) / COUNT(*), 2) AS agg_value " +
          s"FROM ${e.fromTable} s JOIN ${e.toTable} c " +
          s"ON c.${e.toColumn} = s.${e.fromColumn} GROUP BY c.$attrCol " +
          s"ORDER BY agg_value DESC, c.$attrCol LIMIT $DefaultLimit",
        0.9, "template_ranked_group_share")).take(1)
    }

  // "the difference between the best and worst course by average score"
  // — the range OVER group aggregates (one summary row)
  private[gen] val rangeOfGroupAggsRe =
    (raw"(?i)\bthe\s+(difference|gap|spread)\s+between\s+the\s+" +
      raw"(best|highest|top|largest)\s+and\s+(worst|lowest|bottom|smallest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Range of group aggregates: "the difference between the best and
    * worst J by avg V" → per-J aggregates in one grouped pass (the
    * fact-sized shuffle), MAX−MIN collapsing the |J| group rows to one.
    * The dual of [[avgOfRangeCandidates]] (average of ranges vs range
    * of aggregates). */
  def rangeOfGroupAggsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    rangeOfGroupAggsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(5))
      (for {
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(6), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(6), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(MAX(a) - MIN(a), 2) AS agg_value FROM " +
          s"(SELECT $agg($numCol) AS a FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_range_of_group_aggs")).take(1)
    }

  // "students older than the average student in their grade level" —
  // dimension-side self-relative comparison (no fact at all)
  private[gen] val selfRelativeDimRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+(older|younger)\s+than\s+the\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+their\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Dimension self-relative: "Es older than the average E in their A"
    * → per-A averages from one grouped pass over the DIMENSION (no
    * fact scan at all — the whole query is dimension-sized), joined
    * back on the attribute key, row-vs-group-bar filter. The adjective
    * resolves its measure ("older" → age); both entity words must name
    * the same dimension; the attribute phrase underscores like
    * [[dimRangeArgmaxCandidates]]. */
  def selfRelativeDimCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    selfRelativeDimRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).equalsIgnoreCase("older")) ">" else "<"
      val attrWord = m.group(4).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        if uniqueTable(slice, m.group(3)).contains(dimE)
        numCol <- strongColumn("age", slice.tables(dimE)).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(dimE)).toSeq
        if attrCol != numCol
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM $dimE st JOIN (" +
          s"SELECT $attrCol, AVG($numCol) AS a FROM $dimE GROUP BY $attrCol) g " +
          s"ON g.$attrCol = st.$attrCol WHERE st.$numCol $op g.a " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_self_relative_dim")).take(1)
    }

  // "the hardest course for each grade level by average score" — a
  // superlative adjective ranking second-dimension members per group
  private[gen] val superlativeAdjArgmaxRe =
    (raw"(?i)\bthe\s+(hardest|toughest|easiest)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"for\s+each\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s+by\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Superlative-adjective grouped argmax: "the hardest J for each G by
    * avg V" — hardest/toughest read as LOWEST aggregate (easiest as
    * highest), otherwise the [[groupedArgmax2Candidates]] plan: one
    * grouped aggregate on (G, J) through two broadcast dimensions,
    * RANK over the GROUP ROWS ONLY, rank-1 per G with the display-name
    * tiebreak stated in the ORDER BY. */
  def superlativeAdjArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    superlativeAdjArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(1).equalsIgnoreCase("easiest")) "DESC" else "ASC"
      val agg = sumOrAvg(m.group(4))
      val attrWord = m.group(3).trim.replaceAll("\\s+", "_")
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eG <- otherEdges(slice, fks, eJ)
        groupCol <- abbrevColumn(attrWord, slice.tables(eG.toTable)).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(eJ.fromTable)).toSeq
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT $groupCol, $jName FROM (" +
          s"SELECT st.$groupCol, c.$jName, " +
          s"RANK() OVER (PARTITION BY st.$groupCol " +
          s"ORDER BY $agg(s.$numCol) $dir, c.$jName) AS rnk " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN ${eG.toTable} st ON st.${eG.toColumn} = s.${eG.fromColumn} " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY st.$groupCol, c.${eJ.toColumn}, c.$jName) t " +
          s"WHERE rnk = 1 ORDER BY $groupCol LIMIT $DefaultLimit",
        0.9, "template_superlative_adj_argmax")).take(1)
    }

  // "how many students improved in math but declined in science from
  // 2022 to 2023" — a CONJUNCTION of per-group two-period trend
  // conditions on one entity
  private[gen] val conjunctiveTrendRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(improved|increased|grew|declined|decreased|dropped|fell)\s+in\s+" +
      raw"([a-z0-9_+-]+)\s+(?:but|and)\s+" +
      raw"(improved|increased|grew|declined|decreased|dropped|fell)\s+in\s+" +
      raw"([a-z0-9_+-]+)\s+from\s+(\d{4})\s+to\s+(\d{4})\b").r

  /** Conjunctive trend count: "how many Es improved in X but declined
    * in Y from Y1 to Y2" → ALL FOUR period-group aggregates as CASE
    * conditionals in ONE grouped pass per entity (fact filtered to the
    * two groups, dims broadcast), both comparisons in HAVING, one
    * summary count. Entities missing either period in a group have a
    * NULL side — excluded, the only reading under which "improved"
    * holds. Values resolve through mined domains on ONE attribute
    * column (both must live in the same domain); the measure by schema
    * elimination ([[trendArgmaxEntityCandidates]]). */
  def conjunctiveTrendCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    conjunctiveTrendRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def op(verb: String) =
        if (Set("improved", "increased", "grew")(verb.toLowerCase)) ">" else "<"
      val (v1, v2) = (m.group(3), m.group(5))
      val (y1, y2) = (m.group(6), m.group(7))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- slice.tables(eJ.toTable).find(c =>
          values(eJ.toTable).get(c).exists(d => d.contains(v1) && d.contains(v2))).toSeq
        factCols = slice.tables(eE.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield {
        def cond(v: String, o: String) =
          s"AVG(CASE WHEN c.$attrCol = ${sqlLit(v)} AND s.$periodCol = $y2 " +
            s"THEN s.$measure END) $o " +
            s"AVG(CASE WHEN c.$attrCol = ${sqlLit(v)} AND s.$periodCol = $y1 " +
            s"THEN s.$measure END)"
        Candidate(
          s"SELECT COUNT(*) AS agg_value FROM (" +
            s"SELECT s.${eE.fromColumn} FROM ${eE.fromTable} s " +
            s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
            s"WHERE c.$attrCol IN (${sqlLit(v1)}, ${sqlLit(v2)}) " +
            s"GROUP BY s.${eE.fromColumn} " +
            s"HAVING ${cond(v1, op(m.group(2)))} AND ${cond(v2, op(m.group(4)))}) t",
          0.9, "template_conjunctive_trend")
      }).take(1)
    }

  // "the middle student by average score" — the median-positioned
  // entity under a per-entity aggregate ordering
  private[gen] val medianEntityArgmaxRe =
    (raw"(?i)\bthe\s+(middle|median)\s+([a-z_][a-z0-9_]*)\s+by\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Median entity argmax: "the middle E by avg V" → per-entity
    * aggregates in one grouped pass, ROW_NUMBER + COUNT over the
    * |entities| GROUP ROWS, the (n+1)/2 row. The global window runs
    * over group rows only — at extreme entity cardinality the
    * percentile-cutoff rewrite (`PERCENTILE_CONT` to find the median
    * aggregate value, then an equality filter) replaces the window,
    * the same scale path [[percentileRankCandidates]] documents. */
  def medianEntityArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    medianEntityArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(3))
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        e <- fks.find(e => e.toTable == dimE && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(4), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, $agg($numCol) AS a, COUNT(*) OVER () AS n, " +
          s"ROW_NUMBER() OVER (ORDER BY $agg($numCol), ${e.fromColumn}) AS rn " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"WHERE rn = CAST((n + 1) / 2 AS INT) LIMIT 1",
        0.9, "template_median_entity_argmax")).take(1)
    }

  // "the two consecutive years with the biggest jump in total scores"
  // — argmax over ADJACENT-period deltas, returning the pair
  private[gen] val adjacentPeriodPairRe =
    (raw"(?i)\bthe\s+two\s+consecutive\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(biggest|largest|greatest|smallest)\s+" +
      raw"(jump|increase|rise|gain|drop|decline|fall)\s+in\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Adjacent-period pair argmax: "the two consecutive Ts with the
    * biggest jump in total V" → per-period aggregates first (the one
    * fact-sized pass), LAG over the |periods| group rows carries both
    * the previous period LABEL and the delta, top-1 by delta returns
    * the (prev, current) pair. Rising words rank DESC, falling ASC,
    * "smallest" flips either. */
  def adjacentPeriodPairCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    adjacentPeriodPairRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val falling = Set("drop", "decline", "fall")(m.group(3).toLowerCase)
      val smallest = m.group(2).equalsIgnoreCase("smallest")
      val dir = if (falling ^ smallest) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(4))
      (for {
        fact <- slice.tables.keys.toSeq.sorted
          .find(t => strongColumn(m.group(1), slice.tables(t)).isDefined &&
            strongColumn(m.group(5), slice.tables(t)).isDefined).toSeq
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        numCol <- strongColumn(m.group(5), slice.tables(fact)).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT prev_$periodCol, $periodCol FROM (" +
          s"SELECT $periodCol, " +
          s"LAG($periodCol) OVER (ORDER BY $periodCol) AS prev_$periodCol, " +
          s"$agg($numCol) - LAG($agg($numCol)) OVER (ORDER BY $periodCol) AS d " +
          s"FROM $fact GROUP BY $periodCol) t WHERE d IS NOT NULL " +
          s"ORDER BY d $dir, $periodCol LIMIT 1",
        0.9, "template_adjacent_period_pair")).take(1)
    }

  // "students who only took math courses" — exclusive membership: ALL
  // of the entity's fact rows land in one attribute value
  private[gen] val exclusiveAttrRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+only\s+[a-z]+\s+" +
      raw"([a-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Exclusive attribute membership: "Es who only Ved X Js" → ∀ over
    * the entity's rows (grouped MIN indicator — the universalFilter
    * encoding), the value X resolved through the J dimension's MINED
    * DOMAINS. One grouped pass through two broadcast dims; entities
    * with no rows are vacuously absent (they "took" nothing). */
  def exclusiveAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    exclusiveAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        attrCol <- slice.tables(dimJ).find(c =>
          values(dimJ).get(c).exists(_.contains(m.group(2)))).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM ${eE.fromTable} f " +
          s"JOIN $dimE d ON d.${eE.toColumn} = f.${eE.fromColumn} " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = f.${eJ.fromColumn} " +
          s"GROUP BY d.${eE.toColumn}, d.$nameCol " +
          s"HAVING MIN(CASE WHEN c.$attrCol = ${sqlLit(m.group(2))} " +
          s"THEN 1 ELSE 0 END) = 1 " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_exclusive_attr")).take(1)
    }

  // "what fraction of courses have no A grades" — the share of groups
  // whose category count is zero (absence, so the dimension LEFT-joins
  // the fact: memberless groups lack the category too)
  private[gen] val shareGroupsLackingRe =
    (raw"(?i)\bwhat\s+(fraction|share|percentage|percent)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:have|has|had)\s+no\s+" +
      raw"([A-Za-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Share of groups lacking a category: "what fraction of Js have no
    * X Vs" → per-J conditional counts with the DIMENSION on the left
    * of a LEFT JOIN (a J with no fact rows at all has no X either —
    * the inner-join reading silently drops it), one summary share over
    * |J| group rows. Case-sensitive category value against the fact's
    * category column. */
  def shareGroupsLackingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    shareGroupsLackingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = {
        val w = m.group(4)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(vWord, slice.tables(e.fromTable)).isDefined).toSeq
        catCol <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(100.0 * SUM(CASE WHEN n_a = 0 THEN 1 ELSE 0 END) " +
          s"/ COUNT(*), 2) AS agg_value FROM (" +
          s"SELECT c.${eJ.toColumn}, " +
          s"SUM(CASE WHEN s.$catCol = ${sqlLit(m.group(3))} THEN 1 ELSE 0 END) AS n_a " +
          s"FROM $dimJ c LEFT JOIN ${eJ.fromTable} s " +
          s"ON s.${eJ.fromColumn} = c.${eJ.toColumn} " +
          s"GROUP BY c.${eJ.toColumn}) t",
        0.9, "template_share_groups_lacking")).take(1)
    }

  private[gen] val numberWords = Map("one" -> 1, "two" -> 2, "three" -> 3,
    "four" -> 4, "five" -> 5, "six" -> 6, "seven" -> 7, "eight" -> 8,
    "nine" -> 9, "ten" -> 10)
  private[gen] def wordToInt(w: String): Option[Int] =
    numberWords.get(w.toLowerCase).orElse(
      if (w.matches(raw"\d+")) Some(w.toInt) else None)

  // "students whose scores span all five grade letters" — entities
  // whose rows cover a stated number of category values
  private[gen] val attrCoverageRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+span\s+all\s+" +
      raw"(one|two|three|four|five|six|seven|eight|nine|ten|\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Attribute coverage count: "Es whose Vs span all N As" → grouped
    * COUNT(DISTINCT category) per entity equal to the stated N — one
    * fact-sized pass, display names joined at survivor size. The
    * category column resolves on the FACT (grade letters live on the
    * rows, not a dimension). */
  def attrCoverageCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    attrCoverageRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        n <- wordToInt(m.group(3)).toSeq
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, dimE)
        catCol <- strongColumn(m.group(4), slice.tables(e.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT d.$nameCol FROM ${e.fromTable} f " +
          s"JOIN $dimE d ON d.${e.toColumn} = f.${e.fromColumn} " +
          s"GROUP BY d.${e.toColumn}, d.$nameCol " +
          s"HAVING COUNT(DISTINCT f.$catCol) = $n " +
          s"ORDER BY d.$nameCol LIMIT $DefaultLimit",
        0.9, "template_attr_coverage")).take(1)
    }

  // "the average score of each student's three most recent scores" —
  // an aggregate over each entity's k most recent rows
  private[gen] val recentKAverageRe =
    (raw"(?i)\bthe\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+of\s+" +
      raw"each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+" +
      raw"(one|two|three|four|five|six|seven|eight|nine|ten|\d+)\s+" +
      raw"most\s+recent\s+([a-z_][a-z0-9_]*)\b").r

  /** Recent-k average: "the avg V of each E's k most recent Vs" →
    * ROW_NUMBER partitioned by the entity fk (partitions are
    * entity-sized — parallel, never a global sort), ordered by the
    * period column then the fact's key-ish id as the recency
    * tiebreak, one summary aggregate over the kept rows. */
  def recentKAverageCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    recentKAverageRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = sumOrAvg(m.group(1))
      (for {
        k <- wordToInt(m.group(4)).toSeq
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        e <- edgesInto(slice, fks, dimE)
        numCol <- strongColumn(m.group(2), slice.tables(e.fromTable)).toSeq
        periodCol <- slice.tables(e.fromTable)
          .find(_.toLowerCase.contains("year")).toSeq
        if periodCol != numCol
      } yield {
        val idCol = keyishColumn(e.fromTable, slice.tables(e.fromTable))
        Candidate(
          s"SELECT ROUND($agg($numCol), 2) AS agg_value FROM (" +
            s"SELECT $numCol, ROW_NUMBER() OVER (PARTITION BY ${e.fromColumn} " +
            s"ORDER BY $periodCol DESC, $idCol DESC) AS rn " +
            s"FROM ${e.fromTable}) t WHERE rn <= $k",
          0.9, "template_recent_k_average")
      }).take(1)
    }

  // "courses where the grade distribution is more than half A or B" —
  // groups where a category (set) holds the majority of rows
  private[gen] val categoryMajorityRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+([a-z_][a-z0-9_]*)\s+" +
      raw"distribution\s+is\s+more\s+than\s+half\s+" +
      raw"([A-Za-z0-9_+-]+)(?:\s+or\s+([A-Za-z0-9_+-]+))?\b").r

  /** Category majority: "Js where the C distribution is more than half
    * X [or Y]" → conditional count vs COUNT(*)/2 in one grouped pass
    * on the fact's fk — no dimension join needed when the answer key
    * IS the fk. Case-sensitive category values. */
  def categoryMajorityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    categoryMajorityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vals = (Seq(m.group(3)) ++ Option(m.group(4)).toSeq).map(sqlLit)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(2), slice.tables(e.fromTable)).isDefined).toSeq
        catCol <- strongColumn(m.group(2), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${eJ.fromColumn} FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn} " +
          s"HAVING SUM(CASE WHEN $catCol IN (${vals.mkString(", ")}) " +
          s"THEN 1 ELSE 0 END) > COUNT(*) / 2.0 " +
          s"ORDER BY ${eJ.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_category_majority")).take(1)
    }

  // "the student whose scores vary the least across depts" — argmin of
  // cross-group dispersion of PER-GROUP aggregates
  private[gen] val crossGroupStabilityRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+" +
      raw"vary\s+the\s+(least|most)\s+across\s+([a-z_][a-z0-9_]*)\b").r

  /** Cross-group stability argmin: "the E whose Vs vary the least
    * across As" → per-(entity, attribute) aggregates in one fact-sized
    * pass through the broadcast dimension, STDDEV of those per entity
    * (|entity × attribute| rows in, |entity| out), top-1. Entities
    * present in a single group have no variation to measure —
    * COUNT(*) > 1 keeps "across" meaningful. */
  def crossGroupStabilityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    crossGroupStabilityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).equalsIgnoreCase("least")) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        numCol <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- abbrevColumn(m.group(4), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT ${eE.fromColumn} FROM (" +
          s"SELECT s.${eE.fromColumn}, STDDEV(da) AS v FROM (" +
          s"SELECT s2.${eE.fromColumn}, c.$attrCol, AVG(s2.$numCol) AS da " +
          s"FROM ${eE.fromTable} s2 " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s2.${eJ.fromColumn} " +
          s"GROUP BY s2.${eE.fromColumn}, c.$attrCol) s " +
          s"GROUP BY s.${eE.fromColumn} HAVING COUNT(*) > 1) t " +
          s"ORDER BY v $dir, ${eE.fromColumn} LIMIT 1",
        0.9, "template_cross_group_stability")).take(1)
    }

  // "the running total of scores per year in order" — cumulative
  // aggregate over ordered periods
  private[gen] val runningPeriodTotalRe =
    (raw"(?i)\bthe\s+running\s+(total|sum|count|average|avg)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+per\s+([a-z_][a-z0-9_]*)\b").r

  /** Running period total: "the running total of Vs per T" → per-period
    * aggregates first (one fact pass), the cumulative window over the
    * |periods| GROUP ROWS only — `SUM(SUM(v)) OVER (ORDER BY t)`,
    * never a corpus-wide running sum. */
  def runningPeriodTotalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    runningPeriodTotalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val inner = m.group(1).toLowerCase match {
        case "count" => "COUNT"
        case "average" | "avg" => "AVG"
        case _ => "SUM"
      }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
          .find(t => strongColumn(m.group(2), slice.tables(t)).isDefined &&
            strongColumn(m.group(3), slice.tables(t)).isDefined).toSeq
        numCol <- strongColumn(m.group(2), slice.tables(fact)).toSeq
        periodCol <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        if periodCol != numCol
      } yield Candidate(
        s"SELECT $periodCol, SUM($inner($numCol)) OVER (ORDER BY $periodCol) " +
          s"AS agg_value FROM $fact GROUP BY $periodCol " +
          s"ORDER BY $periodCol LIMIT $DefaultLimit",
        0.9, "template_running_period_total")).take(1)
    }

  // "students who beat their own previous year's average every year" —
  // the monotonic-trend semantics under comparative phrasing
  private[gen] val strictImprovementRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+(beat|exceeded|topped)\s+their\s+own\s+" +
      raw"previous\s+([a-z_][a-z0-9_]*)(?:'s)?\s+(?:average|avg|mean)\s+" +
      raw"(?:every|each)\s+\3\b").r

  /** Strict improvement streak: "Es who beat their own previous T's
    * average every T" — [[monotonicTrendCandidates]]' plan under
    * comparative phrasing: (entity, period) aggregates first, LAG
    * partitioned by the entity over the bounded period rows, grouped
    * MIN over the step indicator, COUNT >= 2 so single-period entities
    * don't qualify vacuously. The measure resolves by schema
    * elimination (the phrase names only the period). */
  def strictImprovementCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    strictImprovementRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(e.fromTable)
        periodCol <- strongColumn(m.group(3), factCols).toSeq
        stringCols = values(e.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, $periodCol, AVG($measure) AS a, " +
          s"LAG(AVG($measure)) OVER (PARTITION BY ${e.fromColumn} " +
          s"ORDER BY $periodCol) AS p " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}, $periodCol) x " +
          s"GROUP BY ${e.fromColumn} " +
          s"HAVING MIN(CASE WHEN p IS NULL OR a > p THEN 1 ELSE 0 END) = 1 " +
          s"AND COUNT(*) >= 2) m " +
          s"JOIN $dimE st ON st.${e.toColumn} = m.${e.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_strict_improvement")).take(1)
    }

  // "the pair of depts whose average scores differ the least" — pair
  // argmin over ATTRIBUTE-group aggregates
  private[gen] val attrPairArgminRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+differ\s+the\s+" +
      raw"(least|most)\b").r

  /** Attribute pair argmin: "the pair of As whose avg Vs differ the
    * least" → one grouped aggregate through the broadcast dimension
    * (|domain| rows), then pairs over the GROUP ROWS via a `<`
    * self-join — |domain|² comparisons of already-aggregated rows,
    * never the corpus (the [[joinedPairArgmaxCandidates]] bound). */
  def attrPairArgminCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    attrPairArgminRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(4).equalsIgnoreCase("least")) "ASC" else "DESC"
      val agg = sumOrAvg(m.group(2))
      (for {
        dimJ <- slice.tables.keys.toSeq.sorted
        attrCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        numCol <- strongColumn(m.group(3), slice.tables(eJ.fromTable)).toSeq
      } yield {
        val grouped = s"SELECT c.$attrCol, $agg(s.$numCol) AS av " +
          s"FROM ${eJ.fromTable} s JOIN $dimJ c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} GROUP BY c.$attrCol"
        Candidate(
          s"SELECT a_$attrCol, b_$attrCol FROM (" +
            s"SELECT a.$attrCol AS a_$attrCol, b.$attrCol AS b_$attrCol, " +
            s"ABS(a.av - b.av) AS d FROM ($grouped) a JOIN ($grouped) b " +
            s"ON a.$attrCol < b.$attrCol) t " +
            s"ORDER BY d $dir, a_$attrCol, b_$attrCol LIMIT 1",
          0.9, "template_attr_pair_argmin")
      }).take(1)
    }

  // "how many students are above the dept average in every dept they
  // took" — COUNT of entities satisfying a ∀ over group-self bars
  private[gen] val universalGroupSelfCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+are\s+(above|over|below|under)\s+" +
      raw"the\s+([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\s+in\s+" +
      raw"(?:every|each)\s+\3\b").r

  /** Universal group-self count: "how many Es are above the A average
    * in every A they took" → per-(entity, A) aggregates and per-A bars
    * each from one grouped pass (the bars |domain|-sized, broadcast
    * back), the ∀ a grouped MIN indicator, one summary count. Measure
    * by schema elimination — the phrase names only the group. */
  def universalGroupSelfCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    universalGroupSelfCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(2).toLowerCase)) ">" else "<"
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- abbrevColumn(m.group(3), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _.toLowerCase.contains("year"))
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (" +
          s"SELECT sd.${eE.fromColumn} FROM (" +
          s"SELECT s.${eE.fromColumn}, c.$attrCol, AVG(s.$measure) AS sa " +
          s"FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}, c.$attrCol) sd " +
          s"JOIN (SELECT c2.$attrCol, AVG(s2.$measure) AS da " +
          s"FROM ${eE.fromTable} s2 " +
          s"JOIN ${eJ.toTable} c2 ON c2.${eJ.toColumn} = s2.${eJ.fromColumn} " +
          s"GROUP BY c2.$attrCol) d ON d.$attrCol = sd.$attrCol " +
          s"GROUP BY sd.${eE.fromColumn} " +
          s"HAVING MIN(CASE WHEN sa $op da THEN 1 ELSE 0 END) = 1) t",
        0.9, "template_universal_group_self_count")).take(1)
    }

  // "the share of scores within 5 points of their course average" —
  // the fraction of rows inside a band around their group's bar
  private[gen] val bandedShareRe =
    (raw"(?i)\bthe\s+(share|percentage|percent|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+within\s+(\d+(?:\.\d+)?)\s+points?\s+of\s+" +
      raw"their\s+([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\b").r

  /** Banded share: "the share of Vs within N points of their J
    * average" → per-J bars from ONE grouped pass broadcast back on the
    * fk, a single conditional-share aggregate over the fact — the
    * join-then-aggregate form (equal values to the window phrasing,
    * without a corpus WindowExec). */
  def bandedShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    bandedShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(2), slice.tables(e.fromTable)).isDefined).toSeq
        numCol <- strongColumn(m.group(2), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(100.0 * SUM(CASE WHEN ABS(s.$numCol - g.a) <= ${m.group(3)} " +
          s"THEN 1 ELSE 0 END) / COUNT(*), 2) AS agg_value " +
          s"FROM ${eJ.fromTable} s JOIN (" +
          s"SELECT ${eJ.fromColumn}, AVG($numCol) AS a FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) g ON g.${eJ.fromColumn} = s.${eJ.fromColumn}",
        0.9, "template_banded_share")).take(1)
    }

  // "the dept where the gap between its best and worst student
  // averages is widest" — argmax over WITHIN-group ranges of
  // per-member aggregates
  private[gen] val groupInnerRangeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+where\s+the\s+gap\s+between\s+its\s+" +
      raw"(?:best|highest)\s+and\s+(?:worst|lowest)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:averages|avgs)\s+is\s+(widest|largest|biggest|narrowest|smallest)\b").r

  /** Group inner-range argmax: "the A where the gap between its best
    * and worst E averages is widest" → per-(entity, A) aggregates in
    * one fact pass through the broadcast dimension, MAX−MIN per A over
    * those group rows, top-1. Measure by schema elimination (the
    * phrase names only the member entity). */
  def groupInnerRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    groupInnerRangeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("narrowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _.toLowerCase.contains("year"))
      } yield Candidate(
        s"SELECT $attrCol FROM (" +
          s"SELECT x.$attrCol, MAX(sa) - MIN(sa) AS g FROM (" +
          s"SELECT s.${eE.fromColumn}, c.$attrCol, AVG(s.$measure) AS sa " +
          s"FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}, c.$attrCol) x " +
          s"GROUP BY x.$attrCol) t " +
          s"ORDER BY g $dir, $attrCol LIMIT 1",
        0.9, "template_group_inner_range_argmax")).take(1)
    }

  // "students whose yearly average never dropped below 60" — a floor
  // over every per-period aggregate
  private[gen] val floorOverPeriodsRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)ly\s+" +
      raw"(?:average|avg|mean)\s+never\s+(?:dropped|fell|went|dipped)\s+below\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** Floor over periods: "Es whose T-ly average never dropped below N"
    * → per-(entity, period) aggregates in one fact pass, grouped
    * MIN(a) >= N per entity — the ∀ collapses to a group extreme, no
    * window at all. Measure by schema elimination. */
  def floorOverPeriodsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    floorOverPeriodsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(e.fromTable)
        periodCol <- strongColumn(m.group(2), factCols).toSeq
        stringCols = values(e.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, $periodCol, AVG($measure) AS a " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}, $periodCol) x " +
          s"GROUP BY ${e.fromColumn} HAVING MIN(a) >= ${m.group(3)}) m " +
          s"JOIN $dimE st ON st.${e.toColumn} = m.${e.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_floor_over_periods")).take(1)
    }

  // "the average share of each course's scores that are A grades" —
  // the mean of per-group category ratios
  private[gen] val avgOfGroupSharesRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+(?:share|percentage|fraction)\s+of\s+" +
      raw"each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+([a-z_][a-z0-9_]*)\s+that\s+are\s+" +
      raw"([A-Za-z0-9_+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Average of group shares: "the avg share of each J's Vs that are X
    * Cs" → per-J conditional ratios in one grouped pass on the fact's
    * fk, AVG collapsing the |J| group rows — a MACRO-average (each
    * group weighs equally), deliberately distinct from the global
    * share. */
  def avgOfGroupSharesCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgOfGroupSharesRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val catWord = {
        val w = m.group(4)
        if (w.endsWith("s")) w.dropRight(1) else w
      }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- fks.find(e => e.toTable == dimJ && slice.tables.contains(e.fromTable) &&
          strongColumn(catWord, slice.tables(e.fromTable)).isDefined).toSeq
        catCol <- strongColumn(catWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(r), 4) AS agg_value FROM (" +
          s"SELECT ${eJ.fromColumn}, " +
          s"CAST(SUM(CASE WHEN $catCol = ${sqlLit(m.group(3))} THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*) AS r FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_avg_of_group_shares")).take(1)
    }

  // "the correlation between a student's age and their average score" —
  // CORR of a dimension attribute against a per-entity aggregate
  private[gen] val entityAggCorrRe =
    (raw"(?i)\bthe\s+correlation\s+between\s+an?\s+([a-z_][a-z0-9_]*)'s\s+" +
      raw"([a-z_][a-z0-9_]*)\s+and\s+(?:their|its)\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Entity-aggregate correlation (ref `app/models/inference.py:151-213`
    * LLM path): "the correlation between an E's A and their average M"
    * → per-entity AVG in one grouped fact pass (partial+final, one
    * shuffle on the fk), |entities| rows joined to the broadcast
    * dimension for the attribute, a single CORR over that small frame.
    * Distinct from [[correlationCandidates]]: one side is an AGGREGATE,
    * so a flat fact-side CORR (which would weight students by row
    * count) is the wrong answer. ROUND(…, 4) for presentation
    * stability. */
  def entityAggCorrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    entityAggCorrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        attrCol <- strongColumn(m.group(2), slice.tables(dimE)).toSeq
        e <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CORR(d.$attrCol, t.a), 4) AS agg_value FROM (" +
          s"SELECT ${e.fromColumn}, AVG($measure) AS a " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"JOIN $dimE d ON d.${e.toColumn} = t.${e.fromColumn}",
        0.9, "template_entity_agg_correlation")).take(1)
    }

  // "courses whose average score beats every dept's overall average" —
  // a per-fk-group aggregate compared against ALL aggregates one
  // grouping level up
  private[gen] val crossLevelUniversalRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(?:average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:beats|exceeds|tops|is\s+above|trails|is\s+below)\s+" +
      raw"every\s+([a-z_][a-z0-9_]*)(?:'s)?\s+overall\s+(?:average|avg|mean)\b").r

  /** Cross-level universal comparison: "Js whose average M beats every
    * D's overall average" → the ∀ collapses to a single scalar (beat
    * every group ⟺ beat the MAX; trail every ⟺ under the MIN), so the
    * plan is two grouped passes — per-J averages via HAVING, and the
    * coarser per-D averages through the broadcast dimension join —
    * plus a one-row scalar subquery; never a per-(J,D) crossJoin.
    * D resolves as an attribute column of J's own dimension (the
    * grouping one level up the same hierarchy). */
  def crossLevelUniversalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    crossLevelUniversalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val above = !question.toLowerCase.matches(raw"(?s).*\b(trails|is\s+below)\b.*")
      val (cmp, ext) = if (above) (">", "MAX") else ("<", "MIN")
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        e <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(m.group(2), slice.tables(e.fromTable)).toSeq
        dCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn} HAVING AVG($measure) $cmp (" +
          s"SELECT $ext(da) FROM (SELECT AVG(s.$measure) AS da " +
          s"FROM ${e.fromTable} s JOIN $dimJ c ON c.${e.toColumn} = s.${e.fromColumn} " +
          s"GROUP BY c.$dCol) x) " +
          s"ORDER BY ${e.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_cross_level_universal")).take(1)
    }

  // "the second most improved student between 2022 and 2023" — the
  // ordinal (nth) variant of the entity trend argmax
  private[gen] val nthTrendArgmaxRe =
    (raw"(?i)\bthe\s+(second|third|fourth|fifth|2nd|3rd|4th|5th)\s+most\s+" +
      raw"(improved|increased|declined|decreased|worsened)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+between\s+(\d{4})\s+and\s+(\d{4})\b").r

  /** Nth trend argmax: "the second most improved E between Y1 and Y2"
    * → the [[trendArgmaxEntityCandidates]] delta ranking with the
    * ordinal as `LIMIT 1 OFFSET n-1` — still TakeOrderedAndProject
    * over |entities| rows (Spark's SortExec+Limit keeps offset+1 rows
    * per partition), never a corpus-wide WindowExec. Measure by the
    * same elimination rule; rising participles rank DESC, falling
    * ASC. */
  def nthTrendArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    nthTrendArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val offset = ordinalOffset(m.group(1))
      val rising = Set("improved", "increased")(m.group(2).toLowerCase)
      val dir = if (rising) "DESC" else "ASC"
      val (y1, y2) = (m.group(4), m.group(5))
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        e <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(e.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(e.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield Candidate(
        s"SELECT ${e.fromColumn} FROM (" +
          s"SELECT ${e.fromColumn}, " +
          s"AVG(CASE WHEN $periodCol = $y2 THEN $measure END) - " +
          s"AVG(CASE WHEN $periodCol = $y1 THEN $measure END) AS d " +
          s"FROM ${e.fromTable} GROUP BY ${e.fromColumn}) t " +
          s"WHERE d IS NOT NULL ORDER BY d $dir, ${e.fromColumn} " +
          s"LIMIT 1 OFFSET $offset",
        0.9, "template_nth_trend_argmax")).take(1)
    }

  // "the number of students per grade level whose overall average score
  // is above 80" — count of qualifying entities, grouped by a dimension
  // attribute
  private[gen] val qualifyingCountByAttrRe =
    (raw"(?i)\bthe\s+(?:number|count)\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:per|by|for\s+each)\s+([a-z][a-z0-9_]*(?:\s+[a-z][a-z0-9_]*)?)\s+" +
      raw"whose\s+overall\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+is\s+" +
      raw"(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** Qualifying count by attribute: "the number of Es per A whose
    * overall average M is above N" → qualifying entity KEYS from one
    * grouped fact pass (HAVING on the per-entity average), then a count
    * grouped by the dimension attribute through the broadcast dim join
    * — the second aggregate runs over |qualifying entities| rows, never
    * the fact. A multi-word attribute phrase resolves underscored
    * ("grade level" → grade_level). */
  def qualifyingCountByAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    qualifyingCountByAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cmp = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val attrWord = m.group(2).trim.replaceAll(raw"\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        attrCol <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        e <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
      } yield Candidate(
        s"SELECT d.$attrCol AS $attrCol, COUNT(*) AS n FROM (" +
          s"SELECT ${e.fromColumn} FROM ${e.fromTable} " +
          s"GROUP BY ${e.fromColumn} HAVING AVG($measure) $cmp ${m.group(5)}) q " +
          s"JOIN $dimE d ON d.${e.toColumn} = q.${e.fromColumn} " +
          s"GROUP BY d.$attrCol ORDER BY d.$attrCol LIMIT $DefaultLimit",
        0.9, "template_qualifying_count_by_attr")).take(1)
    }

  // "the dept with the highest median student average" — argmax over
  // per-group MEDIANS of per-entity averages
  private[gen] val groupMedianArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(highest|largest|greatest|lowest|smallest)\s+median\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\b").r

  /** Group median argmax: "the A with the highest median E average" →
    * per-(entity, A) averages in one fact pass through the broadcast
    * dimension (the only corpus-sized shuffle), exact MEDIAN per A over
    * those |entities×A| group rows (sort-based but group-sized — a
    * corpus median would use the KLL sketch path), top-1. Measure by
    * schema elimination, as the phrase names none. */
  def groupMedianArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    groupMedianArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("lowest", "smallest")(m.group(2).toLowerCase)) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _.toLowerCase.contains("year"))
      } yield Candidate(
        s"SELECT $attrCol FROM (" +
          s"SELECT x.$attrCol, MEDIAN(a) AS md FROM (" +
          s"SELECT s.${eE.fromColumn}, c.$attrCol, AVG(s.$measure) AS a " +
          s"FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}, c.$attrCol) x " +
          s"GROUP BY x.$attrCol) t " +
          s"ORDER BY md $dir, $attrCol LIMIT 1",
        0.9, "template_group_median_argmax")).take(1)
    }

  // "students whose average score in math is at least 10 points higher
  // than in science" — a within-entity margin between two categorical
  // slices
  private[gen] val crossCategoryMarginRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(?:average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+([A-Za-z][\w+-]*)\s+is\s+at\s+least\s+" +
      raw"(\d+(?:\.\d+)?)\s+(?:points?\s+)?(higher|greater|better|lower|worse)\s+" +
      raw"than\s+in\s+([A-Za-z][\w+-]*)\b").r

  /** Cross-category margin: "Es whose average M in V1 is at least N
    * higher than in V2" → V1/V2 resolve as DATA values of one dimension
    * attribute (both must sit in the same mined domain — the
    * no-fabrication bar on value linking), then one fact pass filtered
    * to the two slices computes both conditional averages per entity;
    * entities missing either slice fall out through the NULL
    * comparison. "lower" swaps the margin's direction. */
  def crossCategoryMarginCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    crossCategoryMarginRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (v1, v2) = (m.group(3), m.group(6))
      val higher = Set("higher", "greater", "better")(m.group(5).toLowerCase)
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        eJ <- otherEdges(slice, fks, eE)
        catCol <- slice.tables(eJ.toTable).filter(c =>
          values(eJ.toTable).get(c).exists(d => d.contains(v1) && d.contains(v2))).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield {
        val (hi, lo) = if (higher) (v1, v2) else (v2, v1)
        Candidate(
          s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM ${eE.fromTable} s " +
            s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
            s"WHERE c.$catCol IN (${sqlLit(v1)}, ${sqlLit(v2)}) " +
            s"GROUP BY s.${eE.fromColumn} " +
            s"HAVING AVG(CASE WHEN c.$catCol = ${sqlLit(hi)} THEN s.$measure END) - " +
            s"AVG(CASE WHEN c.$catCol = ${sqlLit(lo)} THEN s.$measure END) >= ${m.group(4)}) m " +
            s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
            s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
          0.9, "template_cross_category_margin")
      }).take(1)
    }

  // "depts where the average score of every course fell from 2022 to
  // 2023" — a universal quantifier over per-member trends
  private[gen] val universalGroupTrendRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+(?:average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+of\s+every\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(fell|dropped|declined|decreased|rose|increased|improved)\s+" +
      raw"from\s+(\d{4})\s+to\s+(\d{4})\b").r

  /** Universal group trend: "As where the average M of every E fell
    * from Y1 to Y2" → per-(A, member) two-period conditional averages in
    * ONE fact pass through the broadcast dimension, then the ∀ collapses
    * to a group extreme over the member deltas — every-fell ⟺
    * MAX(delta) < 0, every-rose ⟺ MIN(delta) > 0; no window, no second
    * corpus pass. Members missing a period contribute a NULL delta,
    * which the extreme ignores — "every" quantifies over members with
    * both readings. */
  def universalGroupTrendCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalGroupTrendRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val falling = Set("fell", "dropped", "declined", "decreased")(m.group(4).toLowerCase)
      val cond = if (falling) "MAX(d) < 0" else "MIN(d) > 0"
      val (y1, y2) = (m.group(5), m.group(6))
      (for {
        dimI <- uniqueTable(slice, m.group(3)).toSeq
        eI <- edgesInto(slice, fks, dimI)
        eJ <- fks.filter(e => e.fromTable == eI.fromTable && slice.tables.contains(e.toTable))
        attrCol <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eI.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        measure <- strongColumn(m.group(2), factCols).toSeq
      } yield Candidate(
        s"SELECT $attrCol FROM (" +
          s"SELECT c.$attrCol, s.${eI.fromColumn}, " +
          s"AVG(CASE WHEN s.$periodCol = $y2 THEN s.$measure END) - " +
          s"AVG(CASE WHEN s.$periodCol = $y1 THEN s.$measure END) AS d " +
          s"FROM ${eI.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol, s.${eI.fromColumn}) x " +
          s"GROUP BY $attrCol HAVING $cond " +
          s"ORDER BY $attrCol LIMIT $DefaultLimit",
        0.9, "template_universal_group_trend")).take(1)
    }

  // "the rank of Algebra among courses by average score" — where a NAMED
  // entity lands in the group ranking
  private[gen] val namedEntityRankRe =
    (raw"(?i)\bthe\s+rank\s+of\s+([A-Z][\w+-]*(?:\s+[A-Z][\w+-]*)*)\s+among\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Named-entity rank: "the rank of V among Js by average M" → per-J
    * averages in one grouped fact pass, RANK over the |J| group rows
    * (group-sized single-partition window — a corpus-sized ranking
    * would use RankLimit's top-k shape instead), then the one named
    * row. V must sit in the mined domain of J's display column — the
    * no-fabrication bar on value linking. */
  def namedEntityRankCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    namedEntityRankRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val v = m.group(1)
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        e <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(m.group(3), slice.tables(e.fromTable)).toSeq
        nameCol <- nameishColumn(slice.tables(dimJ)).toSeq
        if values(dimJ).get(nameCol).exists(_.contains(v))
      } yield Candidate(
        s"SELECT rnk FROM (SELECT c.$nameCol, " +
          s"RANK() OVER (ORDER BY AVG(s.$measure) DESC) AS rnk " +
          s"FROM ${e.fromTable} s JOIN $dimJ c ON c.${e.toColumn} = s.${e.fromColumn} " +
          s"GROUP BY c.$nameCol) t WHERE $nameCol = ${sqlLit(v)}",
        0.9, "template_named_entity_rank")).take(1)
    }

  // "the percent change in average score from 2022 to 2023" — relative
  // delta between two period aggregates
  private[gen] val percentChangeRe =
    (raw"(?i)\bthe\s+(?:percent|percentage|pct)\s+change\s+in\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"from\s+(\d{4})\s+to\s+(\d{4})\b").r

  /** Percent change: "the percent change in average M from Y1 to Y2" →
    * both period averages as conditional aggregates in ONE grouped pass
    * (partial+final, no self-join of two period scans), relative delta
    * ×100, ROUND(…, 4). */
  def percentChangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    percentChangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (y1, y2) = (m.group(2), m.group(3))
      (for {
        t <- slice.tables.keys.toSeq.sorted
        cols = slice.tables(t)
        periodCol <- cols.find(_.toLowerCase.contains("year")).toSeq
        measure <- strongColumn(m.group(1), cols).toSeq
      } yield Candidate(
        s"SELECT ROUND((AVG(CASE WHEN $periodCol = $y2 THEN $measure END) - " +
          s"AVG(CASE WHEN $periodCol = $y1 THEN $measure END)) / " +
          s"AVG(CASE WHEN $periodCol = $y1 THEN $measure END) * 100, 4) AS agg_value " +
          s"FROM $t",
        0.9, "template_percent_change")).take(1)
    }

  // "the share of each dept's scores that come from its busiest course"
  // — within-group concentration: the largest member's share of the
  // group total
  private[gen] val groupConcentrationRe =
    (raw"(?i)\bthe\s+share\s+of\s+each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+" +
      raw"([a-z_][a-z0-9_]*)\s+that\s+comes?\s+from\s+its\s+" +
      raw"(?:busiest|most\s+active|largest|top)\s+([a-z_][a-z0-9_]*)\b").r

  /** Group concentration: "the share of each A's Fs that come from its
    * busiest E" → per-(A, member) counts in ONE fact pass through the
    * broadcast dimension, then MAX/SUM over each A's member rows — the
    * concentration ratio needs no window and no second corpus pass.
    * The counted noun must name the fact table itself (it counts
    * rows). */
  def groupConcentrationCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupConcentrationRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(2)).toSeq
        dimI <- uniqueTable(slice, m.group(3)).toSeq
        eI <- fks.filter(e => e.fromTable == fact && e.toTable == dimI)
        eJ <- fks.filter(e => e.fromTable == fact)
        attrCol <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT $attrCol, ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS share " +
          s"FROM (SELECT c.$attrCol, s.${eI.fromColumn}, COUNT(*) AS cnt " +
          s"FROM $fact s JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol, s.${eI.fromColumn}) x " +
          s"GROUP BY $attrCol ORDER BY $attrCol LIMIT $DefaultLimit",
        0.9, "template_group_concentration")).take(1)
    }

  // "students who took courses in at least 3 different depts" — a
  // distinct-count threshold on a JOINED dimension attribute
  private[gen] val joinedDistinctHavingRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+[a-z]+\s+([a-z_][a-z0-9_]*)\s+in\s+" +
      raw"(at\s+least|exactly|at\s+most)\s+(\d+|two|three|four|five)\s+" +
      raw"(?:different|distinct)\s+([a-z_][a-z0-9_]*)\b").r

  /** Joined distinct-count threshold: "Es who took Js in at least N
    * different As" → COUNT(DISTINCT dim.attr) per entity through the
    * broadcast dimension join (one fact-sized shuffle on the entity
    * fk), HAVING the threshold, names resolved last over |qualifying|
    * rows. */
  def joinedDistinctHavingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedDistinctHavingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = m.group(3).toLowerCase.replaceAll("\\s+", " ") match {
        case "exactly" => "="
        case "at most" => "<="
        case _ => ">="
      }
      val n = countWord(m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimJ != dimE
        eE <- edgesInto(slice, fks, dimE)
        eJ <- fks.filter(e => e.fromTable == eE.fromTable && e.toTable == dimJ)
        attrCol <- abbrevColumn(m.group(5), slice.tables(dimJ)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM ${eE.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT c.$attrCol) $op $n) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_joined_distinct_having")).take(1)
    }

  // "the year when dept averages were closest together" — dispersion of
  // group aggregates per period, ranked
  private[gen] val periodBalanceRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+when\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:averages|avgs)\s+were\s+" +
      raw"(closest\s+together|most\s+similar|most\s+spread\s+out|furthest\s+apart)\b").r

  /** Period balance argmin/argmax: "the T when A averages were closest
    * together" → per-(period, A) averages in one fact pass through the
    * broadcast dimension, STDDEV over each period's |A| group rows,
    * top-1 — dispersion of aggregates, computed entirely on group-sized
    * frames after the single corpus shuffle. Measure by schema
    * elimination. */
  def periodBalanceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    periodBalanceRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase.matches(raw"closest\s+together|most\s+similar"))
        "ASC" else "DESC"
      (for {
        eJ <- fks.filter(e => slice.tables.contains(e.fromTable) &&
          slice.tables.contains(e.toTable))
        attrCol <- abbrevColumn(m.group(2), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eJ.fromTable)
        periodCol <- strongColumn(m.group(1), factCols).toSeq
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield Candidate(
        s"SELECT yr FROM (SELECT x.yr, STDDEV_SAMP(a) AS sd FROM (" +
          s"SELECT s.$periodCol AS yr, c.$attrCol, AVG(s.$measure) AS a " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.$periodCol, c.$attrCol) x GROUP BY x.yr) t " +
          s"ORDER BY sd $dir, yr LIMIT 1",
        0.9, "template_period_balance")).take(1)
    }

  // "the grade letter whose students have the widest age range" — the
  // category lives on the FACT table, the measured attribute on the
  // joined entity dimension (the fact-side sibling of dimRangeArgmax)
  private[gen] val categoryAttrRangeRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+have\s+the\s+" +
      raw"(widest|largest|greatest|biggest|narrowest|smallest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+range\b").r

  /** Category attribute-range argmax: "the A whose Es have the widest B
    * range" where A is a fact-table category and B an attribute of the
    * joined entity dimension. One fact pass through the broadcast
    * dimension, grouped MAX−MIN per category, TakeOrderedAndProject
    * top-1 — group-sized frames after the single corpus shuffle. Fires
    * only when the category does NOT resolve on the dimension itself
    * (that form is [[dimRangeArgmaxCandidates]]'s pure-dimension plan). */
  def categoryAttrRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    categoryAttrRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("narrowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if abbrevColumn(attrWord, slice.tables(dimE)).isEmpty
        e <- edgesInto(slice, fks, dimE)
        catCol <- abbrevColumn(attrWord, slice.tables(e.fromTable)).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT $catCol FROM (SELECT s.$catCol, " +
          s"MAX(st.$numCol) - MIN(st.$numCol) AS r FROM ${e.fromTable} s " +
          s"JOIN $dimE st ON st.${e.toColumn} = s.${e.fromColumn} " +
          s"GROUP BY s.$catCol) t ORDER BY r $dir, $catCol LIMIT 1",
        0.9, "template_category_attr_range_argmax")).take(1)
    }

  // "courses where the top score was achieved by more than one student"
  // — a tie-at-the-extreme count per group
  private[gen] val maxTieCountRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+" +
      raw"(top|highest|best|maximum|max|lowest|worst|minimum|min)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+was\s+" +
      raw"(?:achieved|earned|reached|attained|shared|scored|held)\s+by\s+" +
      raw"(?:more\s+than\s+one|multiple|several)\s+([a-z_][a-z0-9_]*)\b").r

  /** Extreme-tie count: "Gs where the top M was achieved by more than
    * one E" → per-group MAX in one grouped pass (map-side partial agg),
    * joined back to the fact on the group key — AQE broadcasts the
    * |groups|-sized aggregate side — then COUNT(DISTINCT entity) at the
    * extreme, HAVING > 1. Never a corpus self-join: the max frame is
    * group-cardinality-sized. */
  def maxTieCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    maxTieCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("lowest", "worst", "minimum", "min")(m.group(2).toLowerCase))
        "MIN" else "MAX"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimG
        eG <- edgesInto(slice, fks, dimG)
        eE <- fks.filter(e => e.fromTable == eG.fromTable && e.toTable == dimE)
        measure <- strongColumn(m.group(3), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT s.${eG.fromColumn} FROM ${eG.fromTable} s " +
          s"JOIN (SELECT ${eG.fromColumn}, $agg($measure) AS mx " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}) m " +
          s"ON m.${eG.fromColumn} = s.${eG.fromColumn} AND m.mx = s.$measure " +
          s"GROUP BY s.${eG.fromColumn} " +
          s"HAVING COUNT(DISTINCT s.${eE.fromColumn}) > 1 " +
          s"ORDER BY s.${eG.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_max_tie_count")).take(1)
    }

  // "the share of scores that are their student's best" — share of fact
  // rows sitting at their own entity's extreme
  private[gen] val sharePersonalBestRe =
    (raw"(?i)\bthe\s+(?:share|proportion|fraction|percentage)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+that\s+are\s+their\s+" +
      raw"([a-z_][a-z0-9_]*)(?:'s)?\s+(best|worst|highest|lowest)\b").r

  /** Personal-best share: "the share of Fs that are their E's best" →
    * a per-entity window MAX (hash shuffle on the entity key, never a
    * global window) and a single scalar ratio — one corpus pass, one
    * row out. The measure resolves from the fact word itself
    * ("scores" → column score via the plural-tolerant strong link). */
  def sharePersonalBestCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    sharePersonalBestRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("worst", "lowest")(m.group(3).toLowerCase)) "MIN" else "MAX"
      (for {
        fact <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != fact
        eE <- fks.filter(e => e.fromTable == fact && e.toTable == dimE)
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN $measure = mx THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT $measure, $agg($measure) OVER " +
          s"(PARTITION BY ${eE.fromColumn}) AS mx FROM $fact) t",
        0.9, "template_share_personal_best")).take(1)
    }

  // "the gap between the best and second-best course by average score" —
  // difference between the top two ranked group aggregates
  private[gen] val top2GapRe =
    (raw"(?i)\bthe\s+(?:gap|difference)\s+between\s+the\s+" +
      raw"(?:best|top|highest)\s+and\s+(?:the\s+)?second[- ]best\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Top-2 gap: "the gap between the best and second-best G by avg V" →
    * one grouped aggregate over the fact (the only corpus pass), a
    * ROW_NUMBER window over the |G|-sized aggregate frame — group
    * cardinality, never corpus-wide — and a single-row collapse of
    * rank 1 minus rank 2. */
  def top2GapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    top2GapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("total", "sum")(m.group(2).toLowerCase)) "SUM" else "AVG"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(3), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(MAX(CASE WHEN r = 1 THEN a END) - " +
          s"MAX(CASE WHEN r = 2 THEN a END), 2) AS agg_value FROM " +
          s"(SELECT a, ROW_NUMBER() OVER (ORDER BY a DESC) AS r FROM " +
          s"(SELECT $agg($measure) AS a FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn}) t) x",
        0.9, "template_top2_gap")).take(1)
    }

  // "the share of students whose best course is in math" — per-entity
  // argmax row, membership test on the joined dimension attribute
  private[gen] val bestMembershipShareRe =
    (raw"(?i)\bthe\s+(?:share|proportion|fraction|percentage)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+whose\s+(best|worst)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+in\s+([A-Za-z][\w+-]*)\b").r

  /** Best-membership share: "the share of Es whose best J is in M" →
    * ROW_NUMBER partitioned by the entity key over the fact (hash
    * shuffle on the entity, never a global window), rank-1 winners join
    * the broadcast J dimension, one scalar ratio out. The measure is
    * inferred by schema elimination (the fact's single free numeric
    * column, the [[trendArgmaxEntityCandidates]] rule) and M must be a
    * MINED DOMAIN VALUE of a J attribute — the no-fabrication bar. */
  def bestMembershipShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    bestMembershipShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "worst") "ASC" else "DESC"
      val value = m.group(4)
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        measure <- soleMeasure(slice.tables(eE.fromTable), values(eE.fromTable).keySet, yearOrDate)
        attrCol <- values(dimJ).collectFirst {
          case (c, dom) if dom.contains(value) => c
        }.toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN c.$attrCol = ${sqlLit(value)} " +
          s"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT ${eE.fromColumn}, ${eJ.fromColumn}, " +
          s"ROW_NUMBER() OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $measure $dir, ${eJ.fromColumn}) AS r " +
          s"FROM ${eE.fromTable}) t " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = t.${eJ.fromColumn} " +
          s"WHERE t.r = 1",
        0.9, "template_best_membership_share")).take(1)
    }

  // "the longest streak of years in which the overall average score
  // improved" — gaps-and-islands over the period aggregate
  private[gen] val longestStreakRe =
    (raw"(?i)\bthe\s+longest\s+streak\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+which\s+the\s+overall\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+" +
      raw"(improved|increased|grew|rose|declined|decreased|dropped|fell)\b").r

  /** Longest streak: "the longest streak of Ps in which the overall avg
    * V improved" → one grouped pass collapses the corpus to |P| period
    * rows; LAG marks improving periods, the classic
    * row_number−running_sum island key groups consecutive runs, MAX of
    * the island sizes is the answer. All window work happens on the
    * period-cardinality frame, never the corpus. */
  def longestStreakCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    longestStreakRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("total", "sum")(m.group(2).toLowerCase)) "SUM" else "AVG"
      val cmp = if (Set("improved", "increased", "grew", "rose")(m.group(4).toLowerCase))
        ">" else "<"
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        measure <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        if measure != periodCol
      } yield Candidate(
        s"WITH y AS (SELECT $periodCol AS p, $agg($measure) AS a " +
          s"FROM $fact GROUP BY $periodCol), " +
          s"d AS (SELECT p, CASE WHEN a $cmp LAG(a) OVER (ORDER BY p) " +
          s"THEN 1 ELSE 0 END AS up FROM y), " +
          s"g AS (SELECT p, up, ROW_NUMBER() OVER (ORDER BY p) - " +
          s"SUM(up) OVER (ORDER BY p) AS grp FROM d) " +
          s"SELECT MAX(cnt) AS agg_value FROM " +
          s"(SELECT grp, SUM(up) AS cnt FROM g GROUP BY grp) t",
        0.9, "template_longest_streak")).take(1)
    }

  // "the average number of students per course in each dept" — the
  // grouped sibling of avgCountPer: averaged within a super-group
  private[gen] val groupedAvgCountPerRe =
    (raw"(?i)\b(?:the\s+)?(?:average|avg|mean)\s+(?:number|count)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+per\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:in|for|by)\s+each\s+([a-z_][a-z0-9_]*)\b").r

  /** Grouped avg-count-per: "the avg number of E1s per E2 in each A" →
    * COUNT(DISTINCT e1) per e2 key in one fact pass, the |E2|-sized
    * count frame joins the broadcast E2 dimension, AVG per attribute.
    * Both post-shuffle frames are group-cardinality-sized. */
  def groupedAvgCountPerCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupedAvgCountPerRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        attrCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT c.$attrCol, ROUND(AVG(n), 2) AS avg_cnt FROM " +
          s"(SELECT ${eJ.fromColumn} AS jk, " +
          s"COUNT(DISTINCT ${eE.fromColumn}) AS n FROM ${eE.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) t " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = t.jk " +
          s"GROUP BY c.$attrCol ORDER BY c.$attrCol LIMIT $DefaultLimit",
        0.9, "template_grouped_avg_count_per")).take(1)
    }

  // "the median score of each dept's most popular course" — per
  // super-group argmax by popularity, then an aggregate of the winner
  private[gen] val groupPopularAggRe =
    (raw"(?i)\bthe\s+(median|average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+of\s+" +
      raw"each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+most\s+popular\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Group popular-member aggregate: "the median V of each A's most
    * popular J" → one grouped pass computes COUNT(*) and the aggregate
    * per (A, J) simultaneously, ROW_NUMBER partitioned by A over the
    * group-sized frame picks each super-group's most popular member,
    * its pre-computed aggregate rides along — no second corpus pass. */
  def groupPopularAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupPopularAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(1).toLowerCase == "median") "MEDIAN" else "AVG"
      (for {
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        attrCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
        measure <- strongColumn(m.group(2), slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT grp, med FROM (SELECT c.$attrCol AS grp, " +
          s"s.${eJ.fromColumn}, $agg(s.$measure) AS med, " +
          s"ROW_NUMBER() OVER (PARTITION BY c.$attrCol " +
          s"ORDER BY COUNT(*) DESC, s.${eJ.fromColumn}) AS r " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol, s.${eJ.fromColumn}) t WHERE r = 1 " +
          s"ORDER BY grp LIMIT $DefaultLimit",
        0.9, "template_group_popular_agg")).take(1)
    }

  /** Joined-dimension range argmax: "the A whose Es have the widest B
    * range" where A lives on a SECOND dimension of the same fact (the
    * two-hop sibling of [[categoryAttrRangeArgmaxCandidates]]). The fact
    * joins both broadcast dimensions once, grouped MAX−MIN per category,
    * top-1. Fires only when the category resolves on neither the entity
    * dimension nor the fact. */
  def joinedDimRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    categoryAttrRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("narrowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if abbrevColumn(attrWord, slice.tables(dimE)).isEmpty
        eE <- edgesInto(slice, fks, dimE)
        if abbrevColumn(attrWord, slice.tables(eE.fromTable)).isEmpty
        eJ <- fks.filter(e => e.fromTable == eE.fromTable &&
          e.toTable != dimE && slice.tables.contains(e.toTable))
        catCol <- abbrevColumn(attrWord, slice.tables(eJ.toTable)).toSeq
        numCol <- strongColumn(m.group(4), slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT $catCol FROM (SELECT c.$catCol, " +
          s"MAX(st.$numCol) - MIN(st.$numCol) AS r FROM ${eE.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$catCol) t ORDER BY r $dir, $catCol LIMIT 1",
        0.9, "template_joined_dim_range_argmax")).take(1)
    }

  // "the percentage of courses whose enrollment grew from 2022 to 2023"
  // — the COUNT sibling of trendShare (enrollment is row count, not a
  // measure column)
  private[gen] val countTrendShareRe =
    (raw"(?i)\bthe\s+(?:percentage|percent|share|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"(?:enrollment|enrolment|attendance|count|popularity)\s+" +
      raw"(grew|increased|rose|improved|fell|declined|dropped|decreased)\s+" +
      raw"from\s+(\d+)\s+to\s+(\d+)\b").r

  /** Count-trend share: "the share of Gs whose enrollment grew from Y1
    * to Y2" → both period counts as conditional COUNTs in ONE grouped
    * pass over the fact, then a single-row collapse of the |G| group
    * rows — the [[trendShareCandidates]] trick with COUNT instead of a
    * measure aggregate. */
  def countTrendShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    countTrendShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cmp = if (Set("grew", "increased", "rose", "improved")(m.group(2).toLowerCase))
        ">" else "<"
      val (y1, y2) = (m.group(3), m.group(4))
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        periodCol <- slice.tables(eG.fromTable)
          .find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN c2 $cmp c1 THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT ${eG.fromColumn}, " +
          s"COUNT(CASE WHEN $periodCol = $y1 THEN 1 END) AS c1, " +
          s"COUNT(CASE WHEN $periodCol = $y2 THEN 1 END) AS c2 " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}) t",
        0.9, "template_count_trend_share")).take(1)
    }

  // "the course with the most evenly distributed scores across grade
  // levels" — dispersion of a group's count distribution over a joined
  // dimension attribute
  private[gen] val distributionBalanceRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(most|least)\s+(?:evenly|equally|uniformly)\s+distributed\s+" +
      raw"([a-z_][a-z0-9_]*)\s+across\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Distribution balance argmin/argmax: "the G with the most evenly
    * distributed Fs across As" → (G, A) counts in one fact pass through
    * the broadcast dimension carrying A, STDDEV of each G's count
    * vector over the group-sized frame, top-1. "most evenly" = smallest
    * dispersion. The counted noun must name the fact itself. */
  def distributionBalanceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    distributionBalanceRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "most") "ASC" else "DESC"
      val attrWord = m.group(4).trim.replaceAll("\\s+", "_")
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        fact <- uniqueTable(slice, m.group(3)).toSeq
        eG <- fks.filter(e => e.fromTable == fact && e.toTable == dimG)
        eA <- fks.filter(e => e.fromTable == fact && e.toTable != dimG &&
          slice.tables.contains(e.toTable))
        attrCol <- abbrevColumn(attrWord, slice.tables(eA.toTable)).toSeq
      } yield Candidate(
        s"SELECT ${eG.fromColumn} FROM (SELECT x.${eG.fromColumn}, " +
          s"STDDEV_SAMP(cnt) AS sd FROM " +
          s"(SELECT s.${eG.fromColumn}, st.$attrCol, COUNT(*) AS cnt " +
          s"FROM $fact s JOIN ${eA.toTable} st " +
          s"ON st.${eA.toColumn} = s.${eA.fromColumn} " +
          s"GROUP BY s.${eG.fromColumn}, st.$attrCol) x " +
          s"GROUP BY x.${eG.fromColumn}) t " +
          s"ORDER BY sd $dir, ${eG.fromColumn} LIMIT 1",
        0.9, "template_distribution_balance")).take(1)
    }

  // "the largest score gap within a single course" — the extreme of
  // WITHIN-group ranges (rangeOfGroupAggs is the range ACROSS group
  // aggregates; this is MAX over per-group MAX−MIN)
  private[gen] val maxGroupRangeRe =
    (raw"(?i)\bthe\s+(largest|biggest|widest|greatest|smallest|narrowest)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:gap|range|spread)\s+within\s+" +
      raw"(?:a\s+single|any|one)\s+([a-z_][a-z0-9_]*)\b").r

  /** Max group range: "the largest V gap within a single G" → per-group
    * MAX and MIN in one grouped pass (map-side partial agg), extreme of
    * the differences over the |G|-sized frame — one corpus pass, one
    * row out. */
  def maxGroupRangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    maxGroupRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val outer = if (Set("smallest", "narrowest")(m.group(1).toLowerCase))
        "MIN" else "MAX"
      (for {
        dimG <- uniqueTable(slice, m.group(3)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(2), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $outer(mx - mn) AS agg_value FROM " +
          s"(SELECT ${eG.fromColumn}, MAX($measure) AS mx, MIN($measure) AS mn " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}) t",
        0.9, "template_max_group_range")).take(1)
    }

  // "the share of students who took the most popular course" —
  // popularity argmax feeding a membership share
  private[gen] val popularMembershipShareRe =
    (raw"(?i)\bthe\s+(?:share|percentage|fraction|proportion)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+who\s+[a-z]+\s+the\s+most\s+popular\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Popular-membership share: "the share of Es who took the most
    * popular J" → the argmax J is a one-row scalar subquery (its own
    * grouped pass, broadcast back), then one conditional
    * COUNT(DISTINCT entity) over the fact — two corpus passes, both
    * map-side-combined, no join explosion. */
  def popularMembershipShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    popularMembershipShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT ROUND(CAST(COUNT(DISTINCT CASE WHEN ${eJ.fromColumn} = " +
          s"(SELECT ${eJ.fromColumn} FROM ${eE.fromTable} " +
          s"GROUP BY ${eJ.fromColumn} ORDER BY COUNT(*) DESC, " +
          s"${eJ.fromColumn} LIMIT 1) THEN ${eE.fromColumn} END) " +
          s"AS DOUBLE) / COUNT(DISTINCT ${eE.fromColumn}), 4) AS agg_value " +
          s"FROM ${eE.fromTable}",
        0.9, "template_popular_membership_share")).take(1)
    }

  // "courses with an above-average share of A grades" — a group's
  // category share against the global share
  private[gen] val categoryShareVsGlobalRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+with\s+an?\s+" +
      raw"(above|below)[- ]average\s+(?:share|proportion|fraction)\s+of\s+" +
      raw"([\w+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Category share vs global: "Gs with an above-average share of M As"
    * → the group's conditional-share HAVING against a one-row scalar
    * subquery (broadcast), both from grouped passes over the fact. M
    * must be a MINED DOMAIN VALUE of the category column — the
    * no-fabrication bar. */
  def categoryShareVsGlobalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    categoryShareVsGlobalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).toLowerCase == "above") ">" else "<"
      val value = m.group(3)
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        catCol <- strongColumn(m.group(4), slice.tables(eG.fromTable)).toSeq
        if values(eG.fromTable).get(catCol).exists(_.contains(value))
      } yield Candidate(
        s"SELECT ${eG.fromColumn} FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn} " +
          s"HAVING AVG(CASE WHEN $catCol = ${sqlLit(value)} THEN 1.0 " +
          s"ELSE 0 END) $op (SELECT AVG(CASE WHEN $catCol = " +
          s"${sqlLit(value)} THEN 1.0 ELSE 0 END) FROM ${eG.fromTable}) " +
          s"ORDER BY ${eG.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_category_share_vs_global")).take(1)
    }
}
