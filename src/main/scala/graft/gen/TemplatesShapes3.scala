package graft.gen

import graft.core.{FkEdge, SchemaSlice}

/**
 * Eval-ladder question shapes, waves 37-54: distribution, quartile,
 * entropy, containment, dominance and per-cohort statistic shapes.
 *
 * One slice of the deterministic template library (split from the
 * single Templates object purely for source organization — behavior
 * and the candidate dispatch order live in [[Templates.candidates]]).
 * Shared helpers (column linking, literals, FK path resolution) come
 * through the self-type.
 */
private[gen] trait TemplatesShapes3 { this: Templates.type =>
  // "the average score in each student's final year" — an aggregate
  // restricted to each entity's extreme period
  private[gen] val lastPeriodAggRe =
    (raw"(?i)\bthe\s+(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+(final|last|first)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Last-period aggregate: "the avg V in each E's final P" → a window
    * MAX of the period partitioned by the entity key (hash shuffle on
    * the entity, never global), rows at their own entity's extreme
    * period survive, one scalar aggregate out. */
  def lastPeriodAggCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    lastPeriodAggRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("total", "sum")(m.group(1).toLowerCase)) "SUM" else "AVG"
      val ext = if (m.group(4).toLowerCase == "first") "MIN" else "MAX"
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(eE.fromTable)
        measure <- strongColumn(m.group(2), factCols).toSeq
        periodCol <- strongColumn(m.group(5), factCols).toSeq
        if periodCol != measure
      } yield Candidate(
        s"SELECT ROUND($agg($measure), 4) AS agg_value FROM " +
          s"(SELECT $measure, $periodCol, $ext($periodCol) OVER " +
          s"(PARTITION BY ${eE.fromColumn}) AS mp FROM ${eE.fromTable}) t " +
          s"WHERE $periodCol = mp",
        0.9, "template_last_period_agg")).take(1)
    }

  // "the most improved course in each dept between 2022 and 2023" —
  // the per-super-group selection of a two-period trend argmax
  private[gen] val groupTrendArgmaxRe =
    (raw"(?i)\bthe\s+most\s+(improved|declined)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+each\s+([a-z_][a-z0-9_]*)\s+between\s+(\d+)\s+and\s+(\d+)\b").r

  /** Group trend argmax: "the most improved J in each A between Y1 and
    * Y2" → both period aggregates as conditional CASE aggregates per
    * (A, J) in ONE grouped pass, entities missing either period drop
    * (no trend to state), ROW_NUMBER partitioned by A over the
    * group-sized frame picks each super-group's winner. */
  def groupTrendArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    groupTrendArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(1).toLowerCase == "improved") "DESC" else "ASC"
      val (y1, y2) = (m.group(4), m.group(5))
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        attrCol <- abbrevColumn(m.group(3), slice.tables(dimJ)).toSeq
        factCols = slice.tables(eJ.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield Candidate(
        s"SELECT grp, jk FROM (SELECT grp, jk, ROW_NUMBER() OVER " +
          s"(PARTITION BY grp ORDER BY d $dir, jk) AS r FROM " +
          s"(SELECT c.$attrCol AS grp, s.${eJ.fromColumn} AS jk, " +
          s"AVG(CASE WHEN s.$periodCol = $y2 THEN s.$measure END) - " +
          s"AVG(CASE WHEN s.$periodCol = $y1 THEN s.$measure END) AS d " +
          s"FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol, s.${eJ.fromColumn}) x WHERE d IS NOT NULL) t " +
          s"WHERE r = 1 ORDER BY grp LIMIT $DefaultLimit",
        0.9, "template_group_trend_argmax")).take(1)
    }

  // "students who took every math course" — division against the
  // attribute-FILTERED subset of a dimension
  private[gen] val filteredDivisionRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+([a-z]+)\s+every\s+" +
      raw"([\w+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Filtered division: "Es who V every M J" → relational division
    * where the divisor is the M-valued SUBSET of the J dimension: one
    * grouped COUNT(DISTINCT j) over the value-filtered fact (the
    * broadcast dimension filter prunes before the shuffle), the divisor
    * a one-row scalar subquery over the dimension alone. M must be a
    * MINED DOMAIN VALUE of a J attribute — the no-fabrication bar
    * ([[divisionCandidates]] serves the unfiltered "every J" form). */
  def filteredDivisionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    filteredDivisionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val value = m.group(3)
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        attrCol <- values(dimJ).collectFirst {
          case (c, dom) if dom.contains(value) => c
        }.toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM " +
          s"${eE.fromTable} s JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"WHERE c.$attrCol = ${sqlLit(value)} " +
          s"GROUP BY s.${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT s.${eJ.fromColumn}) = " +
          s"(SELECT COUNT(*) FROM $dimJ WHERE $attrCol = ${sqlLit(value)})) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_filtered_division")).take(1)
    }

  // "the difference between the median and average score" — a scalar
  // combination of two different aggregates of the same measure
  private[gen] val aggDiffRe =
    (raw"(?i)\bthe\s+difference\s+between\s+the\s+" +
      raw"(median|average|avg|mean|max|maximum|min|minimum)\s+and\s+(?:the\s+)?" +
      raw"(median|average|avg|mean|max|maximum|min|minimum)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Aggregate difference: "the difference between the A1 and A2 V" →
    * both aggregates in ONE grouped pass over whichever sliced table
    * strongly carries the measure — a single corpus scan, single-row
    * output. */
  def aggDiffCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    aggDiffRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def aggOf(w: String) = w.toLowerCase match {
        case "median" => "MEDIAN"
        case "max" | "maximum" => "MAX"
        case "min" | "minimum" => "MIN"
        case _ => "AVG"
      }
      val (a1, a2) = (aggOf(m.group(1)), aggOf(m.group(2)))
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        measure <- strongColumn(m.group(3), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND($a1($measure) - $a2($measure), 4) AS agg_value FROM $fact",
        0.9, "template_agg_diff")).take(1)
    }

  // "students whose average score is above their grade level's average"
  // — entity aggregate vs the entity's own cohort aggregate
  private[gen] val cohortRelativeAvgRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(?:average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+(above|below)\s+their\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)(?:'s)?\s+average\b").r

  /** Cohort-relative average: "Es whose avg V is above their A's
    * average" — the cohort A is an attribute of the ENTITY dimension,
    * so both sides come from grouped passes over the fact (per-entity
    * and per-cohort), each joining the broadcast dimension; the final
    * comparison joins two group-sized frames. */
  def cohortRelativeAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortRelativeAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(3).toLowerCase == "above") ">" else "<"
      val attrWord = m.group(4).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        attrCol <- abbrevColumn(attrWord, slice.tables(dimE)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${eE.fromColumn}, AVG($measure) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"JOIN (SELECT st2.$attrCol, AVG(s2.$measure) AS ga " +
          s"FROM ${eE.fromTable} s2 " +
          s"JOIN $dimE st2 ON st2.${eE.toColumn} = s2.${eE.fromColumn} " +
          s"GROUP BY st2.$attrCol) g ON g.$attrCol = st.$attrCol " +
          s"WHERE m.a $op g.ga ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_cohort_relative_avg")).take(1)
    }

  // "the number of distinct scores shared by all depts" — values of a
  // measure present in every group (division over VALUES)
  private[gen] val valueUniversalCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+distinct\s+([a-z_][a-z0-9_]*)\s+" +
      raw"shared\s+by\s+(?:all|every)\s+([a-z_][a-z0-9_]*)\b").r

  /** Value-universal count: "the number of distinct Vs shared by all
    * As" → group the fact by the VALUE, COUNT(DISTINCT joined attr) per
    * value against the one-row attribute cardinality subquery — value
    * division in one fact pass plus a dimension-only scalar. */
  def valueUniversalCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    valueUniversalCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        eJ <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable))
        attrCol <- abbrevColumn(m.group(2), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT s.$measure FROM $fact s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.$measure " +
          s"HAVING COUNT(DISTINCT c.$attrCol) = " +
          s"(SELECT COUNT(DISTINCT $attrCol) FROM ${eJ.toTable})) t",
        0.9, "template_value_universal_count")).take(1)
    }

  // "the average score of the three hardest courses" — an aggregate
  // over the bottom/top-k group aggregates
  private[gen] val bottomkAggAvgRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+of\s+the\s+" +
      raw"(two|three|four|five|\d+)\s+" +
      raw"(hardest|easiest|best|worst|top|bottom|strongest|weakest)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Bottom/top-k aggregate average: "the avg V of the N hardest Gs" →
    * per-group averages in one grouped pass, TakeOrderedAndProject
    * top-N of the group frame, scalar AVG of N rows. */
  def bottomkAggAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    bottomkAggAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = countWord(m.group(2))
      val dir = if (Set("hardest", "worst", "bottom", "weakest")(m.group(3).toLowerCase))
        "ASC" else "DESC"
      (for {
        dimG <- uniqueTable(slice, m.group(4)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(1), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(a), 4) AS agg_value FROM " +
          s"(SELECT AVG($measure) AS a FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn} ORDER BY a $dir LIMIT $n) t",
        0.9, "template_bottomk_agg_avg")).take(1)
    }

  // "the dept where the average age of students taking its courses is
  // lowest" — an aggregate of ONE dimension's attribute grouped by
  // ANOTHER dimension's attribute, bridged by the fact
  private[gen] val twoDimAttrAggArgRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+where\s+the\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+[a-z]+\s+its\s+([a-z_][a-z0-9_]*)\s+is\s+" +
      raw"(lowest|highest|smallest|largest)\b").r

  /** Two-dimension attribute-aggregate argmin/argmax: "the A where the
    * avg B of Es taking its Js is lowest" → the fact joins both
    * broadcast dimensions once, AVG of the entity attribute per
    * category, top-1 over the group-sized frame. */
  def twoDimAttrAggArgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    twoDimAttrAggArgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("lowest", "smallest")(m.group(5).toLowerCase)) "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        dimC <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimC
        (eE, eC) <- bridges(fks, dimE, dimC)
        catCol <- abbrevColumn(m.group(1), slice.tables(dimC)).toSeq
        numCol <- strongColumn(m.group(2), slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT $catCol FROM (SELECT c.$catCol, AVG(st.$numCol) AS a " +
          s"FROM ${eE.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"JOIN $dimC c ON c.${eC.toColumn} = s.${eC.fromColumn} " +
          s"GROUP BY c.$catCol) t ORDER BY a $dir, $catCol LIMIT 1",
        0.9, "template_two_dim_attr_agg_arg")).take(1)
    }

  // "the number of students whose scores span at least three grade
  // letters" — a COUNT of entities passing a distinct-category threshold
  private[gen] val countThresholdEntitiesRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+span\s+at\s+least\s+" +
      raw"(two|three|four|five|\d+)\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Count of threshold entities: "the number of Es whose Fs span at
    * least N As" → one grouped COUNT(DISTINCT category) per entity key
    * over the fact, HAVING the threshold, single-row COUNT collapse —
    * no dimension join needed since only the cardinality is asked. */
  def countThresholdEntitiesCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    countThresholdEntitiesRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = countWord(m.group(3))
      val attrWord = m.group(4).trim.replaceAll("\\s+", "_")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        fact <- uniqueTable(slice, m.group(2)).toSeq
        eE <- fks.filter(e => e.fromTable == fact && e.toTable == dimE)
        catCol <- abbrevColumn(attrWord, slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT ${eE.fromColumn} " +
          s"FROM $fact GROUP BY ${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT $catCol) >= $n) t",
        0.9, "template_count_threshold_entities")).take(1)
    }

  // "the median of each year's average score" — MEDIAN over group
  // aggregates (the median sibling of aggOfAgg)
  private[gen] val medianOfGroupAggsRe =
    (raw"(?i)\bthe\s+median\s+of\s+each\s+([a-z_][a-z0-9_]*)(?:'s)?\s+" +
      raw"(average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Median of group aggregates: "the median of each P's avg V" → one
    * grouped pass collapses the corpus to |P| rows, MEDIAN over the
    * group frame — corpus-size-independent outer aggregate. */
  def medianOfGroupAggsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    medianOfGroupAggsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("total", "sum")(m.group(2).toLowerCase)) "SUM" else "AVG"
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        measure <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        if measure != periodCol
      } yield Candidate(
        s"SELECT MEDIAN(a) AS agg_value FROM (SELECT $agg($measure) AS a " +
          s"FROM $fact GROUP BY $periodCol) t",
        0.9, "template_median_of_group_aggs")).take(1)
    }

  // "the course whose enrollment is most balanced across years" — count
  // distribution balance over a FACT period column (the fact-side
  // sibling of distributionBalance)
  private[gen] val factDistributionBalanceRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"(?:enrollment|enrolment|attendance|counts?)\s+(?:is|are)\s+" +
      raw"(most|least)\s+balanced\s+across\s+([a-z_][a-z0-9_]*)\b").r

  /** Fact distribution balance: "the G whose enrollment is most
    * balanced across Ps" → (G, P) counts in one grouped fact pass, the
    * STDDEV of each G's count vector over the group-sized frame, top-1.
    * No dimension join — both keys live on the fact. */
  def factDistributionBalanceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    factDistributionBalanceRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "most") "ASC" else "DESC"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        periodCol <- strongColumn(m.group(3), slice.tables(eG.fromTable)).toSeq
        if periodCol != eG.fromColumn
      } yield Candidate(
        s"SELECT ${eG.fromColumn} FROM (SELECT x.${eG.fromColumn}, " +
          s"STDDEV_SAMP(cnt) AS sd FROM " +
          s"(SELECT ${eG.fromColumn}, $periodCol, COUNT(*) AS cnt " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}, $periodCol) x " +
          s"GROUP BY x.${eG.fromColumn}) t " +
          s"ORDER BY sd $dir, ${eG.fromColumn} LIMIT 1",
        0.9, "template_fact_distribution_balance")).take(1)
    }

  // "the percentage of scores within 10 points of the course average" —
  // the share of rows inside a band around their own group's aggregate
  private[gen] val nearGroupAvgShareRe =
    (raw"(?i)\bthe\s+(?:percentage|share|fraction|proportion)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+within\s+(\d+(?:\.\d+)?)\s+" +
      raw"(?:points?|units?)\s+of\s+the\s+([a-z_][a-z0-9_]*)\s+average\b").r

  /** Near-group-average share: "the share of Fs within X points of the
    * G average" → a window AVG partitioned by the group key (hash
    * shuffle on the group, never global), one scalar band ratio out. */
  def nearGroupAvgShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nearGroupAvgShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(1)).toSeq
        dimG <- uniqueTable(slice, m.group(3)).toSeq
        if dimG != fact
        eG <- fks.filter(e => e.fromTable == fact && e.toTable == dimG)
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN ABS($measure - ca) <= ${m.group(2)} " +
          s"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT $measure, AVG($measure) OVER " +
          s"(PARTITION BY ${eG.fromColumn}) AS ca FROM $fact) t",
        0.9, "template_near_group_avg_share")).take(1)
    }

  // "the longest gap in years between two scores for the same student"
  // — the max consecutive-period gap within any entity's history
  private[gen] val maxPeriodGapRe =
    (raw"(?i)\bthe\s+longest\s+gap\s+in\s+([a-z_][a-z0-9_]*)\s+between\s+" +
      raw"two\s+([a-z_][a-z0-9_]*)\s+for\s+the\s+same\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Max period gap: "the longest gap in Ps between two Fs for the same
    * E" → distinct (entity, period) pairs in one grouped pass, LAG
    * partitioned by the entity key over the deduplicated frame, scalar
    * MAX of the consecutive differences. */
  def maxPeriodGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    maxPeriodGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(2)).toSeq
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != fact
        eE <- fks.filter(e => e.fromTable == fact && e.toTable == dimE)
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT MAX(gap) AS agg_value FROM (SELECT $periodCol - " +
          s"LAG($periodCol) OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $periodCol) AS gap FROM " +
          s"(SELECT DISTINCT ${eE.fromColumn}, $periodCol FROM $fact) d) t",
        0.9, "template_max_period_gap")).take(1)
    }

  // "the average number of years between a student's first and last
  // score" — the mean per-entity period span
  private[gen] val avgPeriodSpanRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+number\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+between\s+a\s+([a-z_][a-z0-9_]*)(?:'s)?\s+" +
      raw"first\s+and\s+last\s+([a-z_][a-z0-9_]*)\b").r

  /** Average period span: "the avg number of Ps between an E's first
    * and last F" → per-entity MAX−MIN of the period in one grouped
    * pass, scalar AVG of the |E| group rows. */
  def avgPeriodSpanCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgPeriodSpanRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(3)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != fact
        eE <- fks.filter(e => e.fromTable == fact && e.toTable == dimE)
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(mx - mn), 2) AS agg_value FROM " +
          s"(SELECT MAX($periodCol) AS mx, MIN($periodCol) AS mn " +
          s"FROM $fact GROUP BY ${eE.fromColumn}) t",
        0.9, "template_avg_period_span")).take(1)
    }

  // "the second most common grade" — the Nth value by FREQUENCY rank
  // (nth_value is the Nth DISTINCT value; this ranks by count)
  private[gen] val freqRankNthRe =
    (raw"(?i)\bthe\s+(second|third|fourth|fifth|2nd|3rd|4th|5th)\s+most\s+" +
      raw"(?:common|frequent|popular)\s+([a-z_][a-z0-9_]*)\b").r

  /** Frequency-rank nth: "the Nth most common A" → grouped counts in
    * one pass, ROW_NUMBER over the group-sized frame (count desc, value
    * as the deterministic tie-break), the single rank-N row. */
  def freqRankNthCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    freqRankNthRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = m.group(1).toLowerCase match {
        case "second" | "2nd" => 2; case "third" | "3rd" => 3
        case "fourth" | "4th" => 4; case _ => 5
      }
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        catCol <- strongColumn(m.group(2), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT $catCol FROM (SELECT $catCol, ROW_NUMBER() OVER " +
          s"(ORDER BY COUNT(*) DESC, $catCol) AS r FROM $fact " +
          s"GROUP BY $catCol) x WHERE r = $n",
        0.9, "template_freq_rank_nth")).take(1)
    }

  // "the dept with the highest share of its scores above 80" — argmax
  // over per-category conditional shares through the dimension join
  private[gen] val joinedCondShareArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(highest|lowest|largest|smallest)\s+share\s+of\s+its\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(above|over|below|under)\s+" +
      raw"(\d+(?:\.\d+)?)\b").r

  /** Joined conditional-share argmax: "the A with the highest share of
    * its Fs above X" → per-category conditional AVG in one fact pass
    * through the broadcast dimension carrying A, top-1 over the
    * group-sized frame. */
  def joinedCondShareArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    joinedCondShareArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("highest", "largest")(m.group(2).toLowerCase)) "DESC" else "ASC"
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      (for {
        fact <- uniqueTable(slice, m.group(3)).toSeq
        measure <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        eJ <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable))
        attrCol <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT $attrCol FROM (SELECT c.$attrCol, " +
          s"AVG(CASE WHEN s.$measure $op ${m.group(5)} THEN 1.0 ELSE 0 END) AS sh " +
          s"FROM $fact s JOIN ${eJ.toTable} c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol) t ORDER BY sh $dir, $attrCol LIMIT 1",
        0.9, "template_joined_cond_share_argmax")).take(1)
    }

  // "the average rank of math courses by average score" — the mean
  // global rank of an attribute-filtered subset of groups
  private[gen] val avgRankOfSubsetRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+rank\s+of\s+([\w+-]+)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+(average|avg|mean|total|sum)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Average rank of subset: "the avg rank of M Js by avg V" → one
    * grouped aggregate over the fact, RANK over the |J|-sized frame
    * (all groups rank before the subset filter — the rank must be
    * global), broadcast dimension join tags each group with the
    * attribute, scalar AVG of the M rows. M must be a MINED DOMAIN
    * VALUE of a J attribute. */
  def avgRankOfSubsetCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    avgRankOfSubsetRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("total", "sum")(m.group(3).toLowerCase)) "SUM" else "AVG"
      val value = m.group(1)
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(m.group(4), slice.tables(eJ.fromTable)).toSeq
        attrCol <- values(dimJ).collectFirst {
          case (c, dom) if dom.contains(value) => c
        }.toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(r), 2) AS agg_value FROM " +
          s"(SELECT c.$attrCol, RANK() OVER (ORDER BY a DESC) AS r FROM " +
          s"(SELECT ${eJ.fromColumn}, $agg($measure) AS a FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) x " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = x.${eJ.fromColumn}) t " +
          s"WHERE $attrCol = ${sqlLit(value)}",
        0.9, "template_avg_rank_of_subset")).take(1)
    }

  // "the number of score values that appear exactly once" — count of
  // frequency-1 values of a measure
  private[gen] val uniqueValueCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+values\s+that\s+" +
      raw"appear\s+exactly\s+once\b").r

  /** Unique-value count: "the number of V values that appear exactly
    * once" → grouped counts in one map-side-combined pass, HAVING the
    * frequency, single-row collapse. */
  def uniqueValueCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    uniqueValueCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT $measure FROM $fact " +
          s"GROUP BY $measure HAVING COUNT(*) = 1) x",
        0.9, "template_unique_value_count")).take(1)
    }

  // "the course whose scores are most skewed" — per-group skewness
  // argmax
  private[gen] val skewnessArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+" +
      raw"are\s+(most|least)\s+skewed\b").r

  /** Skewness argmax: "the G whose Fs are most skewed" → per-group
    * SKEWNESS (a declarative three-moment aggregate with map-side
    * partials) in one fact pass, top-1 over the group frame. */
  def skewnessArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    skewnessArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase == "most") "DESC" else "ASC"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        fact <- uniqueTable(slice, m.group(2)).toSeq
        eG <- fks.filter(e => e.fromTable == fact && e.toTable == dimG)
        measure <- strongColumn(m.group(2), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ${eG.fromColumn} FROM (SELECT ${eG.fromColumn}, " +
          s"SKEWNESS($measure) AS sk FROM $fact GROUP BY ${eG.fromColumn}) t " +
          s"ORDER BY sk $dir, ${eG.fromColumn} LIMIT 1",
        0.9, "template_skewness_argmax")).take(1)
    }

  // "the harmonic mean of course average scores" — a harmonic outer
  // aggregate over per-group averages
  private[gen] val harmonicMeanGroupsRe =
    (raw"(?i)\bthe\s+harmonic\s+mean\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Harmonic mean of group averages: "the harmonic mean of G avg Vs"
    * → per-group AVG in one pass, 1/AVG(1/a) over the |G|-sized frame
    * — harmonic mean as plain declarative aggregates, no UDF. */
  def harmonicMeanGroupsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    harmonicMeanGroupsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(2), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(1.0 / AVG(1.0 / a), 4) AS agg_value FROM " +
          s"(SELECT AVG($measure) AS a FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn}) t",
        0.9, "template_harmonic_mean_groups")).take(1)
    }

  // "the year when the number of distinct students scoring was highest"
  // — period argmax by distinct-entity count
  private[gen] val periodDistinctArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+when\s+the\s+number\s+of\s+" +
      raw"distinct\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+was\s+" +
      raw"(highest|lowest|largest|smallest)\b").r

  /** Period distinct argmax: "the P when the number of distinct Es …
    * was highest" → COUNT(DISTINCT entity fk) per period in one
    * grouped pass, TakeOrderedAndProject top-1. */
  def periodDistinctArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    periodDistinctArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("highest", "largest")(m.group(3).toLowerCase)) "DESC" else "ASC"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        periodCol <- strongColumn(m.group(1), slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $periodCol FROM ${eE.fromTable} GROUP BY $periodCol " +
          s"ORDER BY COUNT(DISTINCT ${eE.fromColumn}) $dir, $periodCol LIMIT 1",
        0.9, "template_period_distinct_argmax")).take(1)
    }

  // "courses ranked by how much their average improved between 2022 and
  // 2023" — the full ranked trend list (trendArgmax returns top-1)
  private[gen] val trendRankListRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+ranked\s+by\s+how\s+much\s+their\s+" +
      raw"(?:average|avg|mean)\s+" +
      raw"(improved|declined|changed|increased|decreased)\s+" +
      raw"between\s+(\d+)\s+and\s+(\d+)\b").r

  /** Trend rank list: "Gs ranked by how much their avg improved between
    * Y1 and Y2" → both period aggregates as conditional CASE aggregates
    * per group in ONE pass, groups missing either period drop, ordered
    * full list with the delta exposed. */
  def trendRankListCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    trendRankListRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("declined", "decreased")(m.group(2).toLowerCase)) "ASC" else "DESC"
      val (y1, y2) = (m.group(3), m.group(4))
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        factCols = slice.tables(eG.fromTable)
        periodCol <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(eG.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == periodCol)
      } yield Candidate(
        s"SELECT ${eG.fromColumn}, ROUND(d, 4) AS delta FROM " +
          s"(SELECT ${eG.fromColumn}, " +
          s"AVG(CASE WHEN $periodCol = $y2 THEN $measure END) - " +
          s"AVG(CASE WHEN $periodCol = $y1 THEN $measure END) AS d " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}) t " +
          s"WHERE d IS NOT NULL ORDER BY d $dir, ${eG.fromColumn} " +
          s"LIMIT $DefaultLimit",
        0.9, "template_trend_rank_list")).take(1)
    }

  // "the age of the student with the third-highest average score" — an
  // attribute of the rank-N entity by aggregate
  private[gen] val nthEntityAttrRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+of\s+the\s+([a-z_][a-z0-9_]*)\s+" +
      raw"with\s+the\s+(second|third|fourth|fifth)[- ]" +
      raw"(highest|lowest)\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Nth-entity attribute: "the A of the E with the Nth-highest avg V"
    * → per-entity averages in one grouped pass, ROW_NUMBER over the
    * group frame (entity key as the deterministic tie-break), rank-N
    * row joins the broadcast dimension for the attribute. */
  def nthEntityAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nthEntityAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = m.group(3).toLowerCase match {
        case "second" => 2; case "third" => 3; case "fourth" => 4; case _ => 5
      }
      val dir = if (m.group(4).toLowerCase == "highest") "DESC" else "ASC"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(5), slice.tables(eE.fromTable)).toSeq
        attrCol <- strongColumn(m.group(1), slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT $attrCol FROM (SELECT st.$attrCol, ROW_NUMBER() OVER " +
          s"(ORDER BY a $dir, m.${eE.fromColumn}) AS r FROM " +
          s"(SELECT ${eE.fromColumn}, AVG($measure) AS a FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn}) t " +
          s"WHERE r = $n",
        0.9, "template_nth_entity_attr")).take(1)
    }

  // "the number of courses that no ninth grader has taken" — an
  // attribute-filtered anti-join count (school-domain ordinal phrasing)
  private[gen] val filteredAntiCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+that\s+no\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?grader(?:s)?\s+" +
      raw"(?:has|have)\s+[a-z]+\b").r

  /** Filtered anti-join count: "the number of Js that no Nth grader has
    * taken" → NOT EXISTS against the fact restricted to the
    * ordinal-valued grade attribute of the entity dimension (plans as a
    * LeftAnti of the dimension against the filtered fact — the filter
    * prunes before the join). The ordinal word maps to its numeral;
    * "grader" resolves to the entity dimension's grade-stemmed column. */
  def filteredAntiCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    filteredAntiCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinals.getOrElse(m.group(2).toLowerCase, m.group(2).toInt)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM $dimJ c WHERE NOT EXISTS " +
          s"(SELECT 1 FROM ${eJ.fromTable} s " +
          s"JOIN ${eE.toTable} st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"WHERE s.${eJ.fromColumn} = c.${eJ.toColumn} AND st.$gradeCol = $n)",
        0.9, "template_filtered_anti_count")).take(1)
    }

  // "the course pair with the largest overlap in students" — pairwise
  // co-membership argmax via the entity-keyed self-join
  private[gen] val pairOverlapArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+pair\s+with\s+the\s+" +
      raw"(largest|biggest|greatest|smallest)\s+overlap\s+in\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Pair-overlap argmax: "the J pair with the largest overlap in Es" →
    * fact self-joined on the entity key (j1 < j2 halves the pairs),
    * grouped count per pair, top-1. The join is entity-keyed, so the
    * fanout per entity is (degree choose 2) — bounded by per-entity
    * membership, not the corpus; the grouped frame is |J|²-sized at
    * most. */
  def pairOverlapArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    pairOverlapArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "smallest") "ASC" else "DESC"
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"SELECT a.${eJ.fromColumn} AS c1, b.${eJ.fromColumn} AS c2 " +
          s"FROM ${eJ.fromTable} a JOIN ${eJ.fromTable} b " +
          s"ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND a.${eJ.fromColumn} < b.${eJ.fromColumn} " +
          s"GROUP BY a.${eJ.fromColumn}, b.${eJ.fromColumn} " +
          s"ORDER BY COUNT(*) $dir, c1, c2 LIMIT 1",
        0.9, "template_pair_overlap_argmax")).take(1)
    }

  // "the running total of distinct students by year of first score" —
  // cumulative distinct via the first-seen-period reduction
  private[gen] val cumulativeDistinctRe =
    (raw"(?i)\bthe\s+running\s+total\s+of\s+distinct\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+([a-z_][a-z0-9_]*)\s+of\s+first\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Cumulative distinct: "the running total of distinct Es by P of
    * first F" → per-entity MIN(period) in one grouped pass (cumulative
    * distinct = counting each entity once at its first appearance),
    * counts per first-period, running SUM over the |P|-sized frame. */
  def cumulativeDistinctCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cumulativeDistinctRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- uniqueTable(slice, m.group(3)).toSeq
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        if dimE != fact
        eE <- fks.filter(e => e.fromTable == fact && e.toTable == dimE)
        periodCol <- strongColumn(m.group(2), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT p, SUM(c) OVER (ORDER BY p) AS cum FROM " +
          s"(SELECT fy AS p, COUNT(*) AS c FROM " +
          s"(SELECT ${eE.fromColumn}, MIN($periodCol) AS fy FROM $fact " +
          s"GROUP BY ${eE.fromColumn}) t GROUP BY fy) x " +
          s"ORDER BY p LIMIT $DefaultLimit",
        0.9, "template_cumulative_distinct")).take(1)
    }

  // "each grade letter's share of all scores" — the full category
  // distribution as percentages
  private[gen] val distributionPctRe =
    (raw"(?i)\beach\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)(?:'s)?\s+" +
      raw"share\s+of\s+all\s+([a-z_][a-z0-9_]*)\b").r

  /** Distribution percentages: "each A's share of all Fs" → grouped
    * counts against the one-row total subquery (broadcast), the whole
    * distribution in one pass. */
  def distributionPctCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    distributionPctRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        fact <- uniqueTable(slice, m.group(2)).toSeq
        catCol <- abbrevColumn(attrWord, slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT $catCol, ROUND(CAST(COUNT(*) AS DOUBLE) / " +
          s"(SELECT COUNT(*) FROM $fact), 4) AS pct FROM $fact " +
          s"GROUP BY $catCol ORDER BY $catCol LIMIT $DefaultLimit",
        0.9, "template_distribution_pct")).take(1)
    }

  // "the average gap between consecutive course averages when ranked" —
  // mean spacing of the sorted group-aggregate sequence
  private[gen] val avgRankSpacingRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+gap\s+between\s+consecutive\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(?:averages|avgs)\s+when\s+ranked\b").r

  /** Average rank spacing: "the avg gap between consecutive G averages
    * when ranked" → per-group averages in one pass, LAG over the
    * |G|-sized ordered frame, scalar AVG of the spacings. The measure
    * is inferred by schema elimination. */
  def avgRankSpacingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    avgRankSpacingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        factCols = slice.tables(eG.fromTable)
        stringCols = values(eG.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT ROUND(AVG(d), 4) AS agg_value FROM (SELECT a - LAG(a) OVER " +
          s"(ORDER BY a) AS d FROM (SELECT AVG($measure) AS a FROM " +
          s"${eG.fromTable} GROUP BY ${eG.fromColumn}) t) x " +
          s"WHERE d IS NOT NULL",
        0.9, "template_avg_rank_spacing")).take(1)
    }

  // "students whose score in Algebra beat their own average" — a named
  // dimension value filters the row compared against the entity's own
  // aggregate
  private[gen] val namedValueSelfRelativeRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+in\s+" +
      raw"([A-Z][\w+-]*(?:\s+[A-Z][\w+-]*)*)\s+" +
      raw"(beat|exceeded|topped|was\s+above|was\s+below)\s+their\s+own\s+" +
      raw"(?:average|avg|mean)\b").r

  /** Named-value self-relative: "Es whose V in NAME beat their own
    * average" → per-entity averages in one grouped pass, the NAME-valued
    * rows (broadcast dimension filter) joined against the entity's own
    * bar, names resolved last. NAME must be a MINED DOMAIN VALUE of a
    * joined dimension attribute. */
  def namedValueSelfRelativeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    namedValueSelfRelativeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(4).toLowerCase.endsWith("below")) "<" else ">"
      val value = m.group(3)
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(2), slice.tables(eE.fromTable)).toSeq
        eJ <- otherEdges(slice, fks, eE)
        attrCol <- values(eJ.toTable).collectFirst {
          case (c, dom) if dom.contains(value) => c
        }.toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"JOIN (SELECT ${eE.fromColumn}, AVG($measure) AS a FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}) m " +
          s"ON m.${eE.fromColumn} = s.${eE.fromColumn} " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"WHERE c.$attrCol = ${sqlLit(value)} AND s.$measure $op m.a " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_named_value_self_relative")).take(1)
    }

  // "the year-over-year change in median score" — consecutive-period
  // deltas of a period aggregate
  private[gen] val yoyChangeRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)[- ]over[- ]\1\s+change\s+in\s+" +
      raw"(median|average|avg|mean|total|sum)\s+([a-z_][a-z0-9_]*)\b").r

  /** Period-over-period change: "the P-over-P change in median V" → one
    * grouped pass collapses the corpus to |P| rows, LAG over the
    * ordered period frame exposes the deltas. */
  def yoyChangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    yoyChangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = m.group(2).toLowerCase match {
        case "median" => "MEDIAN"
        case "total" | "sum" => "SUM"
        case _ => "AVG"
      }
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        measure <- strongColumn(m.group(3), slice.tables(fact)).toSeq
        if measure != periodCol
      } yield Candidate(
        s"SELECT $periodCol, ROUND(med - LAG(med) OVER " +
          s"(ORDER BY $periodCol), 4) AS chg FROM " +
          s"(SELECT $periodCol, $agg($measure) AS med FROM $fact " +
          s"GROUP BY $periodCol) t ORDER BY $periodCol LIMIT $DefaultLimit",
        0.9, "template_yoy_change")).take(1)
    }

  // "the number of students in the top quartile by average score" —
  // NTILE cohort membership count
  private[gen] val quartileCohortCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+in\s+the\s+" +
      raw"(top|bottom)\s+(quartile|quintile|decile)\s+by\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Quartile cohort count: "the number of Es in the top quartile by
    * avg V" → per-entity averages in one grouped pass, NTILE over the
    * |E|-sized frame (group cardinality, never the corpus), single-row
    * COUNT of the target bucket. */
  def quartileCohortCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    quartileCohortCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = m.group(3).toLowerCase match {
        case "quartile" => 4; case "quintile" => 5; case _ => 10
      }
      val target = if (m.group(2).toLowerCase == "top") 1 else n
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(4), slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT ${eE.fromColumn}, " +
          s"NTILE($n) OVER (ORDER BY a DESC) AS q FROM " +
          s"(SELECT ${eE.fromColumn}, AVG($measure) AS a FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t) x WHERE q = $target",
        0.9, "template_quartile_cohort_count")).take(1)
    }

  // "the trimmed mean of scores excluding the top and bottom 10 percent"
  private[gen] val trimmedMeanRe =
    (raw"(?i)\bthe\s+trimmed\s+mean\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"excluding\s+the\s+top\s+and\s+bottom\s+(\d+)\s+percent\b").r

  /** Trimmed mean: "the trimmed mean of Vs excluding the top and bottom
    * N percent" → PERCENT_RANK band filter then AVG. The global window
    * here mirrors the oracle exactly (tie semantics); a 100 TB serving
    * variant would cut on two percentile_approx bounds instead — same
    * answer away from ties, no global sort. */
  def trimmedMeanCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trimmedMeanRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val frac = m.group(2).toInt / 100.0
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG($measure), 4) AS agg_value FROM " +
          s"(SELECT $measure, PERCENT_RANK() OVER (ORDER BY $measure) AS pr " +
          s"FROM $fact) t WHERE pr >= $frac AND pr <= ${1 - frac}",
        0.9, "template_trimmed_mean")).take(1)
    }

  // "the most common score in math courses" — the mode of a measure
  // under a dimension-value filter
  private[gen] val filteredModeRe =
    (raw"(?i)\bthe\s+most\s+(?:common|frequent)\s+([a-z_][a-z0-9_]*)\s+in\s+" +
      raw"([\w+-]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Filtered mode: "the most common V in M Js" → the value-filtered
    * fact (broadcast dimension filter prunes before the shuffle)
    * grouped by the measure, top-1 by count. M must be a MINED DOMAIN
    * VALUE of a J attribute. */
  def filteredModeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    filteredModeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val value = m.group(2)
      (for {
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(m.group(1), slice.tables(eJ.fromTable)).toSeq
        attrCol <- values(dimJ).collectFirst {
          case (c, dom) if dom.contains(value) => c
        }.toSeq
      } yield Candidate(
        s"SELECT $measure FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"WHERE c.$attrCol = ${sqlLit(value)} GROUP BY $measure " +
          s"ORDER BY COUNT(*) DESC, $measure LIMIT 1",
        0.9, "template_filtered_mode")).take(1)
    }

  // "the interquartile range of scores" — P75 − P25 in one aggregate
  private[gen] val iqrRe =
    raw"(?i)\bthe\s+interquartile\s+range\s+of\s+([a-z_][a-z0-9_]*)\b".r

  /** Interquartile range: both percentiles in ONE aggregate pass (the
    * same sort-based percentile computes both cutpoints). */
  def iqrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    iqrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        measure <- strongColumn(m.group(1), slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(PERCENTILE($measure, 0.75) - " +
          s"PERCENTILE($measure, 0.25), 4) AS agg_value FROM $fact",
        0.9, "template_iqr")).take(1)
    }

  // "the share of courses where the median score exceeds the mean" —
  // a skew-indicator share over group aggregates
  private[gen] val medianExceedsMeanShareRe =
    (raw"(?i)\bthe\s+(?:share|percentage|fraction)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+where\s+the\s+median\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(exceeds|is\s+above|is\s+below)\s+the\s+" +
      raw"(?:mean|average)\b").r

  /** Median-exceeds-mean share: both aggregates per group in ONE pass,
    * single-row collapse of the |G| group rows. */
  def medianExceedsMeanShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    medianExceedsMeanShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(3).toLowerCase.endsWith("below")) "<" else ">"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(2), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN med $op mean THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT ${eG.fromColumn}, MEDIAN($measure) AS med, " +
          s"AVG($measure) AS mean FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn}) t",
        0.9, "template_median_exceeds_mean_share")).take(1)
    }

  // "the number of times the yearly average score changed direction" —
  // sign flips in the period-aggregate series
  private[gen] val directionChangesRe =
    (raw"(?i)\bthe\s+number\s+of\s+times\s+the\s+([a-z_][a-z0-9_]*?)ly\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+changed\s+direction\b").r

  /** Direction changes: one grouped pass collapses the corpus to |P|
    * period rows; two LAG layers over the tiny frame expose the
    * consecutive delta signs and count the flips. */
  def directionChangesCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    directionChangesRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        periodCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        measure <- strongColumn(m.group(2), slice.tables(fact)).toSeq
        if measure != periodCol
      } yield Candidate(
        s"WITH y AS (SELECT $periodCol AS p, AVG($measure) AS a FROM $fact " +
          s"GROUP BY $periodCol), " +
          s"d AS (SELECT p, a - LAG(a) OVER (ORDER BY p) AS df FROM y), " +
          s"s AS (SELECT p, SIGN(df) AS sg FROM d WHERE df IS NOT NULL) " +
          s"SELECT COUNT(*) AS agg_value FROM (SELECT sg, LAG(sg) OVER " +
          s"(ORDER BY p) AS pg FROM s) t WHERE pg IS NOT NULL AND sg <> pg",
        0.9, "template_direction_changes")).take(1)
    }

  // "the proportion of score variance explained by course membership" —
  // eta-squared: between-group sum of squares over total
  private[gen] val varianceExplainedRe =
    (raw"(?i)\bthe\s+proportion\s+of\s+([a-z_][a-z0-9_]*)\s+variance\s+" +
      raw"explained\s+by\s+([a-z_][a-z0-9_]*)\s+membership\b").r

  /** Variance explained (η²): per-group means and sizes in one grouped
    * pass; the grand mean and total sum of squares are one-row scalar
    * subqueries (broadcast) — ANOVA between/total decomposition from
    * two corpus passes, both map-side-combined. */
  def varianceExplainedCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    varianceExplainedRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(2)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(1), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(SUM(n * POWER(ga - (SELECT AVG($measure) FROM " +
          s"${eG.fromTable}), 2)) / (SELECT VAR_POP($measure) * COUNT(*) " +
          s"FROM ${eG.fromTable}), 4) AS agg_value FROM " +
          s"(SELECT ${eG.fromColumn}, AVG($measure) AS ga, COUNT(*) AS n " +
          s"FROM ${eG.fromTable} GROUP BY ${eG.fromColumn}) g",
        0.9, "template_variance_explained")).take(1)
    }

  // "students in the overall top 10 by average who are not in the top 3
  // of any course" — a set difference of two rank cohorts
  private[gen] val rankSetDifferenceRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+in\s+the\s+overall\s+top\s+(\d+)\s+" +
      raw"by\s+(?:average|avg|mean)\s+who\s+are\s+not\s+in\s+the\s+" +
      raw"top\s+(\d+)\s+of\s+any\s+([a-z_][a-z0-9_]*)\b").r

  /** Rank set difference: the global cohort ranks over the |E|-sized
    * aggregate frame; the per-J cohort ranks inside J partitions (hash
    * shuffle on J, never a global window over the corpus); EXCEPT of
    * two key-sized sets, names resolved last. */
  def rankSetDifferenceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    rankSetDifferenceRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM ((SELECT ${eE.fromColumn} FROM " +
          s"(SELECT ${eE.fromColumn}, RANK() OVER (ORDER BY a DESC) AS r FROM " +
          s"(SELECT ${eE.fromColumn}, AVG($measure) AS a FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) x) y WHERE r <= ${m.group(2)}) " +
          s"EXCEPT (SELECT DISTINCT ${eE.fromColumn} FROM " +
          s"(SELECT ${eE.fromColumn}, RANK() OVER (PARTITION BY " +
          s"${eJ.fromColumn} ORDER BY $measure DESC) AS cr FROM " +
          s"${eE.fromTable}) z WHERE cr <= ${m.group(3)})) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_rank_set_difference")).take(1)
    }

  // "the enrollment-weighted average of course median scores"
  private[gen] val weightedGroupMedianRe =
    (raw"(?i)\bthe\s+enrollment[- ]weighted\s+(?:average|avg|mean)\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+median\s+([a-z_][a-z0-9_]*)\b").r

  /** Enrollment-weighted group median: counts and medians per group in
    * ONE pass, the weighted collapse over the |G| frame. */
  def weightedGroupMedianCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    weightedGroupMedianRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
        measure <- strongColumn(m.group(2), slice.tables(eG.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(SUM(n * med) / SUM(n), 4) AS agg_value FROM " +
          s"(SELECT COUNT(*) AS n, MEDIAN($measure) AS med FROM " +
          s"${eG.fromTable} GROUP BY ${eG.fromColumn}) t",
        0.9, "template_weighted_group_median")).take(1)
    }

  // "the gini coefficient of course enrollments" — inequality of group
  // sizes via the sorted-rank Gini formula
  private[gen] val giniEnrollmentRe =
    (raw"(?i)\bthe\s+gini\s+coefficient\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"enrollments?\b").r

  /** Gini coefficient of group sizes: counts per group in one pass,
    * ROW_NUMBER over the |G|-sized sorted frame, the closed-form
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n — never the O(G²) pair form. */
  def giniEnrollmentCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    giniEnrollmentRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
      } yield Candidate(
        s"WITH e AS (SELECT COUNT(*) AS n FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn}), " +
          s"r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS i FROM e) " +
          s"SELECT ROUND(2.0 * SUM(i * n) / (COUNT(*) * SUM(n)) - " +
          s"(COUNT(*) + 1.0) / COUNT(*), 4) AS agg_value FROM r",
        0.9, "template_gini_enrollment")).take(1)
    }

  // "the number of students whose course list is a subset of Ada
  // Adams's" — membership-set containment against a named example
  private[gen] val subsetContainmentRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+list\s+is\s+a\s+subset\s+of\s+" +
      raw"((?-i:[A-Z][\w-]*(?:\s+[A-Z][\w-]*)*))(?:'s)?\s*$$").r

  /** Subset containment count: "the number of Es whose J list is a
    * subset of NAME's" → entities with no membership outside the named
    * entity's set (double anti-membership: rows outside the example set
    * disqualify their entity), the example excluded from its own count.
    * Both NOT-IN sets are key-sized; the example set is broadcast. */
  def subsetContainmentCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    subsetContainmentRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val name = m.group(3).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT COUNT(DISTINCT s.${eE.fromColumn}) AS agg_value " +
          s"FROM ${eE.fromTable} s WHERE s.${eE.fromColumn} NOT IN " +
          s"(SELECT ${eE.toColumn} FROM $dimE WHERE $nameCol = '$name') " +
          s"AND s.${eE.fromColumn} NOT IN (SELECT s3.${eE.fromColumn} " +
          s"FROM ${eE.fromTable} s3 WHERE s3.${eJ.fromColumn} NOT IN " +
          s"(SELECT s2.${eJ.fromColumn} FROM ${eE.fromTable} s2 " +
          s"JOIN $dimE st2 ON st2.${eE.toColumn} = s2.${eE.fromColumn} " +
          s"WHERE st2.$nameCol = '$name'))",
        0.9, "template_subset_containment")).take(1)
    }

  // "the number of depts where every course has at least 50 students" —
  // a COUNT of groups passing a universal member threshold
  private[gen] val universalThresholdCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+where\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)\s+has\s+at\s+least\s+(\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Universal-threshold count: "the number of As where every J has at
    * least N Es" → per-(A, J) distinct-entity counts in one fact pass
    * through the broadcast dimension, the ∀ collapses to a grouped MIN,
    * single-row COUNT. */
  def universalThresholdCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    universalThresholdCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        attrCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT grp FROM " +
          s"(SELECT c.$attrCol AS grp, s.${eJ.fromColumn}, " +
          s"COUNT(DISTINCT s.${eE.fromColumn}) AS n FROM ${eJ.fromTable} s " +
          s"JOIN $dimJ c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attrCol, s.${eJ.fromColumn}) x GROUP BY grp " +
          s"HAVING MIN(n) >= ${m.group(3)}) t",
        0.9, "template_universal_threshold_count")).take(1)
    }

  // "the entropy of the grade distribution" — Shannon entropy of a
  // categorical column's frequency distribution
  private[gen] val categoryEntropyRe =
    (raw"(?i)\bthe\s+entropy\s+of\s+the\s+" +
      raw"([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\s+distribution\b").r

  /** Category entropy: grouped counts against the one-row total
    * (broadcast scalar), −Σ p·ln p over the |domain|-sized frame. */
  def categoryEntropyCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    categoryEntropyRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(1).trim.replaceAll("\\s+", "_")
      (for {
        fact <- slice.tables.keySet.toSeq.sorted
        catCol <- abbrevColumn(attrWord, slice.tables(fact)).toSeq
      } yield Candidate(
        s"SELECT ROUND(-SUM(p * LN(p)), 4) AS agg_value FROM " +
          s"(SELECT CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM $fact) " +
          s"AS p FROM $fact GROUP BY $catCol) t",
        0.9, "template_category_entropy")).take(1)
    }

  // "the average number of shared courses between pairs of students in
  // the same grade level" — mean pairwise set overlap within cohorts
  private[gen] val avgSharedMembershipRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+number\s+of\s+shared\s+" +
      raw"([a-z_][a-z0-9_]*)\s+between\s+pairs\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+the\s+same\s+([a-z_][a-z0-9_]*(?:\s+[a-z_][a-z0-9_]*)?)\b").r

  /** Average shared membership: "the avg number of shared Js between
    * pairs of Es in the same A" → shared counts from the J-keyed fact
    * self-join (degree-bounded fanout per J, never a corpus cross), the
    * all-pairs denominator n·(n−1)/2 computed from the dimension alone,
    * both per-cohort legs unioned into one weighted collapse. */
  def avgSharedMembershipCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgSharedMembershipRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).trim.replaceAll("\\s+", "_")
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        attrCol <- abbrevColumn(attrWord, slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(shared) AS DOUBLE) / SUM(pairs), 4) " +
          s"AS agg_value FROM (SELECT gl, COUNT(*) AS shared, 0 AS pairs " +
          s"FROM (SELECT st1.$attrCol AS gl, a.${eE.fromColumn} AS s1, " +
          s"b.${eE.fromColumn} AS s2 FROM ${eE.fromTable} a " +
          s"JOIN ${eE.fromTable} b ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"JOIN $dimE st1 ON st1.${eE.toColumn} = a.${eE.fromColumn} " +
          s"JOIN $dimE st2 ON st2.${eE.toColumn} = b.${eE.fromColumn} " +
          s"WHERE st1.$attrCol = st2.$attrCol) p GROUP BY gl " +
          s"UNION ALL SELECT $attrCol AS gl, 0 AS shared, " +
          s"COUNT(*) * (COUNT(*) - 1) / 2 AS pairs FROM $dimE " +
          s"GROUP BY $attrCol) u",
        0.9, "template_avg_shared_membership")).take(1)
    }

  // "courses where the score gap between ninth and tenth graders
  // exceeds 5" — per-group two-cohort conditional gap filter
  private[gen] val cohortGapFilterRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+the\s+([a-z_][a-z0-9_]*)\s+" +
      raw"gap\s+between\s+(first|second|third|fourth|fifth|sixth|seventh|" +
      raw"eighth|ninth|tenth|eleventh|twelfth)\s+and\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth)\s+graders\s+" +
      raw"(exceeds|is\s+above|is\s+below)\s+(\d+(?:\.\d+)?)\b").r

  /** Cohort-gap filter: "Js where the V gap between N1 and N2 graders
    * exceeds X" → both cohort averages as conditional CASE aggregates
    * in ONE grouped pass through the broadcast entity dimension, the
    * absolute gap in HAVING. */
  def cohortGapFilterCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortGapFilterRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (n1, n2) = (ordinals(m.group(3).toLowerCase), ordinals(m.group(4).toLowerCase))
      val op = if (m.group(5).toLowerCase.endsWith("below")) "<" else ">"
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(m.group(2), slice.tables(eJ.fromTable)).toSeq
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT s.${eJ.fromColumn} FROM ${eJ.fromTable} s " +
          s"JOIN ${eE.toTable} st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn} " +
          s"HAVING ABS(AVG(CASE WHEN st.$gradeCol = $n1 THEN s.$measure END) - " +
          s"AVG(CASE WHEN st.$gradeCol = $n2 THEN s.$measure END)) " +
          s"$op ${m.group(6)} " +
          s"ORDER BY s.${eJ.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_cohort_gap_filter")).take(1)
    }

  // "students who beat Ada Adams in every course they share with her" —
  // universal pairwise dominance against a named example
  private[gen] val namedDominanceRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+(?:beat|outscored|outperformed)\s+" +
      raw"((?-i:[A-Z][\w-]*(?:\s+[A-Z][\w-]*)*))\s+in\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)\s+they\s+share\s+with\s+(?:her|him|them)\b").r

  /** Named dominance: "Es who beat NAME in every J they share" → the
    * example's (J, V) rows are a key-sized broadcast frame; the fact
    * joins it on J, the ∀ collapses to a grouped MIN indicator per
    * entity (entities sharing nothing drop — no vacuous winners), the
    * example excluded, names resolved last. */
  def namedDominanceCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    namedDominanceRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val name = m.group(2).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM " +
          s"${eE.fromTable} s JOIN (SELECT ${eJ.fromColumn}, $measure FROM " +
          s"${eE.fromTable} s2 JOIN $dimE st2 " +
          s"ON st2.${eE.toColumn} = s2.${eE.fromColumn} " +
          s"WHERE st2.$nameCol = '$name') a " +
          s"ON a.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn} " +
          s"HAVING MIN(CASE WHEN s.$measure > a.$measure THEN 1 ELSE 0 END) = 1) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"WHERE st.$nameCol <> '$name' " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_named_dominance")).take(1)
    }

  // "the 90th percentile of per-student average scores" — a percentile
  // over group aggregates
  private[gen] val percentileOfGroupAggsRe =
    (raw"(?i)\bthe\s+(\d+)(?:th|st|nd|rd)\s+percentile\s+of\s+" +
      raw"per[- ]([a-z_][a-z0-9_]*)\s+(?:average|avg|mean)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Percentile of group aggregates: per-entity averages in one pass,
    * PERCENTILE over the group-sized frame. */
  def percentileOfGroupAggsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    percentileOfGroupAggsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val p = m.group(1).toInt / 100.0
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(m.group(3), slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(PERCENTILE(a, $p), 4) AS agg_value FROM " +
          s"(SELECT AVG($measure) AS a FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t",
        0.9, "template_percentile_of_group_aggs")).take(1)
    }

  // "courses whose enrollment is above the median course enrollment" —
  // group count vs the median of group counts
  private[gen] val aboveMedianCountRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+enrollment\s+is\s+" +
      raw"(above|below)\s+the\s+median\s+(?:[a-z_][a-z0-9_]*\s+)?" +
      raw"enrollment\b").r

  /** Above-median count: per-group counts in one pass, the median of
    * the count frame as a one-row scalar subquery broadcast into
    * HAVING. */
  def aboveMedianCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    aboveMedianCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(2).toLowerCase == "above") ">" else "<"
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        eG <- edgesInto(slice, fks, dimG)
      } yield Candidate(
        s"SELECT ${eG.fromColumn} FROM ${eG.fromTable} " +
          s"GROUP BY ${eG.fromColumn} HAVING COUNT(*) $op " +
          s"(SELECT MEDIAN(c) FROM (SELECT COUNT(*) AS c FROM " +
          s"${eG.fromTable} GROUP BY ${eG.fromColumn}) t) " +
          s"ORDER BY ${eG.fromColumn} LIMIT $DefaultLimit",
        0.9, "template_above_median_count")).take(1)
    }

  // "the pair of students with the most similar score profiles" —
  // argmin of mean |Δ| over co-membership pairs
  private[gen] val profileSimilarityRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"similar\s+([a-z_][a-z0-9_]*)\s+profiles?\b").r

  /** Minimum shared co-membership for a profile comparison to count:
    * pairs sharing fewer items are noise (one lucky overlap would beat
    * every dense pair). A documented surface convention like
    * DefaultLimit, not data-derived. */
  val ProfileMinSupport = 5

  /** Profile-similarity argmin: "the pair of Es with the most similar V
    * profiles" → self-join the fact on its OTHER dimension key (the
    * co-membership axis), mean |ΔV| per pair, keep pairs sharing >=
    * ProfileMinSupport items, global top-1 with a deterministic id
    * tiebreak. The self-join fans out per co-membership bucket (course
    * enrollment), never all-pairs over entities — the exact
    * small-cardinality analogue of the L1 profile distance; at corpus
    * scale this routes to the LSH near-dup path (`Similarity.
    * cosineNearDuplicates`) instead of the exact self-join. */
  def profileSimilarityArgminCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    profileSimilarityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        other <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE).toSeq
      } yield Candidate(
        s"SELECT s1, s2 FROM (SELECT a.${eE.fromColumn} AS s1, " +
          s"b.${eE.fromColumn} AS s2, AVG(ABS(a.$measure - b.$measure)) AS d " +
          s"FROM ${eE.fromTable} a JOIN ${eE.fromTable} b " +
          s"ON a.${other.fromColumn} = b.${other.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn} " +
          s"HAVING COUNT(*) >= $ProfileMinSupport) t " +
          s"ORDER BY d ASC, s1, s2 LIMIT 1",
        0.9, "template_profile_similarity_argmin")).take(1)
    }

  // "the minimum score needed to be in the top 10 percent" — the
  // boundary value of a global percentile band
  private[gen] val topDecileThresholdRe =
    (raw"(?i)\bthe\s+(minimum|maximum)\s+([a-z_][a-z0-9_]*)\s+needed\s+to\s+" +
      raw"be\s+in\s+the\s+(top|bottom)\s+(\d+(?:\.\d+)?)\s+(?:percent|%)\b").r

  /** Global percentile-band boundary: "the minimum V needed to be in
    * the top N percent" → PERCENT_RANK over V descending, MIN over the
    * band (ties included, exactly the rank semantics). The global
    * window mirrors those tie semantics; at corpus scale the same
    * boundary comes from `Sketches.kllQuantiles` /
    * `Profiler.exactPercentiles` (one sketch merge, no global sort) —
    * the same routing note as percentileRankCandidates. */
  def topDecileThresholdCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    topDecileThresholdRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val minSide = m.group(1).toLowerCase == "minimum"
      val top = m.group(3).toLowerCase == "top"
      // "minimum … in the bottom N" is the corpus floor, not a
      // threshold question — only the aligned phrasings are claimed
      if (minSide != top) Seq.empty
      else {
        val f = m.group(4).toDouble / 100.0
        val (agg, dir) = if (top) ("MIN", "DESC") else ("MAX", "ASC")
        (for {
          tbl <- slice.tables.keys.toSeq.sorted
          measure <- strongColumn(m.group(2), slice.tables(tbl)).toSeq
        } yield Candidate(
          s"SELECT $agg($measure) AS agg_value FROM (SELECT $measure, " +
            s"PERCENT_RANK() OVER (ORDER BY $measure $dir) AS pr FROM $tbl) t " +
            s"WHERE pr <= $f",
          0.9, "template_top_decile_threshold")).take(1)
      }
    }

  // "the share of students whose rank improved between 2022 and 2023" —
  // two-period rank comparison share
  private[gen] val rankTrendShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+rank\s+" +
      raw"(improved|rose|declined|dropped|worsened)\s+between\s+" +
      raw"(\d{4})\s+and\s+(\d{4})\b").r

  /** Rank-trend share: per-period entity ranks by average measure (the
    * window partitions by period, so each sort covers one period's
    * entity-aggregate frame — entity-count-sized, never the raw
    * corpus), self-join the two key-sized rank frames on the entity,
    * share with a lower (improved) rank in the later period. Measure
    * by elimination as in namedDominanceCandidates. */
  def rankTrendShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    rankTrendShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val improved = Set("improved", "rose").contains(m.group(2).toLowerCase)
      val cmp = if (improved) "<" else ">"
      val (y1, y2) = (m.group(3), m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(eE.fromTable)
        period <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == period)
      } yield Candidate(
        s"WITH r AS (SELECT $period, ${eE.fromColumn}, RANK() OVER " +
          s"(PARTITION BY $period ORDER BY AVG($measure) DESC) AS rk " +
          s"FROM ${eE.fromTable} WHERE $period IN ($y1, $y2) " +
          s"GROUP BY $period, ${eE.fromColumn}) " +
          s"SELECT ROUND(CAST(SUM(CASE WHEN b.rk $cmp a.rk THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM r a JOIN r b " +
          s"ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND a.$period = $y1 AND b.$period = $y2",
        0.9, "template_rank_trend_share")).take(1)
    }

  // "the share of scores within one standard deviation of the mean" —
  // z-score band membership share
  private[gen] val zscoreBandShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+within\s+" +
      raw"(one|two|three|\d+)\s+standard\s+deviations?\s+of\s+the\s+mean\b").r

  /** Z-score band share: one conditional-aggregate pass with the mean
    * and population stddev as scalar subqueries (two tiny broadcast
    * values, no window, no second shuffle of the fact). */
  def zscoreBandShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    zscoreBandShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val k = countWord(m.group(2))
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        tbl <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(tbl)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN ABS($measure - " +
          s"(SELECT AVG($measure) FROM $tbl)) <= $k * " +
          s"(SELECT STDDEV_POP($measure) FROM $tbl) THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*), 4) AS agg_value FROM $tbl",
        0.9, "template_zscore_band_share")).take(1)
    }

  // "the pair of courses sharing the largest fraction of their combined
  // students" — Jaccard-normalized co-membership argmax
  private[gen] val jaccardPairArgmaxRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+sharing\s+the\s+" +
      raw"largest\s+fraction\s+of\s+their\s+combined\s+([a-z_][a-z0-9_]*)\b").r

  /** Jaccard pair argmax: co-membership counts from the fact self-join
    * on the member key (fan-out bounded per member, never all-pairs
    * over groups), group sizes joined back from one grouped pass,
    * |A∩B| / (|A|+|B|−|A∩B|) ranked with a deterministic id tiebreak.
    * The exact small-cardinality form of MinHash set-similarity
    * (`Dedup.minHashNearDuplicates` is the corpus-scale route). */
  def jaccardPairArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    jaccardPairArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimG <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimG != dimE
        (eG, eE) <- bridges(fks, dimG, dimE)
      } yield {
        val (fact, g, mem) = (eG.fromTable, eG.fromColumn, eE.fromColumn)
        Candidate(
          s"SELECT c1, c2 FROM (SELECT a.$g AS c1, b.$g AS c2, " +
            s"CAST(COUNT(*) AS DOUBLE) / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) AS j " +
            s"FROM $fact a JOIN $fact b ON a.$mem = b.$mem AND a.$g < b.$g " +
            s"JOIN (SELECT $g, COUNT(*) AS n FROM $fact GROUP BY $g) ca " +
            s"ON ca.$g = a.$g " +
            s"JOIN (SELECT $g, COUNT(*) AS n FROM $fact GROUP BY $g) cb " +
            s"ON cb.$g = b.$g " +
            s"GROUP BY a.$g, b.$g) t " +
            s"ORDER BY j DESC, c1, c2 LIMIT 1",
          0.9, "template_jaccard_pair_argmax")
      }).take(1)
    }

  // "how many students are in the top 10 of more than one course" —
  // entities holding a per-group rank in multiple groups
  private[gen] val multiTopRankCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+are\s+in\s+the\s+top\s+" +
      raw"(\d+)\s+of\s+more\s+than\s+(one|two|three|\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Multi-top-rank count: per-group RANK (each window sort is one
    * group's membership, never the corpus), keep the top-N band,
    * count entities present in more than K distinct groups. Measure by
    * elimination as in namedDominanceCandidates. */
  def multiTopRankCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    multiTopRankCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = m.group(2).toInt
      val k = countWord(m.group(3))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimG <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimG
        (eE, eG) <- bridges(fks, dimE, dimG)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT ${eE.fromColumn} FROM " +
          s"(SELECT ${eE.fromColumn}, ${eG.fromColumn}, RANK() OVER " +
          s"(PARTITION BY ${eG.fromColumn} ORDER BY $measure DESC) AS rk " +
          s"FROM ${eE.fromTable}) r WHERE rk <= $n " +
          s"GROUP BY ${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT ${eG.fromColumn}) > $k) t",
        0.9, "template_multi_top_rank_count")).take(1)
    }

  // "the average score students got in their hardest course" — per-entity
  // pick of the group with the lowest group-wide average
  private[gen] val hardestCourseAvgRe =
    (raw"(?i)\bthe\s+average\s+([a-z_][a-z0-9_]*)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"got\s+in\s+their\s+(hardest|toughest|easiest)\s+([a-z_][a-z0-9_]*)\b").r

  /** Hardest-course average: per-group averages from ONE grouped pass
    * (group-count-sized, broadcast back onto the fact), each entity's
    * row in its lowest-average group picked by a window partitioned on
    * the ENTITY key (per-entity membership sort, never a corpus-wide
    * window), then one scalar AVG. Deterministic group-id tiebreak. */
  def hardestCourseAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    hardestCourseAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase == "easiest") "DESC" else "ASC"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        measure <- strongColumn(m.group(1), slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"WITH ca AS (SELECT ${eJ.fromColumn}, AVG($measure) AS cavg " +
          s"FROM ${eE.fromTable} GROUP BY ${eJ.fromColumn}) " +
          s"SELECT ROUND(AVG($measure), 4) AS agg_value FROM " +
          s"(SELECT s.$measure, ROW_NUMBER() OVER " +
          s"(PARTITION BY s.${eE.fromColumn} " +
          s"ORDER BY ca.cavg $dir, s.${eJ.fromColumn}) AS rn " +
          s"FROM ${eE.fromTable} s JOIN ca " +
          s"ON ca.${eJ.fromColumn} = s.${eJ.fromColumn}) t WHERE rn = 1",
        0.9, "template_hardest_course_avg")).take(1)
    }

  // "departments where every course's top scorer is a ninth grader" —
  // a universal quantifier over per-group argmax entities' attributes
  private[gen] val universalArgmaxAttrRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+where\s+(?:every|each)\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+top\s+([a-z]+)\s+is\s+an?\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?grader\b").r

  /** Universal argmax attribute: each group's top entity by the
    * elimination measure (ROW_NUMBER partitioned on the GROUP key with
    * an entity-id tiebreak — per-group sorts, and at corpus scale the
    * same frame comes from `GroupTopK.topK` with k=1, a bounded-heap
    * aggregate with no window at all), the |groups|-sized winner frame
    * joined to the entity dimension for the attribute, and the ∀ over
    * the grouping attribute encoded as a grouped MIN indicator. */
  def universalArgmaxAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    universalArgmaxAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinals.getOrElse(m.group(4).toLowerCase, m.group(4).toInt)
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        groupCol <- abbrevColumn(m.group(1), slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
        factCols = slice.tables(eJ.fromTable)
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH top AS (SELECT ${eJ.fromColumn}, ${eE.fromColumn} FROM " +
          s"(SELECT ${eJ.fromColumn}, ${eE.fromColumn}, ROW_NUMBER() OVER " +
          s"(PARTITION BY ${eJ.fromColumn} ORDER BY $measure DESC, " +
          s"${eE.fromColumn}) AS rn FROM ${eJ.fromTable}) t WHERE rn = 1) " +
          s"SELECT c.$groupCol FROM top JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = top.${eE.fromColumn} JOIN $dimJ c " +
          s"ON c.${eJ.toColumn} = top.${eJ.fromColumn} GROUP BY c.$groupCol " +
          s"HAVING MIN(CASE WHEN st.$gradeCol = $n THEN 1 ELSE 0 END) = 1 " +
          s"ORDER BY c.$groupCol LIMIT $DefaultLimit",
        0.9, "template_universal_argmax_attr")).take(1)
    }

  // "the year with the biggest improvement in average score over the
  // previous year" — adjacent-period delta argmax over period aggregates
  private[gen] val yoyDeltaArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+" +
      raw"(biggest|largest|greatest|smallest)\s+" +
      raw"(improvement|increase|gain|drop|decline|decrease)\s+in\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+over\s+the\s+" +
      raw"previous\s+([a-z_][a-z0-9_]*)\b").r

  /** Adjacent-period delta argmax: period averages in one grouped pass,
    * LAG over the |periods|-sized frame (a window over aggregates,
    * never the corpus), top-1 by delta with a deterministic period
    * tiebreak. */
  def yoyDeltaArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    yoyDeltaArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val positive = Set("improvement", "increase", "gain")(m.group(3).toLowerCase)
      val smallest = m.group(2).toLowerCase == "smallest"
      // biggest improvement = most positive delta; biggest drop = most
      // negative; "smallest" flips either reading
      val dir = if (positive ^ smallest) "DESC" else "ASC"
      (for {
        tbl <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(m.group(4), slice.tables(tbl)).toSeq
        period <- slice.tables(tbl)
          .find(_.toLowerCase.contains(m.group(1).toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT y FROM (SELECT $period AS y, AVG($measure) - " +
          s"LAG(AVG($measure)) OVER (ORDER BY $period) AS delta " +
          s"FROM $tbl GROUP BY $period) t WHERE delta IS NOT NULL " +
          s"ORDER BY delta $dir, y LIMIT 1",
        0.9, "template_yoy_delta_argmax")).take(1)
    }

  // "the grade level whose students have the widest range of average
  // scores" — spread of per-entity aggregates, grouped by an entity
  // attribute, argmax
  private[gen] val cohortAggRangeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z]+(?:[ _][a-z]+)?)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+have\s+the\s+(widest|largest|greatest|" +
      raw"narrowest|smallest)\s+range\s+of\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Cohort aggregate-range argmax: per-entity averages in one grouped
    * pass (entity-count-sized), the entity dimension joined back
    * (broadcast dim), MAX−MIN per attribute cohort over the key-sized
    * frame, top-1. No corpus window anywhere. */
  def cohortAggRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortAggRangeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("narrowest", "smallest")(m.group(3).toLowerCase)) "ASC" else "DESC"
      val attrWord = m.group(1).toLowerCase.replace(' ', '_')
      val vWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT gl FROM (SELECT st.$attr AS gl, MAX(a) - MIN(a) AS r " +
          s"FROM (SELECT ${eE.fromColumn}, AVG($measure) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) p " +
          s"JOIN $dimE st ON st.${eE.toColumn} = p.${eE.fromColumn} " +
          s"GROUP BY st.$attr) t ORDER BY r $dir, gl LIMIT 1",
        0.9, "template_cohort_agg_range_argmax")).take(1)
    }

  // "how many students scored above the course average in at least
  // three courses" — count of entities beating their group bar k times
  private[gen] val aboveAvgMultiCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+" +
      raw"(above|over|below|under)\s+the\s+([a-z_][a-z0-9_]*)\s+average\s+" +
      raw"in\s+at\s+least\s+(one|two|three|four|five|\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Above-group-average multi-count: group averages from one grouped
    * pass (group-count-sized, broadcast onto the fact), per-row
    * comparison, qualifying-group count per entity with a HAVING
    * threshold, COUNT of survivors. Two shuffles total, both keyed. */
  def aboveAvgMultiCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    aboveAvgMultiCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (Set("above", "over")(m.group(2).toLowerCase)) ">" else "<"
      val k = countWord(m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT s.${eE.fromColumn} " +
          s"FROM ${eE.fromTable} s JOIN (SELECT ${eJ.fromColumn}, " +
          s"AVG($measure) AS ca FROM ${eE.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) c " +
          s"ON c.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"WHERE s.$measure $op c.ca GROUP BY s.${eE.fromColumn} " +
          s"HAVING COUNT(*) >= $k) t",
        0.9, "template_above_avg_multi_count")).take(1)
    }

  // "the share of courses taken by both ninth and tenth graders" —
  // groups covered by two ordinal cohorts, over the full dimension
  private[gen] val dualCohortCoverageRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+" +
      raw"both\s+(first|second|third|fourth|fifth|sixth|seventh|eighth|" +
      raw"ninth|tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?\s+and\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?graders\b").r

  /** Dual-cohort coverage: one grouped pass over the fact (entity
    * dimension broadcast in) with two conditional-presence indicators,
    * survivors counted against the FULL dimension count (untouched
    * groups count in the denominator — a scalar subquery). */
  def dualCohortCoverageCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    dualCohortCoverageRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n1 = ordinals.getOrElse(m.group(2).toLowerCase, m.group(2).toInt)
      val n2 = ordinals.getOrElse(m.group(3).toLowerCase, m.group(3).toInt)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(COUNT(*) AS DOUBLE) / " +
          s"(SELECT COUNT(*) FROM $dimJ), 4) AS agg_value FROM " +
          s"(SELECT s.${eJ.fromColumn} FROM ${eJ.fromTable} s " +
          s"JOIN ${eE.toTable} st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn} " +
          s"HAVING SUM(CASE WHEN st.$gradeCol = $n1 THEN 1 ELSE 0 END) > 0 " +
          s"AND SUM(CASE WHEN st.$gradeCol = $n2 THEN 1 ELSE 0 END) > 0) t",
        0.9, "template_dual_cohort_coverage")).take(1)
    }

  // "the course with the longest run of years of rising average scores"
  // — gaps-and-islands streak over per-(group, period) aggregates
  private[gen] val courseStreakArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+longest\s+run\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\s+of\s+(rising|increasing|falling|declining)\s+" +
      raw"(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Streak argmax: (group, period) averages in one grouped pass, the
    * LAG/island windows partition on the GROUP key over that
    * |groups|·|periods| frame — never the corpus — and the run length
    * is a second tiny aggregate. Top-1 with a group-id tiebreak. */
  def courseStreakArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    courseStreakArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cmp = if (Set("rising", "increasing")(m.group(3).toLowerCase)) ">" else "<"
      val pWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      val vWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
        period <- slice.tables(eJ.fromTable)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield {
        val g = eJ.fromColumn
        Candidate(
          s"WITH ya AS (SELECT $g, $period, AVG($measure) AS a " +
            s"FROM ${eJ.fromTable} GROUP BY $g, $period), " +
            s"d AS (SELECT $g, $period, CASE WHEN a $cmp LAG(a) OVER " +
            s"(PARTITION BY $g ORDER BY $period) THEN 1 ELSE 0 END AS up " +
            s"FROM ya), " +
            s"gi AS (SELECT $g, up, SUM(CASE WHEN up = 0 THEN 1 ELSE 0 END) " +
            s"OVER (PARTITION BY $g ORDER BY $period) AS grp FROM d), " +
            s"s AS (SELECT $g, grp, SUM(up) AS len FROM gi GROUP BY $g, grp) " +
            s"SELECT $g FROM s GROUP BY $g ORDER BY MAX(len) DESC, $g LIMIT 1",
          0.9, "template_course_streak_argmax")
      }).take(1)
    }

  // "the share of students whose best and worst scores are in the same
  // department" — argmax/argmin attributes compared per entity
  private[gen] val extremeSameGroupShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+best\s+and\s+" +
      raw"worst\s+([a-z_][a-z0-9_]*)\s+are\s+in\s+the\s+same\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Extreme-same-group share: both extremes picked by windows
    * partitioned on the ENTITY key (per-entity membership sorts with a
    * deterministic group-id tiebreak), collapsed to one row per entity
    * in the same pass, the two group attributes joined in from the
    * broadcast dimension, share in a final scalar aggregate. */
  def extremeSameGroupShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    extremeSameGroupShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        eJ <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(3), slice.tables(e.toTable)).isDefined).toSeq
        attr <- abbrevColumn(m.group(3), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"WITH r AS (SELECT ${eE.fromColumn}, ${eJ.fromColumn}, " +
          s"ROW_NUMBER() OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $measure DESC, ${eJ.fromColumn}) AS rb, " +
          s"ROW_NUMBER() OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $measure ASC, ${eJ.fromColumn}) AS rw " +
          s"FROM ${eE.fromTable}), " +
          s"x AS (SELECT ${eE.fromColumn}, " +
          s"MAX(CASE WHEN rb = 1 THEN ${eJ.fromColumn} END) AS bc, " +
          s"MAX(CASE WHEN rw = 1 THEN ${eJ.fromColumn} END) AS wc " +
          s"FROM r GROUP BY ${eE.fromColumn}) " +
          s"SELECT ROUND(CAST(SUM(CASE WHEN cb.$attr = cw.$attr " +
          s"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value " +
          s"FROM x JOIN ${eJ.toTable} cb ON cb.${eJ.toColumn} = x.bc " +
          s"JOIN ${eJ.toTable} cw ON cw.${eJ.toColumn} = x.wc",
        0.9, "template_extreme_same_group_share")).take(1)
    }

  // "the correlation between course enrollment and average score" —
  // group-level size/performance correlation
  private[gen] val groupSizeCorrRe =
    (raw"(?i)\bthe\s+correlation\s+between\s+([a-z_][a-z0-9_]*)\s+" +
      raw"enrollment\s+and\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\b").r

  /** Group-size/performance correlation: per-group count and average
    * from ONE grouped pass, CORR over the group-count-sized frame. */
  def groupSizeCorrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupSizeCorrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CORR(n, a), 4) AS agg_value FROM " +
          s"(SELECT ${eJ.fromColumn}, COUNT(*) AS n, AVG($measure) AS a " +
          s"FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_group_size_performance_corr")).take(1)
    }

  // "the youngest student among those with an average score above 75" —
  // attribute argmin over a qualifying-entity subquery
  private[gen] val qualifiedAttrArgminRe =
    (raw"(?i)\bthe\s+(youngest|oldest)\s+([a-z_][a-z0-9_]*)\s+among\s+" +
      raw"those\s+with\s+an?\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"(above|over|below|under)\s+(\d+(?:\.\d+)?)\b").r

  /** Qualified attribute argmin: per-entity averages in one grouped
    * pass, the qualifying filter applied on the entity-count-sized
    * frame, the dimension joined (broadcast), top-1 by the age
    * attribute with a deterministic name tiebreak. */
  def qualifiedAttrArgminCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    qualifiedAttrArgminRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(1).toLowerCase == "youngest") "ASC" else "DESC"
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val vWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        ageCol <- slice.tables(dimE).find(_.toLowerCase == "age").toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $nameCol FROM (SELECT st.$nameCol, st.$ageCol " +
          s"FROM $dimE st JOIN (SELECT ${eE.fromColumn}, AVG($measure) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) p " +
          s"ON p.${eE.fromColumn} = st.${eE.toColumn} " +
          s"WHERE p.a $op ${m.group(5)}) t " +
          s"ORDER BY $ageCol $dir, $nameCol LIMIT 1",
        0.9, "template_qualified_attr_argmin")).take(1)
    }

  // "the average gap between consecutive distinct scores" — mean
  // adjacent difference over the value domain
  private[gen] val consecutiveGapAvgRe =
    (raw"(?i)\bthe\s+average\s+gap\s+between\s+consecutive\s+distinct\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Consecutive-gap average: DISTINCT collapses the fact to its VALUE
    * DOMAIN (one map-side-combined pass), the LAG window sorts that
    * domain-sized frame only. */
  def consecutiveGapAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    consecutiveGapAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        tbl <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(tbl)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG($measure - prev), 4) AS agg_value FROM " +
          s"(SELECT $measure, LAG($measure) OVER (ORDER BY $measure) AS prev " +
          s"FROM (SELECT DISTINCT $measure FROM $tbl) d) t " +
          s"WHERE prev IS NOT NULL",
        0.9, "template_consecutive_gap_avg")).take(1)
    }

  // "for each grade level, the course taken by the most of its
  // students" — per-cohort popularity argmax list
  private[gen] val cohortPopularRe =
    (raw"(?i)\bfor\s+each\s+([a-z]+(?:[ _][a-z]+)?),\s+the\s+" +
      raw"([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+the\s+most\b").r

  /** Cohort popularity argmax: one grouped pass keyed on (cohort
    * attribute, group key) — the entity dimension broadcasts in — then
    * ROW_NUMBER partitioned on the COHORT over that attribute-domain ×
    * group frame (never the corpus), keep rank 1 per cohort. */
  def cohortPopularCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortPopularRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(1).toLowerCase.replace(' ', '_')
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- fks.filter(e => e.fromTable == eJ.fromTable && e.toTable != dimJ &&
          slice.tables.contains(e.toTable) &&
          strongColumn(attrWord, slice.tables(e.toTable)).isDefined)
        attr <- strongColumn(attrWord, slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT gl, ${eJ.fromColumn} FROM (SELECT st.$attr AS gl, " +
          s"s.${eJ.fromColumn}, ROW_NUMBER() OVER (PARTITION BY st.$attr " +
          s"ORDER BY COUNT(*) DESC, s.${eJ.fromColumn}) AS rn " +
          s"FROM ${eJ.fromTable} s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY st.$attr, s.${eJ.fromColumn}) t WHERE rn = 1 " +
          s"ORDER BY gl",
        0.9, "template_cohort_popular_course")).take(1)
    }

  // "the number of students whose worst score is still above the
  // overall average" — per-entity floor vs a global scalar bar
  private[gen] val floorAboveAvgCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"(worst|lowest|best|highest)\s+([a-z_][a-z0-9_]*)\s+is\s+" +
      raw"(?:still\s+)?(above|over|below|under)\s+the\s+overall\s+average\b").r

  /** Floor-above-average count: per-entity MIN/MAX in one grouped pass,
    * the global average as a one-row scalar subquery broadcast into
    * HAVING, COUNT of survivors. */
  def floorAboveAvgCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    floorAboveAvgCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (Set("worst", "lowest")(m.group(2).toLowerCase)) "MIN" else "MAX"
      val op = if (Set("above", "over")(m.group(4).toLowerCase)) ">" else "<"
      val vWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT ${eE.fromColumn} " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn} " +
          s"HAVING $agg($measure) $op " +
          s"(SELECT AVG($measure) FROM ${eE.fromTable})) t",
        0.9, "template_floor_above_avg_count")).take(1)
    }

  // "the average number of distinct grades per course" — mean per-group
  // distinct cardinality
  private[gen] val avgDistinctPerGroupRe =
    (raw"(?i)\bthe\s+average\s+number\s+of\s+distinct\s+" +
      raw"([a-z_][a-z0-9_]*)\s+per\s+([a-z_][a-z0-9_]*)\b").r

  /** Average distinct per group: per-group COUNT(DISTINCT v) in one
    * grouped pass (a two-phase distinct aggregate with map-side
    * partials), AVG over the group-count-sized frame. */
  def avgDistinctPerGroupCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgDistinctPerGroupRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        valueCol <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(d), 4) AS agg_value FROM " +
          s"(SELECT ${eJ.fromColumn}, COUNT(DISTINCT $valueCol) AS d " +
          s"FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_avg_distinct_per_group")).take(1)
    }

  // "the student who shares the most courses with Ada Adams" — named
  // co-membership overlap argmax
  private[gen] val namedOverlapArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+who\s+shares\s+the\s+most\s+" +
      raw"([a-z_][a-z0-9_]*)\s+with\s+" +
      raw"((?-i:[A-Z][\w-]*(?:\s+[A-Z][\w-]*)*))\b").r

  /** Named overlap argmax: the example's membership rows are a
    * key-sized frame joined on the co-membership axis (per-group
    * fan-out, never all-pairs), counts per entity, top-1 with
    * name-then-id tiebreaks (fixture names can repeat). */
  def namedOverlapArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    namedOverlapArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val name = m.group(3).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
      } yield Candidate(
        s"SELECT $nameCol FROM (SELECT st.${eE.toColumn} AS sid, " +
          s"st.$nameCol AS $nameCol, COUNT(*) AS c FROM ${eE.fromTable} s " +
          s"JOIN (SELECT s2.${eJ.fromColumn} FROM ${eE.fromTable} s2 " +
          s"JOIN $dimE st2 ON st2.${eE.toColumn} = s2.${eE.fromColumn} " +
          s"WHERE st2.$nameCol = '$name') a " +
          s"ON a.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"WHERE st.$nameCol <> '$name' " +
          s"GROUP BY st.${eE.toColumn}, st.$nameCol) t " +
          s"ORDER BY c DESC, $nameCol, sid LIMIT 1",
        0.9, "template_named_overlap_argmax")).take(1)
    }

  // "the average score in courses with more than 60 students" — an
  // aggregate restricted to groups passing a size bar
  private[gen] val sizeFilteredAvgRe =
    (raw"(?i)\bthe\s+(?:average|avg|mean)\s+([a-z_][a-z0-9_]*)\s+in\s+" +
      raw"([a-z_][a-z0-9_]*)\s+with\s+(more|fewer|less)\s+than\s+(\d+)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Size-filtered average: qualifying group keys from one grouped pass
    * (group-count-sized), IN-subquery semi-join back onto the fact
    * (plans as LeftSemi with the key frame broadcast), one scalar AVG. */
  def sizeFilteredAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    sizeFilteredAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val op = if (m.group(3).toLowerCase == "more") ">" else "<"
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG($measure), 4) AS agg_value FROM ${eJ.fromTable} " +
          s"WHERE ${eJ.fromColumn} IN (SELECT ${eJ.fromColumn} FROM " +
          s"${eJ.fromTable} GROUP BY ${eJ.fromColumn} " +
          s"HAVING COUNT(*) $op ${m.group(4)})",
        0.9, "template_size_filtered_avg")).take(1)
    }

  // "the percentage of total score points earned by ninth graders" —
  // one cohort's share of a global SUM
  private[gen] val cohortSumShareRe =
    (raw"(?i)\bthe\s+percentage\s+of\s+total\s+([a-z_][a-z0-9_]*)\s+" +
      raw"points\s+[a-z]+\s+by\s+(first|second|third|fourth|fifth|sixth|" +
      raw"seventh|eighth|ninth|tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?" +
      raw"[- ]?graders\b").r

  /** Cohort sum share: ONE pass over the fact (entity dimension
    * broadcast in) with a conditional and an unconditional SUM — no
    * second scan, no subquery. */
  def cohortSumShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortSumShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinals.getOrElse(m.group(2).toLowerCase, m.group(2).toInt)
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(fact)).toSeq
        eE <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          gradeColumn(slice.tables(e.toTable)).isDefined)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN st.$gradeCol = $n THEN s.$measure " +
          s"ELSE 0 END) AS DOUBLE) / SUM(s.$measure), 4) AS agg_value " +
          s"FROM $fact s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn}",
        0.9, "template_cohort_sum_share")).take(1)
    }

  // "students who received every grade letter at least once" —
  // value-domain-complete entities (division over the value domain)
  private[gen] val gradeDomainSpanRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+[a-z]+\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)\s+letter\s+at\s+least\s+once\b").r

  /** Value-domain span: per-entity distinct-value counts in one grouped
    * pass, the full domain cardinality as a one-row scalar subquery —
    * relational division against the VALUE domain, no join of the fact
    * with itself. */
  def gradeDomainSpanCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    gradeDomainSpanRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        valueCol <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${eE.fromColumn} FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT $valueCol) = " +
          s"(SELECT COUNT(DISTINCT $valueCol) FROM ${eE.fromTable})) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_grade_domain_span")).take(1)
    }

  // "the ratio of A grades to F grades" — two conditional counts of the
  // same categorical column, divided
  private[gen] val valueRatioRe =
    (raw"(?i)\bthe\s+ratio\s+of\s+([A-Za-z0-9]+)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"to\s+([A-Za-z0-9]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Value ratio: ONE conditional-aggregate pass, no subquery. The two
    * category words must name the same linked column, and when a mined
    * value domain exists both values must be in it (no-fabrication). */
  def valueRatioCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    valueRatioRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      if (m.group(2).toLowerCase != m.group(4).toLowerCase) Seq.empty
      else {
        val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
        val (v1, v2) = (m.group(1), m.group(3))
        (for {
          tbl <- slice.tables.keys.toSeq.sorted
          colName <- strongColumn(vWord, slice.tables(tbl)).toSeq
          domain = values(tbl).getOrElse(colName, Seq.empty)
          if domain.isEmpty || (domain.contains(v1) && domain.contains(v2))
        } yield Candidate(
          s"SELECT ROUND(CAST(SUM(CASE WHEN $colName = '$v1' THEN 1 ELSE 0 END) " +
            s"AS DOUBLE) / SUM(CASE WHEN $colName = '$v2' THEN 1 ELSE 0 END), 4) " +
            s"AS agg_value FROM $tbl",
          0.9, "template_value_ratio")).take(1)
      }
    }

  // "how many students achieved their personal best in each course" —
  // the distribution of per-entity argmax rows over groups
  private[gen] val bestCourseDistributionRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+their\s+" +
      raw"personal\s+best\s+in\s+each\s+([a-z_][a-z0-9_]*)\b").r

  /** Personal-best distribution: per-entity argmax via a window
    * partitioned on the ENTITY key (per-entity membership sorts, id
    * tiebreak), then one |entities|-sized grouped count per group.
    * Measure by elimination as in namedDominanceCandidates. */
  def bestCourseDistributionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    bestCourseDistributionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT ${eJ.fromColumn}, COUNT(*) AS n FROM " +
          s"(SELECT ${eE.fromColumn}, ${eJ.fromColumn} FROM " +
          s"(SELECT ${eE.fromColumn}, ${eJ.fromColumn}, ROW_NUMBER() OVER " +
          s"(PARTITION BY ${eE.fromColumn} ORDER BY $measure DESC, " +
          s"${eJ.fromColumn}) AS rn FROM ${eE.fromTable}) r WHERE rn = 1) t " +
          s"GROUP BY ${eJ.fromColumn} ORDER BY ${eJ.fromColumn}",
        0.9, "template_best_course_distribution")).take(1)
    }

  // "how many courses have a unique top scorer" — groups whose maximum
  // is achieved by exactly one row
  private[gen] val uniqueArgmaxCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+have\s+a\s+unique\s+" +
      raw"top\s+([a-z]+)\b").r

  /** Unique-argmax count: group maxima from one grouped pass
    * (group-count-sized, joined back — AQE broadcasts it), count rows
    * AT the maximum per group, keep singletons. No window at all. */
  def uniqueArgmaxCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    uniqueArgmaxCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        factCols = slice.tables(eJ.fromTable)
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT s.${eJ.fromColumn} " +
          s"FROM ${eJ.fromTable} s JOIN (SELECT ${eJ.fromColumn} AS cid, " +
          s"MAX($measure) AS mx FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) m ON m.cid = s.${eJ.fromColumn} " +
          s"AND s.$measure = m.mx GROUP BY s.${eJ.fromColumn} " +
          s"HAVING COUNT(*) = 1) t",
        0.9, "template_unique_argmax_count")).take(1)
    }

  // "the gap between the two most popular courses by enrollment" —
  // difference of the top-2 group counts
  private[gen] val top2CountGapRe =
    (raw"(?i)\bthe\s+gap\s+between\s+the\s+two\s+most\s+popular\s+" +
      raw"([a-z_][a-z0-9_]*)\s+by\s+enrollment\b").r

  /** Top-2 count gap: group counts in one grouped pass, top-2 via
    * TakeOrderedAndProject (k=2 heap, no full sort), MAX−MIN of the
    * two survivors. */
  def top2CountGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    top2CountGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
      } yield Candidate(
        s"SELECT MAX(n) - MIN(n) AS agg_value FROM (SELECT COUNT(*) AS n " +
          s"FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn} " +
          s"ORDER BY n DESC LIMIT 2) t",
        0.9, "template_top2_count_gap")).take(1)
    }

  // "students whose average in math courses beats their average in
  // science courses" — two category-conditional averages per entity
  private[gen] val categorySelfCompareRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+average\s+in\s+([a-z0-9]+)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+(beats|exceeds|trails)\s+their\s+average\s+" +
      raw"in\s+([a-z0-9]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Category self-compare: ONE grouped pass per entity with two
    * conditional AVGs (the category attribute broadcast in from its
    * dimension), names resolved last. The two category values must
    * both live in the mined domain of the same dimension column
    * (no-fabrication). */
  def categorySelfCompareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    categorySelfCompareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      if (m.group(3).toLowerCase != m.group(6).toLowerCase) Seq.empty
      else {
        val (v1, v2) = (m.group(2), m.group(5))
        val op = if (m.group(4).toLowerCase == "trails") "<" else ">"
        (for {
          dimE <- uniqueTable(slice, m.group(1)).toSeq
          dimJ <- uniqueTable(slice, m.group(3)).toSeq
          if dimE != dimJ
          (eE, eJ) <- bridges(fks, dimE, dimJ)
          attr <- values(dimJ).collectFirst {
            case (c, dom) if dom.contains(v1) && dom.contains(v2) => c
          }.toSeq
          nameCol <- nameishColumn(slice.tables(dimE)).toSeq
          factCols = slice.tables(eE.fromTable)
          stringCols = values(eE.fromTable).keySet
          measure <- soleMeasure(factCols, stringCols, yearOrDate)
        } yield Candidate(
          s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM " +
            s"${eE.fromTable} s JOIN $dimJ c " +
            s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
            s"GROUP BY s.${eE.fromColumn} " +
            s"HAVING AVG(CASE WHEN c.$attr = '$v1' THEN s.$measure END) $op " +
            s"AVG(CASE WHEN c.$attr = '$v2' THEN s.$measure END)) m " +
            s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
            s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
          0.9, "template_category_self_compare")).take(1)
      }
    }

  // "the average share of courses per student with a grade of C or
  // better" — mean per-entity share of qualifying rows
  private[gen] val avgEntityShareRe =
    (raw"(?i)\bthe\s+average\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+per\s+" +
      raw"([a-z_][a-z0-9_]*)\s+with\s+a\s+([a-z_][a-z0-9_]*)\s+of\s+" +
      raw"([A-Za-z0-9]+)\s+or\s+better\b").r

  /** Average entity share: per-entity conditional share in one grouped
    * pass, AVG over the entity-count-sized frame. "Or better" reads
    * against the mined single-letter grade domain (A best), so the
    * qualifying set is explicit values — never a fabricated range. */
  def avgEntityShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    avgEntityShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val v = m.group(4)
      val vWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        valueCol <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        domain = values(eE.fromTable).getOrElse(valueCol, Seq.empty)
        if domain.nonEmpty && domain.forall(_.length == 1) && domain.contains(v)
        qualifying = domain.filter(_ <= v).sorted
        if qualifying.nonEmpty
      } yield Candidate(
        s"SELECT ROUND(AVG(sh), 4) AS agg_value FROM " +
          s"(SELECT ${eE.fromColumn}, CAST(SUM(CASE WHEN $valueCol IN " +
          s"(${qualifying.map("'" + _ + "'").mkString(",")}) THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*) AS sh FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) t",
        0.9, "template_avg_entity_share")).take(1)
    }

  // "the hardest course for ninth graders" — cohort-restricted group
  // argmin by average measure
  private[gen] val cohortGroupArgminRe =
    (raw"(?i)\bthe\s+(hardest|toughest|easiest)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"for\s+(first|second|third|fourth|fifth|sixth|seventh|eighth|" +
      raw"ninth|tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?graders\b").r

  /** Cohort group argmin: the cohort filter prunes the fact BEFORE the
    * single grouped pass (dimension broadcast in), top-1 by the group
    * average with an id tiebreak. Measure by elimination. */
  def cohortGroupArgminCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    cohortGroupArgminRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinals.getOrElse(m.group(3).toLowerCase, m.group(3).toInt)
      val dir = if (m.group(1).toLowerCase == "easiest") "DESC" else "ASC"
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
        factCols = slice.tables(eJ.fromTable)
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT s.${eJ.fromColumn} FROM ${eJ.fromTable} s " +
          s"JOIN ${eE.toTable} st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"WHERE st.$gradeCol = $n GROUP BY s.${eJ.fromColumn} " +
          s"ORDER BY AVG(s.$measure) $dir, s.${eJ.fromColumn} LIMIT 1",
        0.9, "template_cohort_group_argmin")).take(1)
    }
}
