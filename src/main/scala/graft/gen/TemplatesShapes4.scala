package graft.gen

import graft.core.{FkEdge, SchemaSlice}

/**
 * Eval-ladder question shapes, waves 55-72: overlap/jaccard, pareto,
 * run-length, margin and similarity shapes.
 *
 * One slice of the deterministic template library (split from the
 * single Templates object purely for source organization — behavior
 * and the candidate dispatch order live in [[Templates.candidates]]).
 * Shared helpers (column linking, literals, FK path resolution) come
 * through the self-type.
 */
private[gen] trait TemplatesShapes4 { this: Templates.type =>
  // "how many students improved their average every year they were
  // enrolled" — count of entities with strictly-monotone period series
  private[gen] val allYearsImprovingRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+(improved|increased|" +
      raw"declined|worsened)\s+their\s+average\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** All-periods-monotone count: (entity, period) averages in one
    * grouped pass, the LAG/first-row windows partition on the ENTITY
    * over that key-sized frame, MIN-indicator encodes the ∀; entities
    * with a single period drop (no trend to claim). */
  def allYearsImprovingCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    allYearsImprovingRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cmp = if (Set("improved", "increased")(m.group(2).toLowerCase)) ">" else "<"
      val pWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(eE.fromTable)
        period <- factCols.find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == period)
      } yield Candidate(
        s"WITH ya AS (SELECT ${eE.fromColumn}, $period, AVG($measure) AS a " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}, $period), " +
          s"d AS (SELECT ${eE.fromColumn}, CASE WHEN a $cmp LAG(a) OVER " +
          s"(PARTITION BY ${eE.fromColumn} ORDER BY $period) THEN 1 ELSE 0 " +
          s"END AS up, ROW_NUMBER() OVER (PARTITION BY ${eE.fromColumn} " +
          s"ORDER BY $period) AS rn FROM ya) " +
          s"SELECT COUNT(*) AS agg_value FROM (SELECT ${eE.fromColumn} " +
          s"FROM d GROUP BY ${eE.fromColumn} " +
          s"HAVING MIN(CASE WHEN rn = 1 THEN 1 ELSE up END) = 1 " +
          s"AND COUNT(*) > 1) t",
        0.9, "template_all_years_improving_count")).take(1)
    }

  // "the average course enrollment experienced by a typical student" —
  // mean over entities of their groups' mean size
  private[gen] val avgAvgGroupSizeRe =
    (raw"(?i)\bthe\s+average\s+([a-z_][a-z0-9_]*)\s+enrollment\s+" +
      raw"experienced\s+by\s+a\s+typical\s+([a-z_][a-z0-9_]*)\b").r

  /** Average-of-average group size: group sizes from one grouped pass
    * (group-count-sized, broadcast back), per-entity mean over their
    * memberships, one scalar AVG. Two keyed shuffles, both bounded. */
  def avgAvgGroupSizeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgAvgGroupSizeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"WITH n AS (SELECT ${eJ.fromColumn}, COUNT(*) AS en FROM " +
          s"${eJ.fromTable} GROUP BY ${eJ.fromColumn}) " +
          s"SELECT ROUND(AVG(m), 4) AS agg_value FROM " +
          s"(SELECT s.${eE.fromColumn}, AVG(n.en) AS m FROM " +
          s"${eJ.fromTable} s JOIN n ON n.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}) t",
        0.9, "template_avg_avg_group_size")).take(1)
    }

  // "how many pairs of courses share no students at all" — complement
  // of the co-membership pair set
  private[gen] val disjointPairCountRe =
    (raw"(?i)\bhow\s+many\s+pairs\s+of\s+([a-z_][a-z0-9_]*)\s+share\s+no\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Disjoint-pair count: total pairs C(|J|,2) from two scalar
    * subqueries minus the DISTINCT co-membership pairs (entity-keyed
    * self-join, per-entity fan-out — never all-pairs over groups). */
  def disjointPairCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    disjointPairCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"SELECT CAST((SELECT COUNT(*) FROM $dimJ) * " +
          s"((SELECT COUNT(*) FROM $dimJ) - 1) / 2 AS BIGINT) - COUNT(*) " +
          s"AS agg_value FROM (SELECT DISTINCT a.${eJ.fromColumn} AS c1, " +
          s"b.${eJ.fromColumn} AS c2 FROM ${eJ.fromTable} a " +
          s"JOIN ${eJ.fromTable} b ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND a.${eJ.fromColumn} < b.${eJ.fromColumn}) t",
        0.9, "template_disjoint_pair_count")).take(1)
    }

  // "students whose score in every course is within 10 points of their
  // own average" — a universal band around the entity's own mean
  private[gen] val selfBandUniversalRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+in\s+" +
      raw"every\s+([a-z_][a-z0-9_]*)\s+is\s+within\s+(\d+(?:\.\d+)?)\s+" +
      raw"points\s+of\s+their\s+own\s+average\b").r

  /** Self-band universal: the per-entity mean via a window PARTITIONED
    * on the entity key (per-entity membership frames, no global sort),
    * the ∀ as a grouped MAX-of-deviation bound, names resolved last. */
  def selfBandUniversalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    selfBandUniversalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${eE.fromColumn} FROM " +
          s"(SELECT ${eE.fromColumn}, $measure, AVG($measure) OVER " +
          s"(PARTITION BY ${eE.fromColumn}) AS a FROM ${eE.fromTable}) x " +
          s"GROUP BY ${eE.fromColumn} " +
          s"HAVING MAX(ABS($measure - a)) <= ${m.group(4)}) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_self_band_universal")).take(1)
    }

  // "the average position of Algebra in each student's personal ranking
  // of courses" — a named group's mean rank across entities
  private[gen] val namedGroupAvgRankRe =
    (raw"(?i)\bthe\s+average\s+position\s+of\s+" +
      raw"((?-i:[A-Z][\w+-]*(?:\s+[A-Z][\w+-]*)*))\s+in\s+each\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+personal\s+ranking\s+of\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Named-group average rank: RANK windows partition on the ENTITY key
    * (per-entity membership sorts), the named group filtered AFTER
    * ranking (the position is within the full personal list), one
    * scalar AVG. Measure by elimination. */
  def namedGroupAvgRankCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    namedGroupAvgRankRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val v = m.group(1).replace("'", "''")
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        jName <- nameishColumn(slice.tables(dimJ)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT ROUND(AVG(rk), 4) AS agg_value FROM " +
          s"(SELECT s.${eE.fromColumn}, RANK() OVER " +
          s"(PARTITION BY s.${eE.fromColumn} ORDER BY s.$measure DESC) AS rk, " +
          s"c.$jName FROM ${eE.fromTable} s JOIN $dimJ c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn}) t WHERE $jName = '$v'",
        0.9, "template_named_group_avg_rank")).take(1)
    }

  // "the number of distinct score values that appear in only one
  // course" — values exclusive to a single group
  private[gen] val exclusiveValueCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+distinct\s+([a-z_][a-z0-9_]*)\s+values\s+" +
      raw"that\s+appear\s+in\s+only\s+one\s+([a-z_][a-z0-9_]*)\b").r

  /** Exclusive-value count: DISTINCT (value, group) collapses the fact
    * once (map-side combined), per-value group counts over the
    * domain-sized frame, keep singletons, COUNT. */
  def exclusiveValueCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    exclusiveValueCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT $measure FROM " +
          s"(SELECT DISTINCT $measure, ${eJ.fromColumn} FROM " +
          s"${eJ.fromTable}) t GROUP BY $measure HAVING COUNT(*) = 1) u",
        0.9, "template_exclusive_value_count")).take(1)
    }

  // "the grade level with the highest share of A grades" — cohort
  // argmax by conditional share
  private[gen] val cohortShareArgmaxRe =
    (raw"(?i)\bthe\s+([a-z]+(?:[ _][a-z]+)?)\s+with\s+the\s+" +
      raw"(highest|largest|lowest|smallest)\s+share\s+of\s+" +
      raw"([A-Za-z0-9]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Cohort share argmax: ONE grouped pass keyed on the cohort
    * attribute (dimension broadcast in) with a conditional and an
    * unconditional count, top-1 over the attribute-domain-sized frame.
    * The category value must be in the mined domain (no-fabrication). */
  def cohortShareArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    cohortShareArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(1).toLowerCase.replace(' ', '_')
      val dir = if (Set("highest", "largest")(m.group(2).toLowerCase)) "DESC" else "ASC"
      val v = m.group(3)
      val vWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        valueCol <- strongColumn(vWord, slice.tables(fact)).toSeq
        domain = values(fact).getOrElse(valueCol, Seq.empty)
        if domain.contains(v)
        eE <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          strongColumn(attrWord, slice.tables(e.toTable)).isDefined)
        attr <- strongColumn(attrWord, slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT gl FROM (SELECT st.$attr AS gl, " +
          s"CAST(SUM(CASE WHEN s.$valueCol = '$v' THEN 1 ELSE 0 END) " +
          s"AS DOUBLE) / COUNT(*) AS sh FROM $fact s " +
          s"JOIN ${eE.toTable} st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY st.$attr) t ORDER BY sh $dir, gl LIMIT 1",
        0.9, "template_cohort_share_argmax")).take(1)
    }

  // "how many scores were recorded in each student's first year" —
  // rows landing in their entity's earliest period
  private[gen] val firstPeriodCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+were\s+recorded\s+in\s+" +
      raw"each\s+([a-z_][a-z0-9_]*)'s\s+first\s+([a-z_][a-z0-9_]*)\b").r

  /** First-period count: per-entity MIN(period) in one grouped pass
    * (entity-count-sized, joined back — AQE broadcasts it), count the
    * rows whose period equals their entity's first. */
  def firstPeriodCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    firstPeriodCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val pWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != fact
        eE <- fks.find(e => e.fromTable == fact && e.toTable == dimE).toSeq
        period <- slice.tables(fact)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM $fact s JOIN " +
          s"(SELECT ${eE.fromColumn}, MIN($period) AS y0 FROM $fact " +
          s"GROUP BY ${eE.fromColumn}) f " +
          s"ON f.${eE.fromColumn} = s.${eE.fromColumn} AND f.y0 = s.$period",
        0.9, "template_first_period_count")).take(1)
    }

  // "the course whose enrollment changed the most between 2022 and
  // 2023" — two-period group-count delta argmax
  private[gen] val enrollmentTrendArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+enrollment\s+" +
      raw"(changed|grew|increased|dropped|decreased)\s+the\s+most\s+" +
      raw"between\s+(\d{4})\s+and\s+(\d{4})\b").r

  /** Enrollment-trend argmax: the period filter prunes first, ONE
    * grouped pass with two conditional counts, top-1 by the delta
    * (absolute for "changed") with an id tiebreak. */
  def enrollmentTrendArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    enrollmentTrendArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val (y1, y2) = (m.group(3), m.group(4))
      val delta = s"(SUM(CASE WHEN year = $y2 THEN 1 ELSE 0 END) - " +
        s"SUM(CASE WHEN year = $y1 THEN 1 ELSE 0 END))"
      val ord = m.group(2).toLowerCase match {
        case "changed" => s"ABS$delta DESC"
        case "grew" | "increased" => s"$delta DESC"
        case _ => s"$delta ASC"
      }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        period <- slice.tables(eJ.fromTable)
          .find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT ${eJ.fromColumn} FROM ${eJ.fromTable} " +
          s"WHERE $period IN ($y1, $y2) GROUP BY ${eJ.fromColumn} " +
          s"ORDER BY ${ord.replace("year", period)}, ${eJ.fromColumn} LIMIT 1",
        0.9, "template_enrollment_trend_argmax")).take(1)
    }

  // "the share of students who never scored below 60" — per-entity
  // extreme against a threshold, as a share
  private[gen] val floorThresholdShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+who\s+never\s+" +
      raw"([a-z]+)\s+(below|under|above|over)\s+(\d+(?:\.\d+)?)\b").r

  /** Floor/ceiling threshold share: per-entity MIN (never below) or MAX
    * (never above) in one grouped pass, share over the entity-count-
    * sized frame. The verb stems to the measure column. */
  def floorThresholdShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    floorThresholdShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val below = Set("below", "under")(m.group(3).toLowerCase)
      val verb = m.group(2).toLowerCase
      val stems = Seq(verb, verb.stripSuffix("d"), verb.stripSuffix("ed")).distinct
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- stems.flatMap(strongColumn(_, slice.tables(eE.fromTable))).headOption.toSeq
      } yield {
        val (agg, cmp) = if (below) ("MIN", ">=") else ("MAX", "<=")
        Candidate(
          s"SELECT ROUND(CAST(SUM(CASE WHEN mn $cmp ${m.group(4)} THEN 1 " +
            s"ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
            s"(SELECT ${eE.fromColumn}, $agg($measure) AS mn FROM " +
            s"${eE.fromTable} GROUP BY ${eE.fromColumn}) t",
          0.9, "template_floor_threshold_share")
      }).take(1)
    }

  // "the median enrollment among courses in each department" — median
  // of group sizes per dimension attribute
  private[gen] val deptMedianEnrollmentRe =
    (raw"(?i)\bthe\s+median\s+enrollment\s+among\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+each\s+([a-z]+(?:[ _][a-z]+)?)\b").r

  /** Median enrollment per attribute: (attribute, group) counts in one
    * grouped pass, MEDIAN over the group-count-sized frame per
    * attribute value. */
  def deptMedianEnrollmentCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    deptMedianEnrollmentRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(2).toLowerCase.replace(' ', '_')
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        attr <- abbrevColumn(attrWord, slice.tables(dimJ)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
      } yield Candidate(
        s"SELECT $attr, CAST(MEDIAN(n) AS DOUBLE) AS med FROM " +
          s"(SELECT c.$attr, s.${eJ.fromColumn}, COUNT(*) AS n FROM " +
          s"${eJ.fromTable} s JOIN $dimJ c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr, s.${eJ.fromColumn}) t GROUP BY $attr " +
          s"ORDER BY $attr",
        0.9, "template_dept_median_enrollment")).take(1)
    }

  // "the difference in average score between the most and least popular
  // courses" — aggregate gap between popularity-extreme groups
  private[gen] val popularityExtremesGapRe =
    (raw"(?i)\bthe\s+difference\s+in\s+average\s+([a-z_][a-z0-9_]*)\s+" +
      raw"between\s+the\s+most\s+and\s+least\s+popular\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Popularity-extremes gap: per-group count and average in ONE
    * grouped pass; the two extremes are k=1 orderBy+limit subqueries
    * (TakeOrderedAndProject over the group-count-sized frame), their
    * difference a scalar. Deterministic id tiebreaks at both ends. */
  def popularityExtremesGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    popularityExtremesGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"WITH n AS (SELECT ${eJ.fromColumn}, COUNT(*) AS en, " +
          s"AVG($measure) AS a FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}), " +
          s"hi AS (SELECT a FROM n ORDER BY en DESC, ${eJ.fromColumn} LIMIT 1), " +
          s"lo AS (SELECT a FROM n ORDER BY en ASC, ${eJ.fromColumn} LIMIT 1) " +
          s"SELECT ROUND((SELECT a FROM hi) - (SELECT a FROM lo), 4) " +
          s"AS agg_value",
        0.9, "template_popularity_extremes_gap")).take(1)
    }

  // "the number of courses where ninth graders outnumber tenth graders"
  // — per-group cohort-count comparison
  private[gen] val cohortCountCompareRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+where\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?\s+graders\s+" +
      raw"outnumber\s+(first|second|third|fourth|fifth|sixth|seventh|" +
      raw"eighth|ninth|tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?" +
      raw"[- ]?graders\b").r

  /** Cohort count-compare count: ONE grouped pass over the fact (the
    * entity dimension broadcast in) with two conditional counts, a
    * HAVING comparison, COUNT of surviving groups. */
  def cohortCountCompareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortCountCompareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n1 = ordinals.getOrElse(m.group(2).toLowerCase, m.group(2).toInt)
      val n2 = ordinals.getOrElse(m.group(3).toLowerCase, m.group(3).toInt)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT s.${eJ.fromColumn} " +
          s"FROM ${eJ.fromTable} s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn} " +
          s"HAVING SUM(CASE WHEN st.$gradeCol = $n1 THEN 1 ELSE 0 END) > " +
          s"SUM(CASE WHEN st.$gradeCol = $n2 THEN 1 ELSE 0 END)) t",
        0.9, "template_cohort_count_compare_count")).take(1)
    }

  // "the average of each student's median score" — mean of per-entity
  // medians
  private[gen] val avgEntityMedianRe =
    (raw"(?i)\bthe\s+average\s+of\s+each\s+([a-z_][a-z0-9_]*)'s\s+" +
      raw"median\s+([a-z_][a-z0-9_]*)\b").r

  /** Average entity median: per-entity MEDIAN in one grouped pass (an
    * exact per-group percentile aggregate with map-side partials), AVG
    * over the entity-count-sized frame. */
  def avgEntityMedianCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgEntityMedianRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(md), 4) AS agg_value FROM " +
          s"(SELECT ${eE.fromColumn}, MEDIAN($measure) AS md FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}) t",
        0.9, "template_avg_entity_median")).take(1)
    }

  // "how many students scored within 5 points of the top score in at
  // least one course" — near-maximum membership count
  private[gen] val nearMaxMembershipRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+within\s+" +
      raw"(\d+(?:\.\d+)?)\s+points\s+of\s+the\s+top\s+([a-z_][a-z0-9_]*)\s+" +
      raw"in\s+at\s+least\s+one\s+([a-z_][a-z0-9_]*)\b").r

  /** Near-max membership count: group maxima in one grouped pass
    * (group-count-sized, joined back with the band predicate — AQE
    * broadcasts it), COUNT(DISTINCT entity) over the qualifying rows. */
  def nearMaxMembershipCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    nearMaxMembershipRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(DISTINCT s.${eE.fromColumn}) AS agg_value FROM " +
          s"${eE.fromTable} s JOIN (SELECT ${eJ.fromColumn}, " +
          s"MAX($measure) AS mx FROM ${eE.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) m " +
          s"ON m.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"AND s.$measure >= m.mx - ${m.group(2)}",
        0.9, "template_near_max_membership_count")).take(1)
    }

  // "the most common margin between a student's best and second-best
  // scores" — mode of per-entity top-2 gaps
  private[gen] val top2GapModeRe =
    (raw"(?i)\bthe\s+most\s+common\s+margin\s+between\s+a\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+best\s+and\s+second-best\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Top-2 gap mode: ranks via a window partitioned on the ENTITY key
    * (per-entity membership sorts, id tiebreak), the rank-1/rank-2
    * self-join is between two entity-count-sized frames on the entity
    * key, the mode one grouped top-1 over the gap domain. */
  def top2GapModeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    top2GapModeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        other <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE).toSeq
      } yield Candidate(
        s"WITH r AS (SELECT ${eE.fromColumn}, $measure, ROW_NUMBER() OVER " +
          s"(PARTITION BY ${eE.fromColumn} ORDER BY $measure DESC, " +
          s"${other.fromColumn}) AS rn FROM ${eE.fromTable}), " +
          s"g AS (SELECT a.${eE.fromColumn}, a.$measure - b.$measure AS gap " +
          s"FROM r a JOIN r b ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND a.rn = 1 AND b.rn = 2) " +
          s"SELECT gap FROM g GROUP BY gap ORDER BY COUNT(*) DESC, gap LIMIT 1",
        0.9, "template_top2_gap_mode")).take(1)
    }

  // "the average age of the oldest student in each course" — mean of
  // per-group attribute extremes
  private[gen] val avgGroupAttrMaxRe =
    (raw"(?i)\bthe\s+average\s+([a-z_][a-z0-9_]*)\s+of\s+the\s+" +
      raw"(oldest|youngest)\s+([a-z_][a-z0-9_]*)\s+in\s+each\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Average group attribute extreme: one grouped pass over the fact
    * (entity dimension broadcast in) taking MAX/MIN of the attribute
    * per group, AVG over the group-count-sized frame. */
  def avgGroupAttrMaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgGroupAttrMaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(2).toLowerCase == "oldest") "MAX" else "MIN"
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        attr <- strongColumn(m.group(1), slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT ROUND(AVG(mx), 4) AS agg_value FROM " +
          s"(SELECT s.${eJ.fromColumn}, $agg(st.$attr) AS mx FROM " +
          s"${eE.fromTable} s JOIN $dimE st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn}) t",
        0.9, "template_avg_group_attr_max")).take(1)
    }

  // "the number of years in which every course was offered" — periods
  // with full group coverage
  private[gen] val fullCoveragePeriodRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+in\s+which\s+" +
      raw"every\s+([a-z_][a-z0-9_]*)\s+was\s+[a-z]+\b").r

  /** Full-coverage period count: DISTINCT (period, group) collapses the
    * fact once, per-period group counts over the |periods|·|groups|
    * frame, compared against the dimension count (scalar subquery). */
  def fullCoveragePeriodCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    fullCoveragePeriodRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        period <- slice.tables(eJ.fromTable)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT $period FROM " +
          s"(SELECT DISTINCT $period, ${eJ.fromColumn} FROM " +
          s"${eJ.fromTable}) t GROUP BY $period " +
          s"HAVING COUNT(*) = (SELECT COUNT(*) FROM $dimJ)) u",
        0.9, "template_full_coverage_period_count")).take(1)
    }

  // "the student with the most scores above their course's average" —
  // argmax by count of above-group-average rows
  private[gen] val aboveAvgCountArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"([a-z_][a-z0-9_]*)\s+above\s+their\s+([a-z_][a-z0-9_]*)'s\s+" +
      raw"average\b").r

  /** Above-average count argmax: group averages broadcast onto the fact
    * (one grouped pass), per-entity qualifying counts, top-1 with
    * name-then-id tiebreaks. */
  def aboveAvgCountArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    aboveAvgCountArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $nameCol FROM (SELECT s.${eE.fromColumn}, COUNT(*) AS c " +
          s"FROM ${eE.fromTable} s JOIN (SELECT ${eJ.fromColumn}, " +
          s"AVG($measure) AS ca FROM ${eE.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) m " +
          s"ON m.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"WHERE s.$measure > m.ca GROUP BY s.${eE.fromColumn}) t " +
          s"JOIN $dimE st ON st.${eE.toColumn} = t.${eE.fromColumn} " +
          s"ORDER BY c DESC, $nameCol, t.${eE.fromColumn} LIMIT 1",
        0.9, "template_above_avg_count_argmax")).take(1)
    }

  // "the average difference between a course's maximum and median
  // score" — mean per-group max-to-median spread
  private[gen] val avgMaxMedianGapRe =
    (raw"(?i)\bthe\s+average\s+difference\s+between\s+a\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+maximum\s+and\s+median\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Average max-median gap: per-group MAX and exact MEDIAN in one
    * grouped pass, AVG of the spread over the group-count frame. */
  def avgMaxMedianGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgMaxMedianGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(mx - md), 4) AS agg_value FROM " +
          s"(SELECT ${eJ.fromColumn}, MAX($measure) AS mx, " +
          s"MEDIAN($measure) AS md FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_avg_max_median_gap")).take(1)
    }

  // "the year with the most balanced grade distribution" — per-period
  // category entropy argmax
  private[gen] val periodEntropyArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+balanced\s+" +
      raw"([a-z_][a-z0-9_]*)\s+distribution\b").r

  /** Period entropy argmax: (period, category) counts in one grouped
    * pass, per-period shares via a window over that tiny frame
    * (|periods|·|categories| rows), Shannon entropy per period, top-1. */
  def periodEntropyArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    periodEntropyArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      val cWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        period <- slice.tables(fact)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        catCol <- strongColumn(cWord, slice.tables(fact)).toSeq
        if catCol != period
      } yield Candidate(
        s"SELECT y FROM (SELECT $period AS y, -SUM(p * LN(p)) AS e FROM " +
          s"(SELECT $period, CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) " +
          s"OVER (PARTITION BY $period) AS p FROM $fact " +
          s"GROUP BY $period, $catCol) t GROUP BY y) u " +
          s"ORDER BY e DESC, y LIMIT 1",
        0.9, "template_period_entropy_argmax")).take(1)
    }

  // "students who took a course in every department but never got an A"
  // — relational division conjoined with a negated category filter
  private[gen] val divisionWithNegationRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+[a-z]+\s+a\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+every\s+([a-z_][a-z0-9_]*)\s+but\s+" +
      raw"never\s+[a-z]+\s+an?\s+([A-Za-z0-9]+)\b").r

  /** Division + negation: ONE grouped pass per entity carrying both the
    * distinct-attribute coverage count (the ∀) and a zero-count
    * indicator for the negated value — no second scan, no anti-join.
    * Higher confidence than the plain division template: ignoring the
    * "but never" clause silently over-answers, so the conjunctive read
    * must win the ranking. The negated value must be in the mined
    * domain of a fact column (no-fabrication). */
  def divisionWithNegationCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    divisionWithNegationRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val v = m.group(4)
      val attrWord = m.group(3).toLowerCase.replace(' ', '_')
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        attr <- abbrevColumn(attrWord, slice.tables(dimJ)).toSeq
        negCol <- values(eE.fromTable).collectFirst {
          case (c, dom) if dom.contains(v) => c
        }.toSeq
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT s.${eE.fromColumn} FROM " +
          s"${eE.fromTable} s JOIN $dimJ c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn} " +
          s"HAVING COUNT(DISTINCT c.$attr) = " +
          s"(SELECT COUNT(DISTINCT $attr) FROM $dimJ) " +
          s"AND SUM(CASE WHEN s.$negCol = '$v' THEN 1 ELSE 0 END) = 0) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.92, "template_division_with_negation")).take(1)
    }

  // "the average score of the middle 50 percent of students by average"
  // — trimmed mean over entity aggregates
  private[gen] val iqrTrimmedMeanRe =
    (raw"(?i)\bthe\s+average\s+([a-z_][a-z0-9_]*)\s+of\s+the\s+middle\s+" +
      raw"(\d+)\s+percent\s+of\s+([a-z_][a-z0-9_]*)\s+by\s+average\b").r

  /** IQR-trimmed entity mean: per-entity averages in one grouped pass,
    * PERCENT_RANK over the entity-count-sized frame (never the raw
    * corpus), mean of the symmetric middle band. */
  def iqrTrimmedMeanCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    iqrTrimmedMeanRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val half = m.group(2).toInt / 200.0
      val (lo, hi) = (0.5 - half, 0.5 + half)
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"WITH a AS (SELECT ${eE.fromColumn}, AVG($measure) AS av FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}), " +
          s"b AS (SELECT av, PERCENT_RANK() OVER (ORDER BY av) AS pr FROM a) " +
          s"SELECT ROUND(AVG(av), 4) AS agg_value FROM b " +
          s"WHERE pr >= $lo AND pr <= $hi",
        0.9, "template_iqr_trimmed_entity_mean")).take(1)
    }

  // "the average number of courses taken per student in each grade
  // level" — cohort-level mean membership count
  private[gen] val cohortAvgMembershipRe =
    (raw"(?i)\bthe\s+average\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"[a-z]+\s+per\s+([a-z_][a-z0-9_]*)\s+in\s+each\s+" +
      raw"([a-z]+(?:[ _][a-z]+)?)\b").r

  /** Cohort average membership: one grouped pass keyed on (cohort
    * attribute, entity) — the dimension broadcast in — then a tiny
    * second aggregate over the entity-count-sized frame per cohort. */
  def cohortAvgMembershipCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortAvgMembershipRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).toLowerCase.replace(' ', '_')
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        (eE, _) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT gl, ROUND(AVG(c), 4) AS a FROM (SELECT st.$attr AS gl, " +
          s"s.${eE.fromColumn}, COUNT(*) AS c FROM ${eE.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY st.$attr, s.${eE.fromColumn}) t GROUP BY gl " +
          s"ORDER BY gl",
        0.9, "template_cohort_avg_membership")).take(1)
    }

  // "how many distinct scores did the best student record" — distinct
  // cardinality of the argmax entity's rows
  private[gen] val argmaxEntityDistinctRe =
    (raw"(?i)\bhow\s+many\s+distinct\s+([a-z_][a-z0-9_]*)\s+did\s+the\s+" +
      raw"(best|worst)\s+([a-z_][a-z0-9_]*)\s+[a-z]+\b").r

  /** Argmax-entity distinct count: the best entity from a k=1
    * orderBy+limit over per-entity averages (TakeOrderedAndProject),
    * its rows filtered by a one-row scalar subquery, COUNT(DISTINCT). */
  def argmaxEntityDistinctCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    argmaxEntityDistinctRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "best") "DESC" else "ASC"
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"WITH b AS (SELECT ${eE.fromColumn} FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn} ORDER BY AVG($measure) $dir, " +
          s"${eE.fromColumn} LIMIT 1) " +
          s"SELECT COUNT(DISTINCT $measure) AS agg_value FROM " +
          s"${eE.fromTable} WHERE ${eE.fromColumn} = " +
          s"(SELECT ${eE.fromColumn} FROM b)",
        0.9, "template_argmax_entity_distinct_count")).take(1)
    }

  // "the widest score range recorded in a single course in a single
  // year" — max spread over (group, period) cells
  private[gen] val maxCellRangeRe =
    (raw"(?i)\bthe\s+(widest|narrowest)\s+([a-z_][a-z0-9_]*)\s+range\s+" +
      raw"recorded\s+in\s+a\s+single\s+([a-z_][a-z0-9_]*)\s+in\s+a\s+" +
      raw"single\s+([a-z_][a-z0-9_]*)\b").r

  /** Max cell range: per-(group, period) MIN/MAX in one grouped pass,
    * one scalar extreme over the cell-count-sized frame. */
  def maxCellRangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    maxCellRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(1).toLowerCase == "widest") "MAX" else "MIN"
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      val pWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
        period <- slice.tables(eJ.fromTable)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT $agg(mx - mn) AS agg_value FROM " +
          s"(SELECT ${eJ.fromColumn}, $period, MAX($measure) AS mx, " +
          s"MIN($measure) AS mn FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}, $period) t",
        0.9, "template_max_cell_range")).take(1)
    }

  // "the number of grade-level and department pairs with no
  // enrollments" — empty cells of a two-attribute cross product
  private[gen] val emptyCellCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z]+(?:[ _-][a-z]+)?)\s+and\s+" +
      raw"([a-z]+(?:[ _-][a-z]+)?)\s+pairs\s+with\s+no\s+enrollments?\b").r

  /** Empty-cell count: the occupied cells from one DISTINCT pass over
    * the fact (both dimensions broadcast in), subtracted from the
    * cross-product cardinality built from two scalar subqueries — the
    * cross product itself is never materialized. */
  def emptyCellCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    emptyCellCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val a1Word = m.group(1).toLowerCase.replaceAll("[ -]", "_")
      val a2Word = m.group(2).toLowerCase.replaceAll("[ -]", "_")
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        e1 <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          strongColumn(a1Word, slice.tables(e.toTable)).isDefined)
        a1 <- strongColumn(a1Word, slice.tables(e1.toTable)).toSeq
        e2 <- fks.filter(e => e.fromTable == fact && e.toTable != e1.toTable &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(a2Word, slice.tables(e.toTable)).isDefined)
        a2 <- abbrevColumn(a2Word, slice.tables(e2.toTable)).toSeq
      } yield Candidate(
        s"SELECT (SELECT COUNT(DISTINCT $a1) FROM ${e1.toTable}) * " +
          s"(SELECT COUNT(DISTINCT $a2) FROM ${e2.toTable}) - COUNT(*) " +
          s"AS agg_value FROM (SELECT DISTINCT st.$a1, c.$a2 FROM $fact s " +
          s"JOIN ${e1.toTable} st ON st.${e1.toColumn} = s.${e1.fromColumn} " +
          s"JOIN ${e2.toTable} c ON c.${e2.toColumn} = s.${e2.fromColumn}) t",
        0.9, "template_empty_cell_count")).take(1)
    }

  // "the score most frequently recorded as a student's personal worst"
  // — mode of per-entity extremes
  private[gen] val entityMinModeRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+most\s+frequently\s+recorded\s+" +
      raw"as\s+a\s+([a-z_][a-z0-9_]*)'s\s+personal\s+(worst|best)\b").r

  /** Entity extreme mode: per-entity MIN/MAX in one grouped pass, mode
    * over the entity-count-sized frame with a value tiebreak. */
  def entityMinModeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    entityMinModeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(3).toLowerCase == "worst") "MIN" else "MAX"
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT mn FROM (SELECT ${eE.fromColumn}, $agg($measure) AS mn " +
          s"FROM ${eE.fromTable} GROUP BY ${eE.fromColumn}) t GROUP BY mn " +
          s"ORDER BY COUNT(*) DESC, mn LIMIT 1",
        0.9, "template_entity_min_mode")).take(1)
    }

  // "the average score across each student's final year" — aggregate
  // restricted to every entity's own last (or first) period
  private[gen] val entityLastPeriodAvgRe =
    (raw"(?i)\bthe\s+average\s+([a-z_][a-z0-9_]*)\s+across\s+each\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+(final|last|first)\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Entity last-period average: per-entity MAX/MIN(period) in one
    * grouped pass (entity-count-sized, joined back — AQE broadcasts),
    * one scalar AVG over the matching rows. */
  def entityLastPeriodAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    entityLastPeriodAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(3).toLowerCase == "first") "MIN" else "MAX"
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      val pWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        period <- slice.tables(eE.fromTable)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG($measure), 4) AS agg_value FROM " +
          s"${eE.fromTable} s JOIN (SELECT ${eE.fromColumn}, " +
          s"$agg($period) AS y1 FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}) f " +
          s"ON f.${eE.fromColumn} = s.${eE.fromColumn} AND f.y1 = s.$period",
        0.9, "template_entity_last_period_avg")).take(1)
    }

  // "the pair of departments with the most similar grade distributions"
  // — L1 distance between per-attribute category share vectors
  private[gen] val deptDistributionSimilarityRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"similar\s+([a-z_][a-z0-9_]*)\s+distributions\b").r

  /** Distribution-similarity pair: (attribute, category) counts in ONE
    * grouped pass, shares via a window over that tiny frame, the pair
    * join is category-keyed over |attrs|·|categories| rows (never the
    * corpus), argmin with a deterministic pair tiebreak. */
  def deptDistributionSimilarityCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    deptDistributionSimilarityRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        catCol <- strongColumn(cWord, slice.tables(fact)).toSeq
        eJ <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(1), slice.tables(e.toTable)).isDefined)
        attr <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"WITH d AS (SELECT c.$attr, s.$catCol, COUNT(*) AS n FROM $fact s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr, s.$catCol), " +
          s"p AS (SELECT $attr, $catCol, CAST(n AS DOUBLE) / SUM(n) OVER " +
          s"(PARTITION BY $attr) AS sh FROM d) " +
          s"SELECT d1, d2 FROM (SELECT a.$attr AS d1, b.$attr AS d2, " +
          s"SUM(ABS(a.sh - b.sh)) AS dist FROM p a JOIN p b " +
          s"ON a.$catCol = b.$catCol AND a.$attr < b.$attr " +
          s"GROUP BY a.$attr, b.$attr) t ORDER BY dist ASC, d1, d2 LIMIT 1",
        0.9, "template_dept_distribution_similarity")).take(1)
    }

  // "students ranked in the top 3 of their grade level by average
  // score" — per-cohort top-k membership list
  private[gen] val cohortTopkMembersRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+ranked\s+in\s+the\s+top\s+(\d+)\s+of\s+" +
      raw"their\s+([a-z]+(?:[ _][a-z]+)?)\s+by\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Cohort top-k members: per-entity averages in one grouped pass, the
    * rank window partitions on the COHORT attribute over the
    * entity-count-sized frame (id tiebreak), k-band filter, names out. */
  def cohortTopkMembersCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortTopkMembersRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).toLowerCase.replace(' ', '_')
      val vWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"SELECT $nameCol FROM (SELECT st.$nameCol, ROW_NUMBER() OVER " +
          s"(PARTITION BY st.$attr ORDER BY a DESC, p.${eE.fromColumn}) AS rn " +
          s"FROM (SELECT ${eE.fromColumn}, AVG($measure) AS a FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}) p JOIN $dimE st " +
          s"ON st.${eE.toColumn} = p.${eE.fromColumn}) t " +
          s"WHERE rn <= ${m.group(2)} ORDER BY $nameCol LIMIT $DefaultLimit",
        0.9, "template_cohort_topk_members")).take(1)
    }

  // "the year-over-year change in the number of active students" —
  // distinct-entity deltas over adjacent periods
  private[gen] val yoyActiveDeltaRe =
    (raw"(?i)\bthe\s+year-over-year\s+change\s+in\s+the\s+number\s+of\s+" +
      raw"active\s+([a-z_][a-z0-9_]*)\b").r

  /** YoY active delta: per-period distinct-entity counts in one grouped
    * pass, LAG over the |periods|-sized frame. */
  def yoyActiveDeltaCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    yoyActiveDeltaRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        period <- slice.tables(eE.fromTable)
          .find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT y, d FROM (SELECT $period AS y, " +
          s"COUNT(DISTINCT ${eE.fromColumn}) - " +
          s"LAG(COUNT(DISTINCT ${eE.fromColumn})) OVER (ORDER BY $period) " +
          s"AS d FROM ${eE.fromTable} GROUP BY $period) t " +
          s"WHERE d IS NOT NULL ORDER BY y",
        0.9, "template_yoy_active_delta")).take(1)
    }

  // "the student whose yearly average scores have the steepest upward
  // trend" — per-entity regression slope argmax
  private[gen] val entitySlopeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+yearly\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\s+have\s+the\s+steepest\s+" +
      raw"(upward|downward)\s+trend\b").r

  /** Entity slope argmax: (entity, period) averages in one grouped
    * pass, REGR_SLOPE per entity over that key-sized frame (a
    * declarative aggregate with partials — no window), single-period
    * entities dropped (no trend to claim), top-1 with an id tiebreak. */
  def entitySlopeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    entitySlopeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase == "upward") "DESC" else "ASC"
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
        period <- slice.tables(eE.fromTable)
          .find(_.toLowerCase.contains("year")).toSeq
      } yield Candidate(
        s"SELECT ${eE.fromColumn} FROM (SELECT ${eE.fromColumn}, " +
          s"REGR_SLOPE(a, $period) AS sl FROM (SELECT ${eE.fromColumn}, " +
          s"$period, AVG($measure) AS a FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}, $period) t GROUP BY ${eE.fromColumn} " +
          s"HAVING COUNT(*) > 1) u ORDER BY sl $dir, ${eE.fromColumn} LIMIT 1",
        0.9, "template_entity_slope_argmax")).take(1)
    }

  // "for each department, the share of its scores produced by its most
  // active student" — nested per-attribute argmax share
  private[gen] val deptTopStudentShareRe =
    (raw"(?i)\bfor\s+each\s+([a-z]+(?:[ _][a-z]+)?),\s+the\s+share\s+of\s+" +
      raw"its\s+([a-z_][a-z0-9_]*)\s+[a-z]+\s+by\s+its\s+most\s+active\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Per-attribute top-contributor share: (attribute, entity) counts in
    * one grouped pass, the per-attribute total a tiny second aggregate,
    * the top contributor a ROW_NUMBER over the attribute-partitioned
    * key-sized frame, share joined over |attrs| rows. */
  def deptTopStudentShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    deptTopStudentShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(3)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(1), slice.tables(e.toTable)).isDefined).toSeq
        attr <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"WITH cnt AS (SELECT c.$attr, s.${eE.fromColumn}, COUNT(*) AS n " +
          s"FROM ${eE.fromTable} s JOIN ${eJ.toTable} c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr, s.${eE.fromColumn}), " +
          s"tot AS (SELECT $attr, SUM(n) AS tn FROM cnt GROUP BY $attr), " +
          s"top AS (SELECT $attr, n FROM (SELECT $attr, n, ROW_NUMBER() " +
          s"OVER (PARTITION BY $attr ORDER BY n DESC, ${eE.fromColumn}) " +
          s"AS rn FROM cnt) x WHERE rn = 1) " +
          s"SELECT t.$attr, ROUND(CAST(t.n AS DOUBLE) / tot.tn, 4) AS sh " +
          s"FROM top t JOIN tot ON tot.$attr = t.$attr ORDER BY t.$attr",
        0.9, "template_dept_top_student_share")).take(1)
    }

  // "students whose scores include both a course maximum and a course
  // minimum" — entities holding both per-group extremes somewhere
  private[gen] val dualExtremeHoldersRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+" +
      raw"include\s+both\s+a\s+([a-z_][a-z0-9_]*)\s+maximum\s+and\s+a\s+" +
      raw"[a-z_]+\s+minimum\b").r

  /** Dual-extreme holders: per-group maxima and minima from one grouped
    * pass each (group-count-sized, joined back), the two qualifying
    * entity sets intersected on the entity key, names resolved last. */
  def dualExtremeHoldersCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    dualExtremeHoldersRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield {
        def side(agg: String) =
          s"(SELECT DISTINCT s.${eE.fromColumn} FROM ${eE.fromTable} s " +
            s"JOIN (SELECT ${eJ.fromColumn}, $agg($measure) AS v FROM " +
            s"${eE.fromTable} GROUP BY ${eJ.fromColumn}) m " +
            s"ON m.${eJ.fromColumn} = s.${eJ.fromColumn} AND s.$measure = m.v)"
        Candidate(
          s"SELECT st.$nameCol FROM ${side("MAX")} hi JOIN ${side("MIN")} lo " +
            s"ON lo.${eE.fromColumn} = hi.${eE.fromColumn} " +
            s"JOIN $dimE st ON st.${eE.toColumn} = hi.${eE.fromColumn} " +
            s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
          0.9, "template_dual_extreme_holders")
      }).take(1)
    }

  // "the department where the top student's lead over the runner-up is
  // largest" — per-attribute top-2 margin argmax
  private[gen] val attrTop2MarginArgmaxRe =
    (raw"(?i)\bthe\s+([a-z]+(?:[ _][a-z]+)?)\s+where\s+the\s+top\s+" +
      raw"([a-z_][a-z0-9_]*)'s\s+lead\s+over\s+the\s+runner-up\s+is\s+" +
      raw"(largest|biggest|smallest)\b").r

  /** Attribute top-2 margin argmax: (attribute, entity) averages in one
    * grouped pass, ranks via a window partitioned on the ATTRIBUTE over
    * that key-sized frame, the rank-1/rank-2 margin joined per
    * attribute, top-1. Measure by elimination. */
  def attrTop2MarginArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    attrTop2MarginArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase == "smallest") "ASC" else "DESC"
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(1), slice.tables(e.toTable)).isDefined).toSeq
        attr <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH a AS (SELECT c.$attr, s.${eE.fromColumn}, " +
          s"AVG(s.$measure) AS av FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr, s.${eE.fromColumn}), " +
          s"r AS (SELECT $attr, av, ROW_NUMBER() OVER (PARTITION BY $attr " +
          s"ORDER BY av DESC, ${eE.fromColumn}) AS rn FROM a) " +
          s"SELECT $attr FROM (SELECT t1.$attr, t1.av - t2.av AS margin " +
          s"FROM r t1 JOIN r t2 ON t1.$attr = t2.$attr AND t1.rn = 1 " +
          s"AND t2.rn = 2) x ORDER BY margin $dir, $attr LIMIT 1",
        0.9, "template_attr_top2_margin_argmax")).take(1)
    }

  // "students whose 2023 average beat their 2022 average by more than 5
  // points" — two-period conditional averages against a threshold
  private[gen] val trendThresholdEntitiesRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+(\d{4})\s+average\s+" +
      raw"(beat|exceeded|topped|trailed)\s+their\s+(\d{4})\s+average\s+" +
      raw"by\s+more\s+than\s+(\d+(?:\.\d+)?)\s+points\b").r

  /** Trend-threshold entities: ONE grouped pass with two conditional
    * AVGs (the period filter prunes first), HAVING threshold, names
    * resolved last. Measure by elimination. */
  def trendThresholdEntitiesCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    trendThresholdEntitiesRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val trailed = m.group(3).toLowerCase == "trailed"
      val (yA, yB) = if (trailed) (m.group(4), m.group(2)) else (m.group(2), m.group(4))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        factCols = slice.tables(eE.fromTable)
        period <- factCols.find(_.toLowerCase.contains("year")).toSeq
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == period)
      } yield Candidate(
        s"SELECT st.$nameCol FROM (SELECT ${eE.fromColumn} FROM " +
          s"${eE.fromTable} WHERE $period IN (${m.group(2)}, ${m.group(4)}) " +
          s"GROUP BY ${eE.fromColumn} " +
          s"HAVING AVG(CASE WHEN $period = $yA THEN $measure END) - " +
          s"AVG(CASE WHEN $period = $yB THEN $measure END) > ${m.group(5)}) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_trend_threshold_entities")).take(1)
    }

  // "the share of courses whose hardest year was 2022" — per-group
  // extreme-period membership share
  private[gen] val groupExtremePeriodShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"(hardest|easiest|best|worst)\s+([a-z_][a-z0-9_]*)\s+was\s+" +
      raw"(\d{4})\b").r

  /** Group extreme-period share: (group, period) averages in one
    * grouped pass, each group's extreme period via a window over that
    * cell-sized frame (period tiebreak), share in a scalar aggregate. */
  def groupExtremePeriodShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    groupExtremePeriodShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (Set("hardest", "worst")(m.group(2).toLowerCase)) "ASC" else "DESC"
      val pWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        factCols = slice.tables(eJ.fromTable)
        period <- factCols.find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == period)
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN y0 = ${m.group(4)} THEN 1 " +
          s"ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"(SELECT ${eJ.fromColumn}, y0 FROM (SELECT ${eJ.fromColumn}, " +
          s"$period AS y0, ROW_NUMBER() OVER (PARTITION BY ${eJ.fromColumn} " +
          s"ORDER BY AVG($measure) $dir, $period) AS rn FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}, $period) t WHERE rn = 1) u",
        0.9, "template_group_extreme_period_share")).take(1)
    }

  // "pairs of students who rank within two places of each other in
  // every shared course" — universal rank proximity over co-memberships
  private[gen] val rankProximityPairsRe =
    (raw"(?i)\bpairs\s+of\s+([a-z_][a-z0-9_]*)\s+who\s+rank\s+within\s+" +
      raw"(one|two|three|\d+)\s+places\s+of\s+each\s+other\s+in\s+every\s+" +
      raw"shared\s+([a-z_][a-z0-9_]*)\b").r

  /** Rank-proximity pairs: per-group ranks via group-partitioned
    * windows, the pair join is group-keyed (per-group fan-out, never
    * all-pairs over entities), the ∀ encoded as a grouped MAX bound
    * with the ProfileMinSupport shared-membership floor. */
  def rankProximityPairsCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    rankProximityPairsRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val k = countWord(m.group(2))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH r AS (SELECT ${eJ.fromColumn}, ${eE.fromColumn}, RANK() " +
          s"OVER (PARTITION BY ${eJ.fromColumn} ORDER BY $measure DESC) " +
          s"AS rk FROM ${eE.fromTable}) " +
          s"SELECT s1, s2 FROM (SELECT a.${eE.fromColumn} AS s1, " +
          s"b.${eE.fromColumn} AS s2 FROM r a JOIN r b " +
          s"ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn} " +
          s"HAVING COUNT(*) >= $ProfileMinSupport " +
          s"AND MAX(ABS(a.rk - b.rk)) <= $k) t ORDER BY s1, s2 " +
          s"LIMIT $DefaultLimit",
        0.9, "template_rank_proximity_pairs")).take(1)
    }

  // "the average correlation between scores in pairs of courses sharing
  // at least 20 students" — mean pairwise correlation
  private[gen] val avgPairwiseCorrRe =
    (raw"(?i)\bthe\s+average\s+correlation\s+between\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+pairs\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"sharing\s+at\s+least\s+(\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Average pairwise correlation: the fact self-joined on the member
    * key (per-member fan-out), CORR per group pair with a support
    * floor, AVG over the |pairs|-sized frame. The exact
    * small-cardinality form of feature-correlation mining. */
  def avgPairwiseCorrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgPairwiseCorrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        dimE <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(c), 4) AS agg_value FROM (SELECT " +
          s"CORR(a.$measure, b.$measure) AS c FROM ${eJ.fromTable} a " +
          s"JOIN ${eJ.fromTable} b ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND a.${eJ.fromColumn} < b.${eJ.fromColumn} " +
          s"GROUP BY a.${eJ.fromColumn}, b.${eJ.fromColumn} " +
          s"HAVING COUNT(*) >= ${m.group(3)}) t",
        0.9, "template_avg_pairwise_corr")).take(1)
    }

  // "for each year, the course that improved most over the previous
  // year" — per-period trend argmax list
  private[gen] val periodTrendArgmaxListRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*),\s+the\s+" +
      raw"([a-z_][a-z0-9_]*)\s+that\s+(improved|declined)\s+most\s+over\s+" +
      raw"the\s+previous\s+([a-z_][a-z0-9_]*)\b").r

  /** Period trend argmax list: (group, period) averages in one grouped
    * pass, LAG deltas via group-partitioned windows over that cell
    * frame, per-period argmax via a period-partitioned ROW_NUMBER —
    * all windows over the tiny aggregate frame, never the corpus. */
  def periodTrendArgmaxListCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    periodTrendArgmaxListRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(3).toLowerCase == "improved") "DESC" else "ASC"
      val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        factCols = slice.tables(eJ.fromTable)
        period <- factCols.find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, _ == period)
      } yield Candidate(
        s"WITH ya AS (SELECT ${eJ.fromColumn}, $period, AVG($measure) AS a " +
          s"FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn}, $period), " +
          s"d AS (SELECT ${eJ.fromColumn}, $period, a - LAG(a) OVER " +
          s"(PARTITION BY ${eJ.fromColumn} ORDER BY $period) AS delta FROM ya) " +
          s"SELECT $period, ${eJ.fromColumn} FROM (SELECT $period, " +
          s"${eJ.fromColumn}, ROW_NUMBER() OVER (PARTITION BY $period " +
          s"ORDER BY delta $dir, ${eJ.fromColumn}) AS rn FROM d " +
          s"WHERE delta IS NOT NULL) t WHERE rn = 1 ORDER BY $period",
        0.9, "template_period_trend_argmax_list")).take(1)
    }

  // "the minimum number of enrollments to drop so no course exceeds
  // 60" — total overage above a per-group cap
  private[gen] val overageTotalRe =
    (raw"(?i)\bthe\s+minimum\s+number\s+of\s+enrollments\s+to\s+drop\s+" +
      raw"so\s+no\s+([a-z_][a-z0-9_]*)\s+exceeds\s+(\d+)\b").r

  /** Overage total: group counts in one grouped pass, the per-group
    * excess clamped and summed over the group-count-sized frame. */
  def overageTotalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    overageTotalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cap = m.group(2)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
      } yield Candidate(
        s"SELECT CAST(SUM(CASE WHEN n > $cap THEN n - $cap ELSE 0 END) " +
          s"AS BIGINT) AS agg_value FROM (SELECT COUNT(*) AS n FROM " +
          s"${eJ.fromTable} GROUP BY ${eJ.fromColumn}) t",
        0.9, "template_overage_total")).take(1)
    }

  // "the student pair with the most years of shared enrollment in the
  // same course" — co-membership keyed on (group, period)
  private[gen] val timedPairArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+pair\s+with\s+the\s+most\s+" +
      raw"([a-z_][a-z0-9_]*)\s+of\s+shared\s+enrollment\s+in\s+the\s+" +
      raw"same\s+([a-z_][a-z0-9_]*)\b").r

  /** Timed pair argmax: the self-join keys on (group, period) — the
    * finer key only SHRINKS the per-bucket fan-out vs the plain
    * co-membership join — distinct shared periods per pair, top-1. */
  def timedPairArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    timedPairArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val pWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        period <- slice.tables(eE.fromTable)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
      } yield Candidate(
        s"SELECT s1, s2 FROM (SELECT a.${eE.fromColumn} AS s1, " +
          s"b.${eE.fromColumn} AS s2, COUNT(DISTINCT a.$period) AS y " +
          s"FROM ${eE.fromTable} a JOIN ${eE.fromTable} b " +
          s"ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.$period = b.$period " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn}) t " +
          s"ORDER BY y DESC, s1, s2 LIMIT 1",
        0.9, "template_timed_pair_argmax")).take(1)
    }

  // "the year each department had its most A grades" — per-attribute
  // peak period by conditional count
  private[gen] val attrValuePeakPeriodRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+each\s+([a-z]+(?:[ _][a-z]+)?)\s+" +
      raw"had\s+its\s+most\s+([A-Za-z0-9]+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Attribute value-peak period: (attribute, period) conditional
    * counts in one grouped pass (dimension broadcast in), per-attribute
    * argmax via an attribute-partitioned window over that tiny frame.
    * The category value must be in the mined domain. */
  def attrValuePeakPeriodCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    attrValuePeakPeriodRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      val v = m.group(3)
      val cWord = { val w = m.group(4); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        valueCol <- strongColumn(cWord, slice.tables(fact)).toSeq
        domain = values(fact).getOrElse(valueCol, Seq.empty)
        if domain.contains(v)
        period <- slice.tables(fact)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        eJ <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(2), slice.tables(e.toTable)).isDefined)
        attr <- abbrevColumn(m.group(2), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT $attr, y FROM (SELECT c.$attr, s.$period AS y, " +
          s"ROW_NUMBER() OVER (PARTITION BY c.$attr ORDER BY " +
          s"SUM(CASE WHEN s.$valueCol = '$v' THEN 1 ELSE 0 END) DESC, " +
          s"s.$period) AS rn FROM $fact s JOIN ${eJ.toTable} c " +
          s"ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr, s.$period) t WHERE rn = 1 ORDER BY $attr",
        0.9, "template_attr_value_peak_period")).take(1)
    }

  // "students who are the only one from their grade level in some
  // course" — singleton (group, cohort) cell membership
  private[gen] val soleCohortRepRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+who\s+are\s+the\s+only\s+one\s+from\s+" +
      raw"their\s+([a-z]+(?:[ _][a-z]+)?)\s+in\s+some\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Sole cohort representative: singleton (group, attribute) cells
    * from one grouped pass, semi-joined back to the fact on the cell
    * key (the cell frame is tiny — AQE broadcasts it), DISTINCT names. */
  def soleCohortRepCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    soleCohortRepRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(2).toLowerCase.replace(' ', '_')
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT DISTINCT st.$nameCol FROM ${eE.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"JOIN (SELECT s2.${eJ.fromColumn}, st2.$attr FROM " +
          s"${eE.fromTable} s2 JOIN $dimE st2 " +
          s"ON st2.${eE.toColumn} = s2.${eE.fromColumn} " +
          s"GROUP BY s2.${eJ.fromColumn}, st2.$attr HAVING COUNT(*) = 1) u " +
          s"ON u.${eJ.fromColumn} = s.${eJ.fromColumn} " +
          s"AND u.$attr = st.$attr " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_sole_cohort_rep")).take(1)
    }

  // "the trimmed range of scores ignoring the top and bottom five
  // values" — range over order statistics minus the tails
  private[gen] val trimmedRangeRe =
    (raw"(?i)\bthe\s+trimmed\s+range\s+of\s+([a-z_][a-z0-9_]*)\s+" +
      raw"ignoring\s+the\s+top\s+and\s+bottom\s+" +
      raw"(one|two|three|four|five|\d+)\s+values\b").r

  /** Trimmed range: two global ROW_NUMBER passes with a unique-id
    * tiebreak (at corpus scale the same boundary values come from
    * `Sketches.kllQuantiles` rank queries — the global sort is the
    * exact small-N form), tails clamped out by a conditional extreme. */
  def trimmedRangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    trimmedRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val k = countWord(m.group(2))
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        tbl <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(tbl)).toSeq
        idCol <- slice.tables(tbl).find(_.toLowerCase == s"${vWord.toLowerCase}_id")
          .orElse(slice.tables(tbl).sorted.find(_.toLowerCase.endsWith("_id"))).toSeq
      } yield Candidate(
        s"WITH r AS (SELECT $measure, ROW_NUMBER() OVER (ORDER BY " +
          s"$measure ASC, $idCol) AS ra, ROW_NUMBER() OVER (ORDER BY " +
          s"$measure DESC, $idCol) AS rd FROM $tbl) " +
          s"SELECT MAX(CASE WHEN rd > $k THEN $measure END) - " +
          s"MIN(CASE WHEN ra > $k THEN $measure END) AS agg_value FROM r",
        0.9, "template_trimmed_range")).take(1)
    }

  // "the average share of a course's students who are in its modal
  // grade level" — mean share of the per-group majority cohort
  private[gen] val modalCohortShareRe =
    (raw"(?i)\bthe\s+average\s+share\s+of\s+a\s+([a-z_][a-z0-9_]*)'s\s+" +
      raw"([a-z_][a-z0-9_]*)\s+who\s+are\s+in\s+its\s+modal\s+" +
      raw"([a-z]+(?:[ _][a-z]+)?)\b").r

  /** Modal cohort share: (group, attribute) counts in one grouped pass,
    * per-group totals and the modal cell via windows over the tiny cell
    * frame, AVG of the modal share over the group-count frame. */
  def modalCohortShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    modalCohortShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).toLowerCase.replace(' ', '_')
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"WITH cc AS (SELECT s.${eJ.fromColumn}, st.$attr, COUNT(*) AS n " +
          s"FROM ${eE.fromTable} s JOIN $dimE st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn}, st.$attr), " +
          s"m AS (SELECT ${eJ.fromColumn}, n, SUM(n) OVER " +
          s"(PARTITION BY ${eJ.fromColumn}) AS tot, ROW_NUMBER() OVER " +
          s"(PARTITION BY ${eJ.fromColumn} ORDER BY n DESC, $attr) AS rn " +
          s"FROM cc) " +
          s"SELECT ROUND(AVG(CAST(n AS DOUBLE) / tot), 4) AS agg_value " +
          s"FROM m WHERE rn = 1",
        0.9, "template_modal_cohort_share")).take(1)
    }

  // "the expected score gap between two random classmates, averaged
  // over courses" — mean absolute pairwise difference per group
  private[gen] val avgPairwiseGapRe =
    (raw"(?i)\bthe\s+expected\s+([a-z_][a-z0-9_]*)\s+gap\s+between\s+two\s+" +
      raw"random\s+classmates,?\s+averaged\s+over\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Average pairwise gap: the self-join keys on the GROUP (per-group
    * fan-out, never all-pairs globally), mean |Δ| per group, macro
    * average over the group-count frame. At corpus scale the same
    * statistic comes from per-group moments (2·n·Σx²−2(Σx)² form) —
    * the exact pair join is the small-N form. */
  def avgPairwiseGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    avgPairwiseGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
        eE <- fks.find(e => e.fromTable == eJ.fromTable && e.toTable != dimJ).toSeq
      } yield Candidate(
        s"SELECT ROUND(AVG(d), 4) AS agg_value FROM (SELECT " +
          s"a.${eJ.fromColumn}, AVG(ABS(a.$measure - b.$measure)) AS d " +
          s"FROM ${eJ.fromTable} a JOIN ${eJ.fromTable} b " +
          s"ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eJ.fromColumn}) t",
        0.9, "template_avg_pairwise_gap")).take(1)
    }

  // "students whose rank in every course is better than their overall
  // rank" — per-group vs global rank universal comparison
  private[gen] val crossRankUniversalRe =
    (raw"(?i)\b([a-z_][a-z0-9_]*)\s+whose\s+rank\s+in\s+every\s+" +
      raw"([a-z_][a-z0-9_]*)\s+is\s+better\s+than\s+their\s+overall\s+" +
      raw"rank\b").r

  /** Cross-rank universal: the overall rank is a window over the
    * entity-count-sized average frame, per-group ranks partition on the
    * group; the ∀ is a grouped MAX-violation indicator over the joined
    * key-sized frames. Measure by elimination. */
  def crossRankUniversalCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    crossRankUniversalRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        nameCol <- nameishColumn(slice.tables(dimE)).toSeq
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH o AS (SELECT ${eE.fromColumn}, RANK() OVER (ORDER BY " +
          s"AVG($measure) DESC) AS ork FROM ${eE.fromTable} " +
          s"GROUP BY ${eE.fromColumn}), " +
          s"c AS (SELECT ${eJ.fromColumn}, ${eE.fromColumn}, RANK() OVER " +
          s"(PARTITION BY ${eJ.fromColumn} ORDER BY $measure DESC) AS crk " +
          s"FROM ${eE.fromTable}) " +
          s"SELECT st.$nameCol FROM (SELECT c.${eE.fromColumn} FROM c " +
          s"JOIN o ON o.${eE.fromColumn} = c.${eE.fromColumn} " +
          s"GROUP BY c.${eE.fromColumn} " +
          s"HAVING MAX(CASE WHEN c.crk < o.ork THEN 0 ELSE 1 END) = 0) m " +
          s"JOIN $dimE st ON st.${eE.toColumn} = m.${eE.fromColumn} " +
          s"ORDER BY st.$nameCol LIMIT $DefaultLimit",
        0.9, "template_cross_rank_universal")).take(1)
    }

  // "the Gini coefficient of total score points per student" —
  // inequality of per-entity totals
  private[gen] val entitySumGiniRe =
    (raw"(?i)\bthe\s+gini\s+coefficient\s+of\s+total\s+" +
      raw"([a-z_][a-z0-9_]*)\s+points\s+per\s+([a-z_][a-z0-9_]*)\b").r

  /** Entity-sum Gini: per-entity totals in one grouped pass, the Gini
    * rank form over the entity-count-sized frame (the windows sort
    * entities, never the corpus). */
  def entitySumGiniCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    entitySumGiniRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        measure <- strongColumn(vWord, slice.tables(eE.fromTable)).toSeq
      } yield Candidate(
        s"WITH s AS (SELECT ${eE.fromColumn}, SUM($measure) AS tot FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}), " +
          s"r AS (SELECT tot, ROW_NUMBER() OVER (ORDER BY tot, " +
          s"${eE.fromColumn}) AS i, COUNT(*) OVER () AS n, " +
          s"SUM(tot) OVER () AS st FROM s) " +
          s"SELECT ROUND(SUM((2.0 * i - n - 1) * tot) / " +
          s"(MAX(n) * MAX(st)), 4) AS agg_value FROM r",
        0.9, "template_entity_sum_gini")).take(1)
    }

  // "the course whose students have the most diverse set of other
  // courses" — two-hop distinct-neighbor argmax
  private[gen] val twohopDiversityArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+whose\s+([a-z_][a-z0-9_]*)\s+" +
      raw"have\s+the\s+most\s+diverse\s+set\s+of\s+other\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Two-hop diversity argmax: the entity-keyed self-join (per-entity
    * membership fan-out), distinct co-groups per group, top-1 with an
    * id tiebreak. The group words must agree (same dimension). */
  def twohopDiversityArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    twohopDiversityArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def sing(w: String) = if (w.endsWith("s")) w.dropRight(1) else w
      if (sing(m.group(1).toLowerCase) != sing(m.group(3).toLowerCase)) Seq.empty
      else (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"SELECT a.${eJ.fromColumn} FROM ${eJ.fromTable} a " +
          s"JOIN ${eJ.fromTable} b ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
          s"AND b.${eJ.fromColumn} <> a.${eJ.fromColumn} " +
          s"GROUP BY a.${eJ.fromColumn} " +
          s"ORDER BY COUNT(DISTINCT b.${eJ.fromColumn}) DESC, " +
          s"a.${eJ.fromColumn} LIMIT 1",
        0.9, "template_twohop_diversity_argmax")).take(1)
    }

  // "the share of scores strictly between their course's quartiles" —
  // per-group IQR band membership share
  private[gen] val groupIqrBandShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+strictly\s+" +
      raw"between\s+their\s+([a-z_][a-z0-9_]*)'s\s+quartiles\b").r

  /** Group IQR band share: exact per-group quartiles in one grouped
    * pass (group-count-sized, joined back — AQE broadcasts), one
    * conditional scalar aggregate. At corpus scale the quartiles come
    * from `Sketches.kllQuantiles` rollups instead of exact PERCENTILE. */
  def groupIqrBandShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupIqrBandShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"WITH q AS (SELECT ${eJ.fromColumn}, PERCENTILE($measure, 0.25) " +
          s"AS q1, PERCENTILE($measure, 0.75) AS q3 FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}) " +
          s"SELECT ROUND(CAST(SUM(CASE WHEN s.$measure > q.q1 AND " +
          s"s.$measure < q.q3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) " +
          s"AS agg_value FROM ${eJ.fromTable} s JOIN q " +
          s"ON q.${eJ.fromColumn} = s.${eJ.fromColumn}",
        0.9, "template_group_iqr_band_share")).take(1)
    }

  // "the student who most often lands in the top 10 percent of a
  // course" — percentile-band membership count argmax
  private[gen] val bandMembershipArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+who\s+most\s+often\s+lands\s+" +
      raw"in\s+the\s+(top|bottom)\s+(\d+)\s+percent\s+of\s+a\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Band-membership argmax: PERCENT_RANK windows partition on the
    * GROUP key (per-group sorts), band filter, per-entity counts,
    * top-1 with an id tiebreak. Measure by elimination. */
  def bandMembershipArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    bandMembershipArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val top = m.group(2).toLowerCase == "top"
      val f = m.group(3).toDouble / 100.0
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(4)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH r AS (SELECT ${eE.fromColumn}, ${eJ.fromColumn}, " +
          s"PERCENT_RANK() OVER (PARTITION BY ${eJ.fromColumn} ORDER BY " +
          s"$measure ${if (top) "DESC" else "ASC"}) AS pr FROM " +
          s"${eE.fromTable}) " +
          s"SELECT ${eE.fromColumn} FROM r WHERE pr <= $f " +
          s"GROUP BY ${eE.fromColumn} ORDER BY COUNT(*) DESC, " +
          s"${eE.fromColumn} LIMIT 1",
        0.9, "template_band_membership_argmax")).take(1)
    }

  // "the share of each year's scores that came from ninth graders,
  // listed by year" — cohort share per period
  private[gen] val periodCohortShareListRe =
    (raw"(?i)\bthe\s+share\s+of\s+each\s+([a-z_][a-z0-9_]*)'s\s+" +
      raw"([a-z_][a-z0-9_]*)\s+that\s+came\s+from\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?graders\b").r

  /** Period cohort-share list: ONE grouped pass keyed on the period
    * (entity dimension broadcast in) with a conditional and an
    * unconditional count per period. */
  def periodCohortShareListCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    periodCohortShareListRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val n = ordinals.getOrElse(m.group(3).toLowerCase, m.group(3).toInt)
      val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        period <- slice.tables(fact)
          .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        eE <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          gradeColumn(slice.tables(e.toTable)).isDefined)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT $period, ROUND(CAST(SUM(CASE WHEN st.$gradeCol = $n " +
          s"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS sh FROM " +
          s"$fact s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY $period ORDER BY $period",
        0.9, "template_period_cohort_share_list")).take(1)
    }

  // "the biggest jump between consecutive ranked course averages" —
  // max adjacent gap in the sorted group-aggregate sequence
  private[gen] val rankedAggMaxGapRe =
    (raw"(?i)\bthe\s+(biggest|largest|smallest)\s+jump\s+between\s+" +
      raw"consecutive\s+ranked\s+([a-z_][a-z0-9_]*)\s+averages\b").r

  /** Ranked-aggregate max gap: group averages in one grouped pass, LAG
    * over the group-count-sized sorted frame, one scalar extreme.
    * Measure by elimination. */
  def rankedAggMaxGapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    rankedAggMaxGapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val agg = if (m.group(1).toLowerCase == "smallest") "MIN" else "MAX"
      (for {
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        factCols = slice.tables(eJ.fromTable)
        stringCols = values(eJ.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"SELECT ROUND($agg(a - prev), 4) AS agg_value FROM (SELECT a, " +
          s"LAG(a) OVER (ORDER BY a) AS prev FROM (SELECT AVG($measure) " +
          s"AS a FROM ${eJ.fromTable} GROUP BY ${eJ.fromColumn}) t) u " +
          s"WHERE prev IS NOT NULL",
        0.9, "template_ranked_agg_max_gap")).take(1)
    }

  // "the number of students whose course set is contained in another
  // student's" — membership-set containment count
  private[gen] val courseSubsetCountRe =
    (raw"(?i)\bthe\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+" +
      raw"([a-z_][a-z0-9_]*)\s+set\s+is\s+contained\s+in\s+another\s+" +
      raw"([a-z_][a-z0-9_]*)'s\b").r

  /** Course-subset count: pairwise shared-membership counts from the
    * group-keyed self-join (per-group fan-out), compared against each
    * entity's own membership size (entity-count-sized frame joined
    * back) — containment ⟺ shared = |own|. DISTINCT contained
    * entities counted once. */
  def courseSubsetCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    courseSubsetCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      def sing(w: String) = if (w.endsWith("s")) w.dropRight(1) else w
      if (sing(m.group(1).toLowerCase) != sing(m.group(3).toLowerCase)) Seq.empty
      else (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT COUNT(DISTINCT s1) AS agg_value FROM (SELECT " +
          s"a.${eE.fromColumn} AS s1, b.${eE.fromColumn} AS s2, " +
          s"COUNT(*) AS shared FROM ${eE.fromTable} a " +
          s"JOIN ${eE.fromTable} b ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} <> b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn}) p " +
          s"JOIN (SELECT ${eE.fromColumn}, COUNT(*) AS n FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}) c1 " +
          s"ON c1.${eE.fromColumn} = p.s1 WHERE p.shared = c1.n",
        0.9, "template_course_subset_count")).take(1)
    }

  // "the pair of years with the most students in common" — co-presence
  // overlap between PERIOD values (not a dimension pair)
  private[gen] val periodPairOverlapRe =
    (raw"(?i)\bthe\s+pair\s+of\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+" +
      raw"([a-z_][a-z0-9_]*)\s+in\s+common\b").r

  /** Period-pair overlap argmax: DISTINCT (entity, period) collapses
    * the fact once, the pair join keys on the ENTITY (per-entity
    * period fan-out — |periods|² at most), counts per period pair,
    * top-1. Fires only when the pair word is NOT a dimension table
    * (the dimension-pair phrasing belongs to pairOverlapArgmax). */
  def periodPairOverlapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    periodPairOverlapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      if (uniqueTable(slice, m.group(1)).isDefined) Seq.empty
      else {
        val pWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
        (for {
          dimE <- uniqueTable(slice, m.group(2)).toSeq
          eE <- edgesInto(slice, fks, dimE)
          period <- slice.tables(eE.fromTable)
            .find(_.toLowerCase.contains(pWord.toLowerCase)).toSeq
        } yield Candidate(
          s"SELECT y1, y2 FROM (SELECT a.$period AS y1, b.$period AS y2, " +
            s"COUNT(*) AS n FROM (SELECT DISTINCT ${eE.fromColumn}, " +
            s"$period FROM ${eE.fromTable}) a JOIN (SELECT DISTINCT " +
            s"${eE.fromColumn}, $period FROM ${eE.fromTable}) b " +
            s"ON a.${eE.fromColumn} = b.${eE.fromColumn} " +
            s"AND a.$period < b.$period GROUP BY a.$period, b.$period) t " +
            s"ORDER BY n DESC, y1, y2 LIMIT 1",
          0.9, "template_period_pair_overlap_argmax")).take(1)
      }
    }

  // "how many courses would lose at least a quarter of their students
  // if ninth graders left" — cohort-removal impact threshold count
  private[gen] val removalImpactCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+would\s+lose\s+at\s+" +
      raw"least\s+a\s+(quarter|third|half)\s+of\s+their\s+" +
      raw"([a-z_][a-z0-9_]*)\s+if\s+" +
      raw"(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|" +
      raw"tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?graders\s+" +
      raw"left\b").r

  /** Removal-impact count: ONE grouped pass with the cohort share per
    * group (dimension broadcast in), HAVING threshold, COUNT. The
    * fraction word maps to its exact double (gold SQL must use the
    * same literal; "quarter"/"half" are exact binary doubles). */
  def removalImpactCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    removalImpactCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val frac = m.group(2).toLowerCase match {
        case "quarter" => 0.25; case "third" => 1.0 / 3; case _ => 0.5
      }
      val n = ordinals.getOrElse(m.group(4).toLowerCase, m.group(4).toInt)
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        eE <- otherEdges(slice, fks, eJ)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT s.${eJ.fromColumn} " +
          s"FROM ${eJ.fromTable} s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.${eJ.fromColumn} " +
          s"HAVING CAST(SUM(CASE WHEN st.$gradeCol = $n THEN 1 ELSE 0 " +
          s"END) AS DOUBLE) / COUNT(*) >= $frac) t",
        0.9, "template_removal_impact_count")).take(1)
    }

  // "the course with the most even spread of scores across grade
  // letters" — per-group category entropy argmax
  private[gen] val groupEntropyArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+with\s+the\s+most\s+even\s+" +
      raw"spread\s+of\s+([a-z_][a-z0-9_]*)\s+across\s+" +
      raw"([a-z_][a-z0-9_]*)\s+letters\b").r

  /** Group entropy argmax: (group, category) counts in one grouped
    * pass, per-group shares via a window over the cell frame, Shannon
    * entropy per group, top-1. */
  def groupEntropyArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupEntropyArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cWord = { val w = m.group(3); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        catCol <- strongColumn(cWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${eJ.fromColumn} FROM (SELECT ${eJ.fromColumn}, " +
          s"-SUM(p * LN(p)) AS e FROM (SELECT ${eJ.fromColumn}, " +
          s"CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER " +
          s"(PARTITION BY ${eJ.fromColumn}) AS p FROM ${eJ.fromTable} " +
          s"GROUP BY ${eJ.fromColumn}, $catCol) t " +
          s"GROUP BY ${eJ.fromColumn}) u ORDER BY e DESC, " +
          s"${eJ.fromColumn} LIMIT 1",
        0.9, "template_group_entropy_argmax")).take(1)
    }

  // "the longest stretch of consecutive score values with no gaps" —
  // gaps-and-islands over the value domain
  private[gen] val valueRunLengthRe =
    (raw"(?i)\bthe\s+longest\s+stretch\s+of\s+consecutive\s+" +
      raw"([a-z_][a-z0-9_]*)\s+values\s+with\s+no\s+gaps\b").r

  /** Value run length: DISTINCT collapses the fact to its value domain
    * (map-side combined), the island key and run counts operate on
    * that domain-sized frame only. */
  def valueRunLengthCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    valueRunLengthRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(1); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        tbl <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(tbl)).toSeq
      } yield Candidate(
        s"WITH d AS (SELECT DISTINCT $measure FROM $tbl), " +
          s"g AS (SELECT $measure, $measure - ROW_NUMBER() OVER " +
          s"(ORDER BY $measure) AS grp FROM d) " +
          s"SELECT MAX(c) AS agg_value FROM (SELECT COUNT(*) AS c " +
          s"FROM g GROUP BY grp) t",
        0.9, "template_value_run_length")).take(1)
    }

  // "for each student the department they perform best in, tallied by
  // department" — per-entity attribute argmax distribution
  private[gen] val bestDeptDistributionRe =
    (raw"(?i)\bfor\s+each\s+([a-z_][a-z0-9_]*)\s+the\s+" +
      raw"([a-z]+(?:[ _][a-z]+)?)\s+they\s+perform\s+best\s+in,?\s+" +
      raw"tallied\s+by\b").r

  /** Best-attribute distribution: (entity, attribute) averages in one
    * grouped pass (dimension broadcast in), per-entity argmax via an
    * entity-partitioned window over that key-sized frame, one tiny
    * tally. Measure by elimination. */
  def bestDeptDistributionCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    bestDeptDistributionRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(2), slice.tables(e.toTable)).isDefined).toSeq
        attr <- abbrevColumn(m.group(2), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH da AS (SELECT s.${eE.fromColumn}, c.$attr, " +
          s"AVG(s.$measure) AS a FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}, c.$attr), " +
          s"b AS (SELECT ${eE.fromColumn}, $attr FROM (SELECT " +
          s"${eE.fromColumn}, $attr, ROW_NUMBER() OVER (PARTITION BY " +
          s"${eE.fromColumn} ORDER BY a DESC, $attr) AS rn FROM da) x " +
          s"WHERE rn = 1) " +
          s"SELECT $attr, COUNT(*) AS n FROM b GROUP BY $attr " +
          s"ORDER BY $attr",
        0.9, "template_best_dept_distribution")).take(1)
    }

  // "the probability that a random A-grade score belongs to a ninth
  // grader" — conditional cohort probability
  private[gen] val conditionalCohortProbRe =
    (raw"(?i)\bthe\s+probability\s+that\s+a\s+random\s+" +
      raw"([A-Za-z0-9]+)-grade\s+([a-z_][a-z0-9_]*)\s+belongs\s+to\s+" +
      raw"an?\s+(first|second|third|fourth|fifth|sixth|seventh|eighth|" +
      raw"ninth|tenth|eleventh|twelfth|\d+)(?:th|st|nd|rd)?[- ]?" +
      raw"grader\b").r

  /** Conditional cohort probability: the category filter prunes first,
    * one conditional scalar aggregate over the joined rows (dimension
    * broadcast in). The category value must be in the mined domain. */
  def conditionalCohortProbCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    conditionalCohortProbRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val v = m.group(1)
      val n = ordinals.getOrElse(m.group(3).toLowerCase, m.group(3).toInt)
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        catCol <- values(fact).collectFirst {
          case (c, dom) if dom.contains(v) => c
        }.toSeq
        eE <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          gradeColumn(slice.tables(e.toTable)).isDefined)
        gradeCol <- gradeColumn(slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT ROUND(CAST(SUM(CASE WHEN st.$gradeCol = $n THEN 1 " +
          s"ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM " +
          s"$fact s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"WHERE s.$catCol = '$v'",
        0.9, "template_conditional_cohort_prob")).take(1)
    }

  // "the average Jaccard similarity between course sets of same-grade
  // students sharing at least one course" — cohort-restricted mean
  // pairwise set similarity
  private[gen] val cohortJaccardAvgRe =
    (raw"(?i)\bthe\s+average\s+jaccard\s+similarity\s+between\s+" +
      raw"([a-z_][a-z0-9_]*)\s+sets\s+of\s+same-grade\s+" +
      raw"([a-z_][a-z0-9_]*)\s+sharing\s+at\s+least\s+one\b").r

  /** Cohort Jaccard average: co-membership intersections from the
    * group-keyed self-join (per-group fan-out), membership sizes from
    * one grouped pass joined back, |A∩B|/(|A|+|B|−|A∩B|) averaged —
    * the exact small-N form of `Dedup.minHashNearDuplicates`'s
    * estimate. Pairs sharing nothing are excluded by construction
    * (the question's "sharing at least one" clause). */
  def cohortJaccardAvgCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    cohortJaccardAvgRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        gradeCol <- gradeColumn(slice.tables(dimE)).toSeq
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"WITH p AS (SELECT a.${eE.fromColumn} AS s1, b.${eE.fromColumn} " +
          s"AS s2, COUNT(*) AS inter FROM ${eJ.fromTable} a " +
          s"JOIN ${eJ.fromTable} b ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"JOIN $dimE st1 ON st1.${eE.toColumn} = a.${eE.fromColumn} " +
          s"JOIN $dimE st2 ON st2.${eE.toColumn} = b.${eE.fromColumn} " +
          s"WHERE st1.$gradeCol = st2.$gradeCol " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn}), " +
          s"n AS (SELECT ${eE.fromColumn}, COUNT(*) AS cnt FROM " +
          s"${eJ.fromTable} GROUP BY ${eE.fromColumn}) " +
          s"SELECT ROUND(AVG(CAST(inter AS DOUBLE) / " +
          s"(n1.cnt + n2.cnt - inter)), 4) AS agg_value FROM p " +
          s"JOIN n n1 ON n1.${eE.fromColumn} = p.s1 " +
          s"JOIN n n2 ON n2.${eE.fromColumn} = p.s2",
        0.9, "template_cohort_jaccard_avg")).take(1)
    }

  // "the grade letter whose holders have the widest age range" —
  // category argmax by joined-attribute spread
  private[gen] val valueAttrRangeArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+letter\s+whose\s+holders\s+" +
      raw"have\s+the\s+(widest|narrowest)\s+([a-z_][a-z0-9_]*)\s+" +
      raw"range\b").r

  /** Value attribute-range argmax: one grouped pass keyed on the fact
    * category (entity dimension broadcast in), MAX−MIN of the joined
    * attribute per category value, top-1. */
  def valueAttrRangeArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    valueAttrRangeArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val dir = if (m.group(2).toLowerCase == "widest") "DESC" else "ASC"
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        catCol <- strongColumn(m.group(1), slice.tables(fact)).toSeq
        eE <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          strongColumn(m.group(3), slice.tables(e.toTable)).isDefined)
        attr <- strongColumn(m.group(3), slice.tables(eE.toTable)).toSeq
      } yield Candidate(
        s"SELECT g FROM (SELECT s.$catCol AS g, MAX(st.$attr) - " +
          s"MIN(st.$attr) AS r FROM $fact s JOIN ${eE.toTable} st " +
          s"ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"GROUP BY s.$catCol) t ORDER BY r $dir, g LIMIT 1",
        0.9, "template_value_attr_range_argmax")).take(1)
    }

  // "the expected number of shared courses between two students from
  // different grade levels" — cross-cohort mean pair overlap
  private[gen] val crossCohortAvgOverlapRe =
    (raw"(?i)\bthe\s+expected\s+number\s+of\s+shared\s+" +
      raw"([a-z_][a-z0-9_]*)\s+between\s+two\s+([a-z_][a-z0-9_]*)\s+" +
      raw"from\s+different\s+([a-z]+(?:[ _][a-z]+)?)s?\b").r

  /** Cross-cohort average overlap: intersections from the group-keyed
    * self-join; the denominator enumerates DIMENSION pairs (|E|² over
    * the entity dimension — exact for catalog-sized dims; at corpus
    * scale the same expectation decomposes into cohort-size algebra
    * and never enumerates pairs), zero-overlap pairs kept via the
    * LEFT join + COALESCE. */
  def crossCohortAvgOverlapCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    crossCohortAvgOverlapRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val attrWord = m.group(3).toLowerCase.replace(' ', '_')
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        dimE <- uniqueTable(slice, m.group(2)).toSeq
        if dimE != dimJ
        attr <- strongColumn(attrWord, slice.tables(dimE)).toSeq
        (eJ, eE) <- bridges(fks, dimJ, dimE)
      } yield Candidate(
        s"WITH p AS (SELECT a.${eE.fromColumn} AS s1, b.${eE.fromColumn} " +
          s"AS s2, COUNT(*) AS c FROM ${eJ.fromTable} a " +
          s"JOIN ${eJ.fromTable} b ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn}), " +
          s"pairs AS (SELECT st1.${eE.toColumn} AS s1, st2.${eE.toColumn} " +
          s"AS s2 FROM $dimE st1 JOIN $dimE st2 " +
          s"ON st1.${eE.toColumn} < st2.${eE.toColumn} " +
          s"AND st1.$attr <> st2.$attr) " +
          s"SELECT ROUND(CAST(SUM(COALESCE(p.c, 0)) AS DOUBLE) / " +
          s"COUNT(*), 4) AS agg_value FROM pairs LEFT JOIN p " +
          s"ON p.s1 = pairs.s1 AND p.s2 = pairs.s2",
        0.9, "template_cross_cohort_avg_overlap")).take(1)
    }

  // "the course in which scores are most spread out relative to their
  // average" — coefficient-of-variation argmax per group
  private[gen] val groupCvArgmaxRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+in\s+which\s+" +
      raw"([a-z_][a-z0-9_]*)\s+are\s+most\s+spread\s+out\s+relative\s+" +
      raw"to\s+their\s+average\b").r

  /** Group CV argmax: per-group stddev/mean in one grouped pass, top-1
    * over the group-count-sized frame. */
  def groupCvArgmaxCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    groupCvArgmaxRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
        measure <- strongColumn(vWord, slice.tables(eJ.fromTable)).toSeq
      } yield Candidate(
        s"SELECT ${eJ.fromColumn} FROM (SELECT ${eJ.fromColumn}, " +
          s"STDDEV_POP($measure) / AVG($measure) AS cv FROM " +
          s"${eJ.fromTable} GROUP BY ${eJ.fromColumn}) t " +
          s"ORDER BY cv DESC, ${eJ.fromColumn} LIMIT 1",
        0.9, "template_group_cv_argmax")).take(1)
    }

  // "how many student pairs share exactly one course" — pair count at
  // an exact co-membership cardinality
  private[gen] val exactOverlapPairCountRe =
    (raw"(?i)\bhow\s+many\s+([a-z_][a-z0-9_]*)\s+pairs\s+share\s+" +
      raw"exactly\s+(one|two|three|\d+)\s+([a-z_][a-z0-9_]*)\b").r

  /** Exact-overlap pair count: group-keyed self-join (per-group
    * fan-out), per-pair counts, keep the exact cardinality, COUNT. */
  def exactOverlapPairCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    exactOverlapPairCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val k = countWord(m.group(2))
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        dimJ <- uniqueTable(slice, m.group(3)).toSeq
        if dimE != dimJ
        (eE, eJ) <- bridges(fks, dimE, dimJ)
      } yield Candidate(
        s"SELECT COUNT(*) AS agg_value FROM (SELECT a.${eE.fromColumn}, " +
          s"b.${eE.fromColumn} AS s2 FROM ${eE.fromTable} a " +
          s"JOIN ${eE.fromTable} b ON a.${eJ.fromColumn} = b.${eJ.fromColumn} " +
          s"AND a.${eE.fromColumn} < b.${eE.fromColumn} " +
          s"GROUP BY a.${eE.fromColumn}, b.${eE.fromColumn} " +
          s"HAVING COUNT(*) = $k) t",
        0.9, "template_exact_overlap_pair_count")).take(1)
    }

  // "the share of students whose best department matches their grade
  // level's most popular department" — two chained argmaxes compared
  private[gen] val bestMatchesPopularShareRe =
    (raw"(?i)\bthe\s+share\s+of\s+([a-z_][a-z0-9_]*)\s+whose\s+best\s+" +
      raw"([a-z]+(?:[ _][a-z]+)?)\s+matches\s+their\s+" +
      raw"([a-z]+(?:[ _][a-z]+)?)'s\s+most\s+popular\b").r

  /** Best-matches-popular share: per-entity attribute argmax (entity-
    * partitioned window over the (entity, attr) aggregate frame) and
    * per-cohort popularity argmax (cohort-partitioned window over the
    * (cohort, attr) counts), joined on the cohort, share in one scalar
    * aggregate. Measure by elimination. */
  def bestMatchesPopularShareCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    bestMatchesPopularShareRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val cohortWord = m.group(3).toLowerCase.replace(' ', '_')
      (for {
        dimE <- uniqueTable(slice, m.group(1)).toSeq
        cohortCol <- strongColumn(cohortWord, slice.tables(dimE)).toSeq
        eE <- edgesInto(slice, fks, dimE)
        eJ <- fks.find(e => e.fromTable == eE.fromTable && e.toTable != dimE &&
          slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(2), slice.tables(e.toTable)).isDefined).toSeq
        attr <- abbrevColumn(m.group(2), slice.tables(eJ.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH da AS (SELECT s.${eE.fromColumn}, c.$attr, " +
          s"AVG(s.$measure) AS a FROM ${eE.fromTable} s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY s.${eE.fromColumn}, c.$attr), " +
          s"best AS (SELECT ${eE.fromColumn}, $attr FROM (SELECT " +
          s"${eE.fromColumn}, $attr, ROW_NUMBER() OVER (PARTITION BY " +
          s"${eE.fromColumn} ORDER BY a DESC, $attr) AS rn FROM da) x " +
          s"WHERE rn = 1), " +
          s"pop AS (SELECT gl, $attr FROM (SELECT st.$cohortCol AS gl, " +
          s"c.$attr, ROW_NUMBER() OVER (PARTITION BY st.$cohortCol " +
          s"ORDER BY COUNT(*) DESC, c.$attr) AS rn FROM ${eE.fromTable} s " +
          s"JOIN $dimE st ON st.${eE.toColumn} = s.${eE.fromColumn} " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY st.$cohortCol, c.$attr) y WHERE rn = 1) " +
          s"SELECT ROUND(CAST(SUM(CASE WHEN b.$attr = pop.$attr THEN 1 " +
          s"ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS agg_value FROM best b " +
          s"JOIN $dimE st ON st.${eE.toColumn} = b.${eE.fromColumn} " +
          s"JOIN pop ON pop.gl = st.$cohortCol",
        0.9, "template_best_matches_popular_share")).take(1)
    }

  // "the smallest number of courses that together account for half of
  // all scores" — Pareto half-coverage count
  private[gen] val paretoCountRe =
    (raw"(?i)\bthe\s+smallest\s+number\s+of\s+([a-z_][a-z0-9_]*)\s+that\s+" +
      raw"together\s+account\s+for\s+half\s+of\s+all\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Pareto count: group counts in one grouped pass, the greedy
    * (largest-first) cumulative sum over the group-count-sized frame,
    * count of prefixes below the half bar — the same running-sum shape
    * as the compaction planner. */
  def paretoCountCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    paretoCountRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      (for {
        dimJ <- uniqueTable(slice, m.group(1)).toSeq
        eJ <- edgesInto(slice, fks, dimJ)
      } yield Candidate(
        s"WITH n AS (SELECT ${eJ.fromColumn}, COUNT(*) AS c FROM " +
          s"${eJ.fromTable} GROUP BY ${eJ.fromColumn}), " +
          s"r AS (SELECT ${eJ.fromColumn}, c, SUM(c) OVER (ORDER BY c DESC, " +
          s"${eJ.fromColumn} ROWS UNBOUNDED PRECEDING) AS cum, " +
          s"SUM(c) OVER () AS tot FROM n) " +
          s"SELECT COUNT(*) AS agg_value FROM r WHERE cum - c < tot / 2.0",
        0.9, "template_pareto_count")).take(1)
    }

  // "the median of the per-department score ranges" — median of
  // per-attribute spreads
  private[gen] val medianAttrRangeRe =
    (raw"(?i)\bthe\s+median\s+of\s+the\s+per-([a-z]+(?:[ _][a-z]+)?)\s+" +
      raw"([a-z_][a-z0-9_]*)\s+ranges\b").r

  /** Median attribute range: per-attribute MAX−MIN in one grouped pass
    * (dimension broadcast in), exact MEDIAN over the attribute-domain
    * frame. */
  def medianAttrRangeCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String): Seq[Candidate] =
    medianAttrRangeRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      val vWord = { val w = m.group(2); if (w.endsWith("s")) w.dropRight(1) else w }
      (for {
        fact <- slice.tables.keys.toSeq.sorted
        measure <- strongColumn(vWord, slice.tables(fact)).toSeq
        eJ <- fks.filter(e => e.fromTable == fact && slice.tables.contains(e.toTable) &&
          abbrevColumn(m.group(1), slice.tables(e.toTable)).isDefined)
        attr <- abbrevColumn(m.group(1), slice.tables(eJ.toTable)).toSeq
      } yield Candidate(
        s"SELECT CAST(MEDIAN(r) AS DOUBLE) AS agg_value FROM (SELECT " +
          s"c.$attr, MAX(s.$measure) - MIN(s.$measure) AS r FROM $fact s " +
          s"JOIN ${eJ.toTable} c ON c.${eJ.toColumn} = s.${eJ.fromColumn} " +
          s"GROUP BY c.$attr) t",
        0.9, "template_median_attr_range")).take(1)
    }

  // "the age of the top-half performer closest to the overall average
  // age" — nearest-to-mean attribute within a performance band
  private[gen] val nearestAvgAttrRe =
    (raw"(?i)\bthe\s+([a-z_][a-z0-9_]*)\s+of\s+the\s+top-half\s+" +
      raw"performer\s+closest\s+to\s+the\s+overall\s+average\s+" +
      raw"([a-z_][a-z0-9_]*)\b").r

  /** Nearest-to-average attribute: the performance band from a
    * PERCENT_RANK over the entity-count-sized average frame, the mean
    * attribute a scalar subquery, top-1 by absolute distance with an
    * id tiebreak. Attribute words must agree. */
  def nearestAvgAttrCandidates(slice: SchemaSlice, fks: Seq[FkEdge],
      question: String,
      values: String => Map[String, Seq[String]] = _ => Map.empty): Seq[Candidate] =
    nearestAvgAttrRe.findFirstMatchIn(question).toSeq.flatMap { m =>
      if (m.group(1).toLowerCase != m.group(2).toLowerCase) Seq.empty
      else (for {
        eE <- fks.filter(e => slice.tables.contains(e.toTable) &&
          slice.tables.contains(e.fromTable) &&
          strongColumn(m.group(1), slice.tables(e.toTable)).isDefined)
        attr <- strongColumn(m.group(1), slice.tables(eE.toTable)).toSeq
        factCols = slice.tables(eE.fromTable)
        stringCols = values(eE.fromTable).keySet
        measure <- soleMeasure(factCols, stringCols, yearOrDate)
      } yield Candidate(
        s"WITH q AS (SELECT ${eE.fromColumn} FROM (SELECT " +
          s"${eE.fromColumn}, PERCENT_RANK() OVER (ORDER BY a DESC) AS pr " +
          s"FROM (SELECT ${eE.fromColumn}, AVG($measure) AS a FROM " +
          s"${eE.fromTable} GROUP BY ${eE.fromColumn}) x) y " +
          s"WHERE pr <= 0.5) " +
          s"SELECT $attr FROM ${eE.toTable} st JOIN q " +
          s"ON q.${eE.fromColumn} = st.${eE.toColumn} " +
          s"ORDER BY ABS(st.$attr - (SELECT AVG($attr) FROM " +
          s"${eE.toTable})), st.${eE.toColumn} LIMIT 1",
        0.9, "template_nearest_avg_attr")).take(1)
    }
}
