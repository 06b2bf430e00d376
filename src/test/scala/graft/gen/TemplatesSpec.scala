package graft.gen

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FkEdge, SchemaSlice}
import graft.link.Intent

/** Unit coverage for the round-2 template shapes (the eval corpus covers
  * them end-to-end; these pin the generation logic directly). */
class TemplatesSpec extends AnyFunSuite {

  private val slice = SchemaSlice(scala.collection.immutable.ListMap(
    "scores" -> Seq("score_id", "student_id", "course_id", "score", "grade", "year"),
    "courses" -> Seq("course_id", "course_name", "dept"),
    "students" -> Seq("student_id", "student_name", "grade_level", "age")))
  private val fks = Seq(
    FkEdge("scores", "student_id", "students", "student_id"),
    FkEdge("scores", "course_id", "courses", "course_id"))

  private def cands(q: String): Seq[Templates.Candidate] =
    Templates.candidates(slice, fks, Intent.analyze(q, slice.tables.keys.toSeq), q)

  test("agg-top-N: explicit aggregate after 'by' groups and ranks by the aggregate") {
    val q = "top 5 courses by average score"
    val c = cands(q).find(_.method == "template_agg_topn").get
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    assert(c.sql.contains("AVG(score) AS agg_value"), c.sql)
    assert(c.sql.contains("ORDER BY agg_value DESC LIMIT 5"), c.sql)
    assert(c.sql.contains("FROM scores"), c.sql)
  }

  test("plain top-N has no aggregate-by phrase and ranks rows") {
    val c = cands("top 5 orders by score").filter(_.method == "template_agg_topn")
    assert(c.isEmpty)
  }

  test("joined grouped AVG fires only when the dimension attribute beats the local column") {
    val joined = cands("course names with average score per course")
      .filter(_.method == "template_join_group")
    assert(joined.nonEmpty)
    assert(joined.head.sql.contains("GROUP BY j.course_name"), joined.head.sql)
    assert(joined.head.sql.contains("JOIN courses"), joined.head.sql)
    // grouping by a LOCAL column must not join
    assert(cands("average score per course_id").forall(_.method != "template_join_group"))
  }

  test("joined COUNT only when the counted noun names the fact table") {
    val factCount = cands("count of scores per student name")
      .filter(_.method == "template_join_group")
    assert(factCount.nonEmpty && factCount.head.sql.contains("COUNT(*)"), factCount)
    assert(factCount.head.sql.contains("GROUP BY j.student_name"), factCount.head.sql)
    // counting the DIMENSION entity stays local (fan-out would count wrong rows)
    assert(cands("count of students per grade_level")
      .forall(_.method != "template_join_group"))
  }

  test("join projection narrows to question-matched columns with a total order") {
    val c = Templates.joinCandidates(slice, fks, "student names with their scores")
    assert(c.nonEmpty)
    assert(c.head.sql.contains("t.student_name") && c.head.sql.contains("f.score"), c.head.sql)
    assert(!c.head.sql.contains("f.score_id,"), c.head.sql) // no unmatched columns
    assert(c.head.sql.contains("ORDER BY f.score_id"), c.head.sql)
    // without question signal: generic first-3-per-side, STILL totally
    // ordered (key-ish column + projection) so the LIMIT window is
    // deterministic — an unordered LIMIT preview returns an
    // engine-dependent subset and can't be scored against any gold
    // (round-13; ExternalEval t5/v5/v7)
    val generic = Templates.joinCandidates(slice, fks)
    assert(generic.head.sql.contains(
      "ORDER BY f.score_id, f.student_id, f.course_id, t.student_id"),
      generic.head.sql)
  }

  test("extracted filters reach every shape as WHERE clauses") {
    val agg = cands("count of scores in year 2023").find(_.method == "template_agg").get
    assert(agg.sql.contains("WHERE year = 2023"), agg.sql)
    val filt = cands("scores with a B grade and score greater than 90")
      .find(_.method == "template_filter").get
    assert(filt.sql.contains("grade = 'B'") && filt.sql.contains("score > 90"), filt.sql)
    assert(filt.sql.contains("ORDER BY score_id"), filt.sql)
  }

  test("LIKE shapes: prefix / suffix / containing extract with wildcard hygiene") {
    val pre = cands("student names starting with A").find(_.method == "template_filter").get
    assert(pre.sql.contains("student_name LIKE 'A%'"), pre.sql)
    assert(pre.sql.contains("FROM students"), pre.sql)
    val suf = Templates.extractFilters("student names ending with z",
      Seq("student_name", "student_id"))
    assert(suf == Seq("student_name LIKE '%z'"), suf)
    val inf = Templates.extractFilters("student names containing 100%ile",
      Seq("student_name", "student_id"))
    assert(inf == Seq("student_name LIKE '%100ile%'"), inf) // embedded % stripped
  }

  test("anti-join count: dimension rows with no referencing fact rows") {
    val c = cands("number of courses that have no scores")
    val anti = c.find(_.method == "template_anti_join").get
    assert(anti.sql.contains("FROM courses d WHERE NOT EXISTS"), anti.sql)
    assert(anti.sql.contains("f.course_id = d.course_id"), anti.sql)
    // the anti-join outranks the plain COUNT(*) candidate
    assert(c.head.method == "template_anti_join", c.head)
    // no FK edge between the nouns → no candidate fabricated
    assert(cands("number of students that have no courses")
      .forall(_.method != "template_anti_join"))
  }

  test("nth-distinct-value: ordinal + direction + column") {
    val second = cands("the second highest score").find(_.method == "template_nth").get
    assert(second.sql ==
      "SELECT DISTINCT score FROM scores ORDER BY score DESC LIMIT 1 OFFSET 1", second.sql)
    val third = cands("third lowest age").find(_.method == "template_nth").get
    assert(third.sql.contains("age ASC LIMIT 1 OFFSET 2"), third.sql)
    // "highest" alone (no ordinal) stays a MAX aggregation, not an nth
    assert(cands("highest score").forall(_.method != "template_nth"))
    // numeric ordinals beyond "fifth" are served too — the intent layer
    // suppresses the MAX path for any "Nth highest", so the template must
    // cover the same surface (round-4 advisor: "6th highest" lost both)
    val sixth = cands("the 6th highest score").find(_.method == "template_nth").get
    assert(sixth.sql.contains("score DESC LIMIT 1 OFFSET 5"), sixth.sql)
    val tenth = cands("10th lowest age").find(_.method == "template_nth").get
    assert(tenth.sql.contains("age ASC LIMIT 1 OFFSET 9"), tenth.sql)
  }

  test("scalar-average filter: rows compared against the column's own average") {
    val c = cands("scores above the average score").find(_.method == "template_scalar_avg").get
    assert(c.sql.contains("WHERE score > (SELECT AVG(score) FROM scores)"), c.sql)
    assert(c.sql.contains("ORDER BY score_id"), c.sql)
    val below = cands("students below the average age").find(_.method == "template_scalar_avg").get
    assert(below.sql.contains("WHERE age < (SELECT AVG(age) FROM students)"), below.sql)
    // a plain average question stays an aggregate, never a row filter
    assert(cands("average score per course_id").forall(_.method != "template_scalar_avg"))
  }

  test("most/fewest: extreme grouped count, joined when the entity names a dimension column") {
    val c = cands("student name with the most scores")
    val most = c.find(_.method == "template_most_join").get
    assert(most.sql.contains("GROUP BY j.student_name"), most.sql)
    assert(most.sql.contains("ORDER BY agg_value DESC, j.student_name LIMIT 1"), most.sql)
    assert(c.head.method.startsWith("template_most"), c.head) // outranks generic shapes
    val fewest = cands("course_id with the fewest scores").find(_.method == "template_most_local").get
    assert(fewest.sql.contains("GROUP BY course_id ORDER BY agg_value ASC"), fewest.sql)
    // unknown nouns never fabricate a candidate
    assert(cands("widget with the most gadgets").forall(!_.method.startsWith("template_most")))
  }

  test("joined grouped AVG attaches dimension-side filters from the question") {
    val c = cands("average score per course name in the science dept")
      .find(_.method == "template_join_group").get
    assert(c.sql.contains("WHERE j.dept = 'science'"), c.sql)
    assert(c.sql.contains("GROUP BY j.course_name"), c.sql)
  }

  test("3-table bridge: entity + fact numeric filter + capitalized dimension value") {
    val c = cands("students who scored above 90 in Biology").find(_.method == "template_join3").get
    assert(c.sql.contains("JOIN students"), c.sql)
    assert(c.sql.contains("WHERE j.course_name = 'Biology' AND f.score > 90"), c.sql)
    assert(c.sql.contains("SELECT DISTINCT d.student_name"), c.sql)
    // the lowercase tail after the capitalized value is NOT swallowed
    val trimmed = cands("students who scored above 90 in Biology this semester")
      .find(_.method == "template_join3").get
    assert(trimmed.sql.contains("= 'Biology'") && !trimmed.sql.contains("this semester"), trimmed.sql)
    // a lowercase word after "in" never fabricates a value filter
    assert(cands("students who scored above 90 in total").forall(_.method != "template_join3"))
  }

  test("nested HAVING count: groups passing a distinct-count threshold") {
    val c = cands("number of students who take more than 5 courses")
      .find(_.method == "template_nested_having").get
    assert(c.sql.contains("HAVING COUNT(DISTINCT f.course_id) > 5"), c.sql)
    assert(c.sql.contains("GROUP BY f.student_id"), c.sql)
    assert(c.sql.startsWith("SELECT COUNT(*) AS agg_value FROM (SELECT"), c.sql)
  }

  test("aggregate of aggregate: extreme of a grouped average") {
    val c = cands("highest average score among courses").find(_.method == "template_agg_of_agg").get
    assert(c.sql.contains("SELECT MAX(a) AS agg_value"), c.sql)
    assert(c.sql.contains("SELECT AVG(score) AS a FROM scores GROUP BY course_id"), c.sql)
    val low = cands("lowest average score per course_id").find(_.method == "template_agg_of_agg").get
    assert(low.sql.contains("SELECT MIN(a)"), low.sql)
  }

  test("group-wise argmax: inner aggregate follows direction and the explicit agg word") {
    val hi = cands("for each dept the course with the highest average score")
      .find(_.method == "template_groupwise_argmax").get
    assert(hi.sql.contains("ORDER BY AVG(f.score) DESC, d.course_name"), hi.sql)
    assert(hi.sql.contains("PARTITION BY d.dept"), hi.sql)
    assert(hi.sql.contains("WHERE rn = 1"), hi.sql)
    // bare "lowest score" must rank by the group's MINIMUM ascending —
    // MAX ASC would name the group whose best value is worst
    val lo = cands("for each dept the course with the lowest score")
      .find(_.method == "template_groupwise_argmax").get
    assert(lo.sql.contains("ORDER BY MIN(f.score) ASC"), lo.sql)
    val hiBare = cands("for each dept the course with the highest score")
      .find(_.method == "template_groupwise_argmax").get
    assert(hiBare.sql.contains("ORDER BY MAX(f.score) DESC"), hiBare.sql)
  }

  test("HAVING vs scalar: group side and scalar side keep their own aggregate words") {
    val c = cands("students whose average score is above the overall average")
      .find(_.method == "template_having_scalar").get
    assert(c.sql.contains("HAVING AVG(f.score) > (SELECT AVG(score) FROM scores)"), c.sql)
    // mixed words: each group's TOTAL compared to the overall AVERAGE —
    // not total-vs-total, which is vacuously false for positive values
    val mixed = cands("students whose total score is below the overall average")
      .find(_.method == "template_having_scalar").get
    assert(mixed.sql.contains("HAVING SUM(f.score) < (SELECT AVG(score) FROM scores)"), mixed.sql)
  }

  test("ratio aggregate: capitalized/numeric value only, percentage scales by 100") {
    val c = cands("percentage of scores with grade A")
      .find(_.method == "template_ratio_agg").get
    assert(c.sql.contains("100.0 * SUM(CASE WHEN grade = 'A' THEN 1 ELSE 0 END) / COUNT(*)"), c.sql)
    // a lowercase non-literal word fabricates nothing
    assert(cands("fraction of scores with grade problems")
      .forall(_.method != "template_ratio_agg"))
  }

  private val courseDomains: String => Map[String, Seq[String]] = {
    case "courses" => Map(
      "dept" -> Seq("arts", "history", "math", "science"),
      "course_name" -> Seq("Algebra", "Biology"))
    case _ => Map.empty
  }

  private def candsV(q: String): Seq[Templates.Candidate] =
    Templates.candidates(slice, fks, Intent.analyze(q, slice.tables.keys.toSeq), q,
      courseDomains)

  test("division: modifier resolves via mined value domains to exactly one column") {
    val c = candsV("students who took all math courses")
      .find(_.method == "template_division").get
    assert(c.sql.contains("WHERE j.dept = 'math'"), c.sql)
    assert(c.sql.contains("GROUP BY d.student_id, d.student_name"), c.sql)
    assert(c.sql.contains(
      "HAVING COUNT(DISTINCT f.course_id) = (SELECT COUNT(*) FROM courses WHERE dept = 'math')"), c.sql)
    // unmodified division divides by the whole dimension
    val all = candsV("students who took all courses")
      .find(_.method == "template_division").get
    assert(!all.sql.contains("WHERE"), all.sql)
    assert(all.sql.contains("= (SELECT COUNT(*) FROM courses)"), all.sql)
    // a modifier in NO domain (or without domains wired) fabricates nothing
    assert(candsV("students who took all advanced courses")
      .forall(_.method != "template_division"))
    assert(cands("students who took all math courses")
      .forall(_.method != "template_division"))
  }

  test("nth-ranked aggregate: RANK over group rows keeps ties, nthRe stays on raw values") {
    val c = cands("the course with the second highest average score")
      .find(_.method == "template_nth_agg").get
    assert(c.sql.contains("RANK() OVER (ORDER BY AVG(score) DESC, course_id)"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    assert(c.sql.contains("WHERE rnk = 2"), c.sql)
    // the raw nth-distinct-value shape must not also fire on the agg form
    assert(cands("the course with the second highest average score")
      .forall(_.method != "template_nth"))
    val low = cands("the course with the third lowest total score")
      .find(_.method == "template_nth_agg").get
    assert(low.sql.contains("SUM(score) ASC") && low.sql.contains("rnk = 3"), low.sql)
  }

  test("conditional share: grouped CASE-count over one aggregate pass") {
    val c = cands("for each course, the percentage of scores of at least 90")
      .find(_.method == "template_conditional_share").get
    assert(c.sql.contains(
      "100.0 * COUNT(CASE WHEN score >= 90 THEN 1 END) / COUNT(*) AS agg_value"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    val frac = cands("for each grade, the fraction of scores below 60")
      .find(_.method == "template_conditional_share").get
    assert(frac.sql.contains("1.0 * COUNT(CASE WHEN score < 60 THEN 1 END)"), frac.sql)
    assert(frac.sql.contains("GROUP BY grade"), frac.sql)
  }

  test("trend compare: both periods share one grouped pass, verbs set direction") {
    val c = cands("students whose average score improved from 2022 to 2023")
      .find(_.method == "template_trend_compare").get
    assert(c.sql.contains("GROUP BY student_id"), c.sql)
    assert(c.sql.contains(
      "HAVING AVG(CASE WHEN year = 2023 THEN score END) > AVG(CASE WHEN year = 2022 THEN score END)"), c.sql)
    assert(c.sql.contains("ORDER BY d.student_name"), c.sql)
    val down = cands("students whose total score dropped from 2022 to 2024")
      .find(_.method == "template_trend_compare").get
    assert(down.sql.contains(
      "SUM(CASE WHEN year = 2024 THEN score END) < SUM(CASE WHEN year = 2022 THEN score END)"), down.sql)
    // no year-named fact column -> the shape is skipped, nothing fabricated
    val noYear = SchemaSlice(Map(
      "students" -> Seq("student_id", "student_name"),
      "visits" -> Seq("visit_id", "student_id", "duration")))
    assert(Templates.candidates(noYear, Seq(FkEdge("visits", "student_id", "students", "student_id")),
        Intent.analyze("students whose average duration improved from 2022 to 2023",
          noYear.tables.keys.toSeq),
        "students whose average duration improved from 2022 to 2023")
      .forall(_.method != "template_trend_compare"))
  }

  test("group share: inner distinct count per entity key, outer single-row share") {
    val c = cands("the percentage of students who take more than 5 courses")
      .find(_.method == "template_group_share").get
    assert(c.sql.contains(
      "SELECT student_id, COUNT(DISTINCT course_id) AS c FROM scores GROUP BY student_id"), c.sql)
    assert(c.sql.contains("ROUND(100.0 * SUM(CASE WHEN c > 5 THEN 1 ELSE 0 END) / COUNT(*), 2)"), c.sql)
    val frac = cands("the fraction of students who attend at least 3 courses")
      .find(_.method == "template_group_share").get
    assert(frac.sql.contains("ROUND(1.0 *") && frac.sql.contains("c >= 3"), frac.sql)
    // the categorical ratio shape must not also fire on the counted form
    assert(cands("the percentage of students who take more than 5 courses")
      .forall(_.method != "template_ratio_agg"))
  }

  test("co-occurrence: anchor rows isolated before the fact-fact join, anchor excluded") {
    val c = cands("students who share a course with Ada Adams")
      .find(_.method == "template_co_occurrence").get
    assert(c.sql.contains("WHERE d1.student_name = 'Ada Adams'"), c.sql)
    assert(c.sql.contains("JOIN scores f2 ON f2.course_id = a.jk AND f2.student_id <> a.ek"), c.sql)
    assert(c.sql.contains("WHERE d2.student_name <> 'Ada Adams'"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d2.student_name"), c.sql)
    // a lowercase tail is not a display-name anchor
    assert(cands("students who share a course with friends")
      .forall(_.method != "template_co_occurrence"))
  }

  test("universal filter: negated existential compiles to a group extreme") {
    val c = cands("courses where no student scored below 60")
      .find(_.method == "template_universal_filter").get
    assert(c.sql.contains("GROUP BY d.course_name HAVING MIN(f.score) >= 60"), c.sql)
    assert(c.sql.startsWith("SELECT d.course_name"), c.sql)
    val hi = cands("courses where no student scored above 95")
      .find(_.method == "template_universal_filter").get
    assert(hi.sql.contains("HAVING MAX(f.score) <= 95"), hi.sql)
    // the "no"-noun must be connected to the fact - an unrelated word fires nothing
    assert(cands("courses where no teacher scored below 60")
      .forall(_.method != "template_universal_filter"))
  }

  test("pair co-occurrence: unordered pairs once, grouped on display names") {
    val c = cands("the two courses most often taken together")
      .find(_.method == "template_pair_cooccurrence").get
    assert(c.sql.contains("ON f1.student_id = f2.student_id AND f1.course_id < f2.course_id"), c.sql)
    assert(c.sql.contains("GROUP BY j1.course_name, j2.course_name"), c.sql)
    assert(c.sql.contains("ORDER BY COUNT(*) DESC, course_name_a, course_name_b LIMIT 1"), c.sql)
  }

  test("self-relative: anchor value filter meets the per-entity average on one key") {
    val c = cands("students whose score in Algebra is above their average score")
      .find(_.method == "template_self_relative").get
    assert(c.sql.contains("AVG(score) AS a FROM scores GROUP BY student_id"), c.sql)
    assert(c.sql.contains("WHERE j.course_name = 'Algebra' AND f.score > m.a"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d.student_name"), c.sql)
    val below = cands("students whose score in Biology is below their own average score")
      .find(_.method == "template_self_relative").get
    assert(below.sql.contains("f.score < m.a") && below.sql.contains("'Biology'"), below.sql)
    // mismatched measure words fire nothing
    assert(cands("students whose score in Algebra is above their average age")
      .forall(_.method != "template_self_relative"))
    // a lowercase word after "in" is not a display-name anchor
    assert(cands("students whose score in general is above their average score")
      .forall(_.method != "template_self_relative"))
  }

  test("attribute division: divisor is the distinct count of a dimension attribute") {
    val c = cands("students who took a course in every department")
      .find(_.method == "template_attr_division").get
    assert(c.sql.contains("HAVING COUNT(DISTINCT j.dept) = " +
      "(SELECT COUNT(DISTINCT dept) FROM courses)"), c.sql)
    assert(c.sql.contains("GROUP BY d.student_id, d.student_name"), c.sql)
    assert(c.sql.startsWith("SELECT d.student_name"), c.sql)
    // an attribute word resolving to no column of the J dimension fires nothing
    assert(cands("students who took a course in every semester")
      .forall(_.method != "template_attr_division"))
    // row-division ("all the math courses") stays with template_division
    assert(cands("students who took all math courses")
      .forall(_.method != "template_attr_division"))
  }

  test("variability: dispersion argmin/argmax over per-entity stddev") {
    val c = cands("the student with the most consistent scores")
      .find(_.method == "template_variability").get
    assert(c.sql.contains("STDDEV_SAMP(score) AS sd"), c.sql)
    assert(c.sql.contains("HAVING COUNT(*) >= 2"), c.sql)
    assert(c.sql.contains("ORDER BY sd ASC, student_id LIMIT 1"), c.sql)
    // "most variable" flips to DESC; "least consistent" too
    val v = cands("the course with the most variable scores")
      .find(_.method == "template_variability").get
    assert(v.sql.contains("ORDER BY sd DESC, course_id LIMIT 1"), v.sql)
    val lc = cands("the student with the least consistent scores")
      .find(_.method == "template_variability").get
    assert(lc.sql.contains("ORDER BY sd DESC"), lc.sql)
    // a measure word resolving to no fact column fires nothing
    assert(cands("the student with the most consistent attendance")
      .forall(_.method != "template_variability"))
  }

  test("group self-share: per-group share against the group's own average") {
    val c = cands("for each course, the share of scores above the course average")
      .find(_.method == "template_group_self_share").get
    assert(c.sql.contains("AVG(score) OVER (PARTITION BY course_id) AS a"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN score > a THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("ROUND(100.0 *"), c.sql)
    assert(c.sql.contains("GROUP BY course_id ORDER BY course_id"), c.sql)
    val below = cands("for each course, the percentage of scores below its own average")
      .find(_.method == "template_group_self_share").get
    assert(below.sql.contains("score < a"), below.sql)
    // the numeric-threshold form stays with template_conditional_share
    assert(cands("for each course, the percentage of scores of at least 90")
      .forall(_.method != "template_group_self_share"))
    // a mismatched group word before "average" fires nothing
    assert(cands("for each course, the share of scores above the student average")
      .forall(_.method != "template_group_self_share"))
  }

  test("relative division: fractional divisor over the counted dimension") {
    val c = cands("courses taken by at least half of the students")
      .find(_.method == "template_relative_division").get
    assert(c.sql.contains("HAVING COUNT(DISTINCT f.student_id) >= 0.5 * " +
      "(SELECT COUNT(*) FROM students)"), c.sql)
    assert(c.sql.startsWith("SELECT j.course_name"), c.sql)
    assert(c.sql.contains("GROUP BY j.course_id, j.course_name"), c.sql)
    // no join to the counted dimension — its members count through the fk
    assert(!c.sql.contains("JOIN students"), c.sql)
    // "more than" tightens to strict; percent maps to its decimal
    val strict = cands("courses taken by more than 25 percent of the students")
      .find(_.method == "template_relative_division").get
    assert(strict.sql.contains("> 0.25 *"), strict.sql)
    // an unmappable fraction word declines rather than approximating
    assert(cands("courses taken by at least a third of the students")
      .forall(_.method != "template_relative_division"))
  }

  test("group top-k membership: RANK per group, dimension joined after the filter") {
    val c = cands("students ranked in the top 3 of each course by score")
      .find(_.method == "template_group_topk_members").get
    assert(c.sql.contains(
      "RANK() OVER (PARTITION BY course_id ORDER BY score DESC) AS rnk"), c.sql)
    assert(c.sql.contains("WHERE t.rnk <= 3"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d.student_name"), c.sql)
    // "bottom" flips the rank direction
    val b = cands("students in the bottom 2 of every course by score")
      .find(_.method == "template_group_topk_members").get
    assert(b.sql.contains("ORDER BY score ASC"), b.sql)
    // a measure word resolving to no fact column fires nothing
    assert(cands("students ranked in the top 3 of each course by attendance")
      .forall(_.method != "template_group_topk_members"))
  }

  test("deviation argmax: rank groups by distance from the global aggregate") {
    val c = cands("the course whose average score differs most from the overall average")
      .find(_.method == "template_deviation_argmax").get
    assert(c.sql.contains("ABS(AVG(score) - (SELECT AVG(score) FROM scores)) AS dev"), c.sql)
    assert(c.sql.contains("ORDER BY dev DESC, course_id LIMIT 1"), c.sql)
    // "least" flips to ASC; total maps to SUM
    val l = cands("the student whose total score deviates least from the overall total")
      .find(_.method == "template_deviation_argmax").get
    assert(l.sql.contains("ABS(SUM(score) - (SELECT SUM(score) FROM scores))"), l.sql)
    assert(l.sql.contains("ORDER BY dev ASC, student_id LIMIT 1"), l.sql)
    // the offset-HAVING form stays with template_deviation_having
    assert(cands("students whose average score is at least 10 points above the overall average")
      .forall(_.method != "template_deviation_argmax"))
  }

  test("self-relative: multi-dimension facts anchor by mined value domains or decline") {
    // scores bridges THREE dimensions; without domain data the anchor
    // is ambiguous and the shape must decline rather than guess
    val multi = SchemaSlice(scala.collection.immutable.ListMap(
      "scores" -> Seq("score_id", "student_id", "course_id", "teacher_id", "score"),
      "teachers" -> Seq("teacher_id", "teacher_name"),
      "courses" -> Seq("course_id", "course_name"),
      "students" -> Seq("student_id", "student_name")))
    val multiFks = Seq(
      FkEdge("scores", "student_id", "students", "student_id"),
      FkEdge("scores", "course_id", "courses", "course_id"),
      FkEdge("scores", "teacher_id", "teachers", "teacher_id"))
    val q = "students whose score in Algebra is above their average score"
    def gen(values: String => Map[String, Seq[String]]) =
      Templates.candidates(multi, multiFks,
        Intent.analyze(q, multi.tables.keys.toSeq), q, values)
    assert(gen(_ => Map.empty).forall(_.method != "template_self_relative"))
    // with domains the value picks the right dimension — even when
    // another nameish dimension precedes it in the FK list
    val domains: String => Map[String, Seq[String]] = {
      case "courses" => Map("course_name" -> Seq("Algebra", "Biology"))
      case _ => Map.empty
    }
    val c = gen(domains).find(_.method == "template_self_relative").get
    assert(c.sql.contains("JOIN courses j") && c.sql.contains("j.course_name = 'Algebra'"), c.sql)
  }

  test("monotonic trend: per-period aggregate, LAG step check, COUNT >= 2 guard") {
    val c = cands("students whose average score improved every year")
      .find(_.method == "template_monotonic_trend").get
    assert(c.sql.contains("AVG(score) AS a"), c.sql)
    assert(c.sql.contains(
      "LAG(AVG(score)) OVER (PARTITION BY student_id ORDER BY year) AS prev"), c.sql)
    assert(c.sql.contains(
      "HAVING MIN(CASE WHEN prev IS NULL OR a > prev THEN 1 ELSE 0 END) = 1"), c.sql)
    assert(c.sql.contains("AND COUNT(*) >= 2"), c.sql)
    assert(c.sql.contains("GROUP BY student_id, year"), c.sql)
    // "declined" flips the step direction; "total" maps to SUM
    val d = cands("students whose total score declined every year")
      .find(_.method == "template_monotonic_trend").get
    assert(d.sql.contains("a < prev"), d.sql)
    assert(d.sql.contains("SUM(score)"), d.sql)
    // a period word resolving to no fact column fires nothing
    assert(cands("students whose average score improved every semester")
      .forall(_.method != "template_monotonic_trend"))
  }

  test("pair in-common phrasing reuses the co-occurrence pair plan") {
    val c = cands("the two courses with the most students in common")
      .find(_.method == "template_pair_cooccurrence").get
    assert(c.sql.contains("f1.student_id = f2.student_id"), c.sql)
    assert(c.sql.contains("f1.course_id < f2.course_id"), c.sql)
    assert(c.sql.contains("ORDER BY COUNT(*) DESC, course_name_a, course_name_b LIMIT 1"), c.sql)
    // the named shared entity must resolve to the fact's other FK
    // dimension — an unrelated word fires nothing
    assert(cands("the two courses with the most teachers in common")
      .forall(_.method != "template_pair_cooccurrence"))
  }

  test("universal self-relative: every row above its group average, verb-stem measure") {
    val c = cands("students who scored above the course average in every course they took")
      .find(_.method == "template_universal_self_relative").get
    assert(c.sql.contains("AVG(score) AS a"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    assert(c.sql.contains(
      "HAVING MIN(CASE WHEN f.score > g.a THEN 1 ELSE 0 END) = 1"), c.sql)
    assert(c.sql.contains("JOIN students d"), c.sql)
    // "below" flips the comparison
    val b = cands("students who scored below the course average in every course they took")
      .find(_.method == "template_universal_self_relative").get
    assert(b.sql.contains("f.score < g.a"), b.sql)
    // the two group words must name the same dimension
    assert(cands("students who scored above the course average in every department they took")
      .forall(_.method != "template_universal_self_relative"))
  }

  test("same-dimension grouped argmax: attribute abbreviation, rank over group rows") {
    val c = cands("for each department, the course with the highest average score")
      .find(_.method == "template_same_dim_argmax").get
    assert(c.sql.contains(
      "RANK() OVER (PARTITION BY d.dept ORDER BY AVG(f.score) DESC, d.course_name)"), c.sql)
    assert(c.sql.contains("GROUP BY d.dept, d.course_name"), c.sql)
    assert(c.sql.contains("WHERE rnk = 1"), c.sql)
    // the cross-dimension reading (grade_level on students) keeps its
    // round-7c template — this shape must not steal it
    assert(cands("for each grade_level, the course with the highest average score")
      .exists(_.method == "template_grouped_argmax2"))
    // an attribute resolving nowhere fires nothing
    assert(cands("for each faculty, the course with the highest average score")
      .forall(_.method != "template_same_dim_argmax"))
  }

  test("range HAVING: MAX - MIN threshold in one grouped pass") {
    val c = cands("students whose scores span more than 40 points")
      .find(_.method == "template_range_having").get
    assert(c.sql.contains("HAVING MAX(f.score) - MIN(f.score) > 40"), c.sql)
    assert(c.sql.startsWith("SELECT d.student_name"), c.sql)
    // "at least" keeps equality
    val ge = cands("students whose scores span at least 30")
      .find(_.method == "template_range_having").get
    assert(ge.sql.contains(">= 30"), ge.sql)
  }

  test("trend argmax: consecutive-period delta over period group rows") {
    val c = cands("the year with the biggest improvement in average score")
      .find(_.method == "template_trend_argmax").get
    assert(c.sql.contains(
      "AVG(score) - LAG(AVG(score)) OVER (ORDER BY year) AS delta"), c.sql)
    assert(c.sql.contains("WHERE delta IS NOT NULL ORDER BY delta DESC, year LIMIT 1"), c.sql)
    // a falling word ranks the most negative delta first
    val d = cands("the year with the biggest drop in average score")
      .find(_.method == "template_trend_argmax").get
    assert(d.sql.contains("ORDER BY delta ASC"), d.sql)
    // a period word resolving to no fact column fires nothing
    assert(cands("the semester with the biggest improvement in average score")
      .forall(_.method != "template_trend_argmax"))
  }

  test("division by example: the divisor is the named entity's distinct J-set") {
    val c = cands("students who took every course taken by Ada Adams")
      .find(_.method == "template_division_by_example").get
    assert(c.sql.contains("WHERE a.student_name = 'Ada Adams'"), c.sql)
    assert(c.sql.contains("HAVING COUNT(DISTINCT f.course_id) = " +
      "(SELECT COUNT(DISTINCT af.course_id)"), c.sql)
    assert(c.sql.contains("f.course_id IN (SELECT af.course_id"), c.sql)
    // a lowercase phrase after "by" is not a name anchor — no candidate
    assert(cands("students who took every course taken by someone")
      .forall(_.method != "template_division_by_example"))
  }

  test("filtered popularity: prefix-resolved attribute filter, count argmax") {
    val c = cands("the most popular course among grade 9 students")
      .find(_.method == "template_filtered_popularity").get
    assert(c.sql.contains("WHERE e.grade_level = 9"), c.sql)
    assert(c.sql.contains("ORDER BY COUNT(*) DESC, j.course_name LIMIT 1"), c.sql)
    assert(c.sql.startsWith("SELECT j.course_name"), c.sql)
    // an attribute word resolving to no entity column fires nothing
    assert(cands("the most popular course among cohort 9 students")
      .forall(_.method != "template_filtered_popularity"))
  }

  test("argmax attribute filter: per-group rank 1, entity attribute comparison") {
    val c = cands("courses where the top scorer is younger than 16")
      .find(_.method == "template_argmax_attr_filter").get
    assert(c.sql.contains(
      "RANK() OVER (PARTITION BY course_id ORDER BY score DESC) AS r"), c.sql)
    assert(c.sql.contains("WHERE t.r = 1 AND e.age < 16"), c.sql)
    // "worst ... older" flips both the rank direction and the comparison
    val w = cands("courses where the worst scorer is older than 17")
      .find(_.method == "template_argmax_attr_filter").get
    assert(w.sql.contains("ORDER BY score ASC"), w.sql)
    assert(w.sql.contains("e.age > 17"), w.sql)
  }

  test("pair argmin over aggregates: adjacent-in-sorted-order, never a pairwise join") {
    val c = cands("the pair of students with the most similar average scores")
      .find(_.method == "template_pair_argmin_agg").get
    assert(c.sql.contains("LAG(a) OVER (ORDER BY a, k)"), c.sql)
    assert(c.sql.contains("LEAST(k, LAG(k) OVER (ORDER BY a, k)) AS student_id_a"), c.sql)
    assert(c.sql.contains("ORDER BY delta ASC, student_id_a, student_id_b LIMIT 1"), c.sql)
    // no self-join of the aggregate subquery anywhere
    assert(!c.sql.toLowerCase.contains("join"), c.sql)
  }

  test("aggregate vs median-of-aggregates: scalar median over group rows") {
    val c = cands("courses whose average score is above the median course average")
      .find(_.method == "template_agg_vs_median").get
    assert(c.sql.contains("WHERE a > (SELECT MEDIAN(a) FROM"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    // "below" flips the comparison
    val b = cands("courses whose average score is below the median course average")
      .find(_.method == "template_agg_vs_median").get
    assert(b.sql.contains("WHERE a < (SELECT MEDIAN"), b.sql)
    // mismatched entity words fire nothing
    assert(cands("courses whose average score is above the median student average")
      .forall(_.method != "template_agg_vs_median"))
  }

  test("set equality: entities join on the sorted J-set signature") {
    val c = cands("students who share every course with another student")
      .find(_.method == "template_set_equality").get
    assert(c.sql.contains("sort_array(collect_set(course_id))"), c.sql)
    assert(c.sql.contains("ON a.cs = b.cs AND a.k <> b.k"), c.sql)
    assert(c.sql.contains("SELECT DISTINCT d.student_name"), c.sql)
    // "another X" must name the same entity
    assert(cands("students who share every course with another teacher")
      .forall(_.method != "template_set_equality"))
  }

  test("per-entity argmax with attribute filter requires a mined domain value") {
    val domains: String => Map[String, Seq[String]] = {
      case "courses" => Map("dept" -> Seq("math", "science", "history", "arts"))
      case _ => Map.empty
    }
    def gen(q: String) =
      Templates.candidates(slice, fks, Intent.analyze(q, slice.tables.keys.toSeq), q, domains)
    val c = gen("students whose best course by average score is in the math department")
      .find(_.method == "template_entity_argmax_attr").get
    assert(c.sql.contains(
      "RANK() OVER (PARTITION BY student_id ORDER BY AVG(score) DESC, course_id)"), c.sql)
    assert(c.sql.contains("WHERE t.r = 1 AND c.dept = 'math'"), c.sql)
    assert(c.sql.contains("GROUP BY student_id, course_id"), c.sql)
    // "worst" flips the rank direction
    val w = gen("students whose worst course by average score is in the arts department")
      .find(_.method == "template_entity_argmax_attr").get
    assert(w.sql.contains("ORDER BY AVG(score) ASC"), w.sql)
    // a value outside the mined domain fires nothing (no fabrication)
    assert(gen("students whose best course by average score is in the robotics department")
      .forall(_.method != "template_entity_argmax_attr"))
    // and without domains at all, nothing fires
    assert(cands("students whose best course by average score is in the math department")
      .forall(_.method != "template_entity_argmax_attr"))
  }

  test("trend share: both period aggregates in one pass, both-present denominator") {
    val c = cands("the percentage of students who improved their average score from 2022 to 2023")
      .find(_.method == "template_trend_share").get
    assert(c.sql.contains("AVG(CASE WHEN year = 2022 THEN score END) AS a1"), c.sql)
    assert(c.sql.contains("AVG(CASE WHEN year = 2023 THEN score END) AS a2"), c.sql)
    assert(c.sql.contains("WHERE a1 IS NOT NULL AND a2 IS NOT NULL"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN a2 > a1 THEN 1 ELSE 0 END)"), c.sql)
    // falling verbs flip the comparison
    val d = cands("the percentage of students who decreased their average score from 2022 to 2023")
      .find(_.method == "template_trend_share").get
    assert(d.sql.contains("a2 < a1"), d.sql)
  }

  test("reverse attribute division: distinct entity-attribute count vs domain size") {
    val c = cands("courses taken by students in every grade level")
      .find(_.method == "template_reverse_attr_division").get
    assert(c.sql.contains("HAVING COUNT(DISTINCT e.grade_level) = " +
      "(SELECT COUNT(DISTINCT grade_level) FROM students)"), c.sql)
    assert(c.sql.startsWith("SELECT j.course_name"), c.sql)
    // an attribute resolving nowhere on the entity dimension fires nothing
    assert(cands("courses taken by students in every cohort")
      .forall(_.method != "template_reverse_attr_division"))
  }

  test("joined pair argmax: pairs over attribute group rows, never the fact") {
    val c = cands("the two departments with the most different average scores")
      .find(_.method == "template_joined_pair_argmax").get
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("FROM g a JOIN g b ON a.k < b.k"), c.sql)
    assert(c.sql.contains("ORDER BY ABS(a.av - b.av) DESC, dept_a, dept_b LIMIT 1"), c.sql)
    // an attribute word resolving on no joined dimension fires nothing
    assert(cands("the two faculties with the most different average scores")
      .forall(_.method != "template_joined_pair_argmax"))
  }

  test("count vs average count: per-entity distinct count against its own mean") {
    val c = cands("students who took more courses than the average student")
      .find(_.method == "template_count_vs_avg_count").get
    assert(c.sql.contains("COUNT(DISTINCT course_id) AS n"), c.sql)
    assert(c.sql.contains("WHERE t.n > (SELECT AVG(n) FROM"), c.sql)
    // "fewer" flips the comparison
    val f = cands("students who took fewer courses than the average student")
      .find(_.method == "template_count_vs_avg_count").get
    assert(f.sql.contains("t.n < (SELECT AVG(n)"), f.sql)
    // the comparison entity must name the same dimension
    assert(cands("students who took more courses than the average teacher")
      .forall(_.method != "template_count_vs_avg_count"))
  }

  test("joined conditional share: share within joined-attribute groups") {
    val c = cands("for each grade level, the percentage of scores above 80")
      .find(_.method == "template_joined_cond_share").get
    assert(c.sql.contains("GROUP BY e.grade_level"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN f.score > 80 THEN 1 ELSE 0 END)"), c.sql)
    // the same-table group form stays with template_conditional_share
    assert(cands("for each course, the percentage of scores of at least 90")
      .forall(_.method != "template_joined_cond_share"))
  }

  test("joined ratio argmax: case-sensitive category value, one grouped pass") {
    val c = cands("the department with the highest ratio of A grades")
      .find(_.method == "template_joined_ratio_argmax").get
    assert(c.sql.contains("SUM(CASE WHEN f.grade = 'A' THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("ORDER BY r DESC, dept LIMIT 1"), c.sql)
    // a lowercase letter is not a category value — no candidate
    assert(cands("the department with the highest ratio of a grades")
      .forall(_.method != "template_joined_ratio_argmax"))
  }

  test("universal comparison collapses the ALL-quantifier to a broadcast extreme") {
    val domains: String => Map[String, Seq[String]] = {
      case "courses" => Map("course_name" -> Seq("Algebra", "Biology"))
      case _ => Map.empty
    }
    def gen(q: String) =
      Templates.candidates(slice, fks, Intent.analyze(q, slice.tables.keys.toSeq), q, domains)
    val c = gen("students with a score at least as high as every score in Algebra")
      .find(_.method == "template_universal_comparison").get
    assert(c.sql.contains("WHERE f.score >= (SELECT MAX(f2.score)"), c.sql)
    assert(c.sql.contains("WHERE c.course_name = 'Algebra'"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d.student_name"), c.sql)
    // the low form flips to <= MIN
    val l = gen("students with a score at most as low as every score in Biology")
      .find(_.method == "template_universal_comparison").get
    assert(l.sql.contains("<= (SELECT MIN(f2.score)"), l.sql)
    // mismatched measure words fire nothing
    assert(gen("students with a score at least as high as every grade in Algebra")
      .forall(_.method != "template_universal_comparison"))
  }

  test("filtered scalar aggregate counts each qualifying entity once") {
    val domains: String => Map[String, Seq[String]] = {
      case "courses" => Map("course_name" -> Seq("Algebra", "Biology"))
      case _ => Map.empty
    }
    def gen(q: String) =
      Templates.candidates(slice, fks, Intent.analyze(q, slice.tables.keys.toSeq), q, domains)
    val c = gen("the median age of students who took Biology")
      .find(_.method == "template_filtered_scalar_agg").get
    assert(c.sql.startsWith("SELECT MEDIAN(d.age) AS agg_value FROM students d"), c.sql)
    // the aggregate runs over DIMENSION rows via IN — never through the
    // fact join, so fan-out cannot double-count an entity
    assert(c.sql.contains("WHERE d.student_id IN (SELECT f.student_id"), c.sql)
    assert(c.sql.contains("WHERE c.course_name = 'Biology'"), c.sql)
    // "average" maps to AVG
    val a = gen("the average age of students who took Algebra")
      .find(_.method == "template_filtered_scalar_agg").get
    assert(a.sql.startsWith("SELECT AVG(d.age)"), a.sql)
  }

  test("joined distinct argmax: distinct joined-attribute count, top-1") {
    val c = cands("the course taken by the widest range of grade levels")
      .find(_.method == "template_joined_distinct_argmax").get
    assert(c.sql.contains("ORDER BY COUNT(DISTINCT e.grade_level) DESC, j.course_name LIMIT 1"), c.sql)
    assert(c.sql.contains("GROUP BY j.course_id, j.course_name"), c.sql)
    // "narrowest" flips the direction
    val n = cands("the course taken by the narrowest range of grade levels")
      .find(_.method == "template_joined_distinct_argmax").get
    assert(n.sql.contains("COUNT(DISTINCT e.grade_level) ASC"), n.sql)
    // an attribute resolving nowhere fires nothing
    assert(cands("the course taken by the widest range of cohorts")
      .forall(_.method != "template_joined_distinct_argmax"))
  }

  test("percentile-rank filter: top keeps the high tail, bottom the low tail") {
    val c = cands("students whose scores rank in the top 10 percent overall")
      .find(_.method == "template_percentile_rank").get
    assert(c.sql.contains("PERCENT_RANK() OVER (ORDER BY score) AS pr"), c.sql)
    assert(c.sql.contains("WHERE t.pr >= 0.9"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d.student_name"), c.sql)
    val b = cands("students whose scores rank in the bottom 25 percent overall")
      .find(_.method == "template_percentile_rank").get
    assert(b.sql.contains("t.pr <= 0.25"), b.sql)
  }

  test("nested group deviation: fine aggregate joined to its parent-level aggregate") {
    val c = cands("for each course, the gap between its average score and the department average")
      .find(_.method == "template_nested_group_deviation").get
    assert(c.sql.contains("GROUP BY c.course_name, c.dept"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept) y USING (attr_k)"), c.sql)
    assert(c.sql.contains("ROUND(ca - da, 2) AS agg_value"), c.sql)
    // the parent word must resolve to an attribute, not the name column
    assert(cands("for each course, the gap between its average score and the name average")
      .forall(_.method != "template_nested_group_deviation"))
  }

  test("count vs example: the named entity's count rides a broadcast scalar subquery") {
    val c = cands("students who took courses in more departments than Ada Adams")
      .find(_.method == "template_count_vs_example").get
    assert(c.sql.contains("COUNT(DISTINCT c.dept) AS n"), c.sql)
    assert(c.sql.contains("WHERE t.n > (SELECT COUNT(DISTINCT c.dept)"), c.sql)
    assert(c.sql.contains("WHERE a.student_name = 'Ada Adams'"), c.sql)
    // "fewer" flips; a lowercase comparison target is not a name anchor
    val f = cands("students who took courses in fewer departments than Ben Brown")
      .find(_.method == "template_count_vs_example").get
    assert(f.sql.contains("t.n < (SELECT"), f.sql)
    assert(cands("students who took courses in more departments than average")
      .forall(_.method != "template_count_vs_example"))
  }

  test("dimension range argmax: no fact scan, grouped MAX-MIN over the dimension") {
    val c = cands("the grade level whose students have the widest age range")
      .find(_.method == "template_dim_range_argmax").get
    assert(c.sql ==
      "SELECT grade_level FROM students GROUP BY grade_level " +
        "ORDER BY MAX(age) - MIN(age) DESC, grade_level LIMIT 1", c.sql)
    // "narrowest" flips the direction
    val n = cands("the grade level whose students have the narrowest age range")
      .find(_.method == "template_dim_range_argmax").get
    assert(n.sql.contains("ASC"), n.sql)
  }

  test("universal other-relative: every row above its OWN entity's average, grouped by the other dimension") {
    val c = cands("courses where every student scored above their own average")
      .find(_.method == "template_universal_other_relative").get
    assert(c.sql.contains("AVG(score) AS a"), c.sql)
    assert(c.sql.contains("GROUP BY student_id) m ON m.k = s.student_id"), c.sql)
    assert(c.sql.contains("GROUP BY c.course_id, c.course_name"), c.sql)
    assert(c.sql.contains("HAVING MIN(CASE WHEN s.score > m.a THEN 1 ELSE 0 END) = 1"), c.sql)
    // "below" flips the comparison
    val b = cands("courses where every student scored below their own average")
      .find(_.method == "template_universal_other_relative").get
    assert(b.sql.contains("s.score < m.a"), b.sql)
  }

  test("avg of range: inner per-entity MAX-MIN, outer AVG, rounded") {
    val c = cands("the average gap between a student's best and worst scores")
      .find(_.method == "template_avg_of_range").get
    assert(c.sql.contains("ROUND(AVG(mx - mn), 2) AS agg_value"), c.sql)
    assert(c.sql.contains("SELECT MAX(score) AS mx, MIN(score) AS mn"), c.sql)
    assert(c.sql.contains("FROM scores GROUP BY student_id"), c.sql)
    // synonym surface: "difference" and "each" read the same
    assert(cands("the mean difference between each student's highest and lowest scores")
      .exists(_.method == "template_avg_of_range"))
  }

  test("universal group aggregate: per-member averages, MIN-indicator per group attribute") {
    val c = cands("departments where every course has an average score above 70")
      .find(_.method == "template_universal_group_agg").get
    // the group word resolves to courses.dept (abbreviation), the join
    // bridges scores -> courses, the ∀ encodes as a grouped MIN
    assert(c.sql.contains("SELECT c.dept AS dept, c.course_id"), c.sql)
    assert(c.sql.contains("AVG(s.score) AS a"), c.sql)
    assert(c.sql.contains("JOIN courses c ON c.course_id = s.course_id"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept, c.course_id"), c.sql)
    assert(c.sql.contains("HAVING MIN(CASE WHEN a > 70 THEN 1 ELSE 0 END) = 1"), c.sql)
    // "below" flips the indicator comparison
    val b = cands("departments where every course has an average score below 70")
      .find(_.method == "template_universal_group_agg").get
    assert(b.sql.contains("CASE WHEN a < 70"), b.sql)
  }

  private val scoreDomains: String => Map[String, Seq[String]] = {
    case "scores" => Map("grade" -> Seq("A", "B", "C", "D", "F"))
    case _ => Map.empty
  }

  test("entity trend argmax: measure by elimination, two-period conditional aggregates") {
    val c = Templates.trendArgmaxEntityCandidates(slice, fks,
      "the student who improved the most between 2022 and 2023", scoreDomains).head
    assert(c.sql.contains("AVG(CASE WHEN year = 2023 THEN score END) - " +
      "AVG(CASE WHEN year = 2022 THEN score END) AS d"), c.sql)
    assert(c.sql.contains("WHERE d IS NOT NULL ORDER BY d DESC, student_id LIMIT 1"), c.sql)
    // falling verbs rank ASC (most-negative delta first)
    val b = Templates.trendArgmaxEntityCandidates(slice, fks,
      "the student who declined the most between 2022 and 2023", scoreDomains).head
    assert(b.sql.contains("ORDER BY d ASC"), b.sql)
    // without the mined string domain, grade stays a measure candidate,
    // the elimination is ambiguous, and the no-fabrication bar fires nothing
    assert(Templates.trendArgmaxEntityCandidates(slice, fks,
      "the student who improved the most between 2022 and 2023").isEmpty)
  }

  test("median count per: MEDIAN over per-entity distinct counts") {
    val c = cands("the median number of courses per student")
      .find(_.method == "template_median_count_per").get
    assert(c.sql.contains("SELECT MEDIAN(c) AS agg_value"), c.sql)
    assert(c.sql.contains("COUNT(DISTINCT course_id) AS c FROM scores GROUP BY student_id"), c.sql)
  }

  test("universal rank: within-group RANK, grouped MAX(r) encodes the for-all") {
    val c = Templates.universalRankCandidates(slice, fks,
      "students ranked in the top 3 of every course they took", scoreDomains).head
    assert(c.sql.contains("RANK() OVER (PARTITION BY course_id ORDER BY score DESC)"), c.sql)
    assert(c.sql.contains("GROUP BY student_id HAVING MAX(r) <= 3"), c.sql)
    assert(c.sql.contains("JOIN students d"), c.sql)
    // ambiguous measure (no mined domains) fires nothing
    assert(Templates.universalRankCandidates(slice, fks,
      "students ranked in the top 3 of every course they took").isEmpty)
  }

  test("minimax argmax: per-member aggregate, group extreme, opposite outer rank") {
    val c = cands("the dept whose best course by average score is the weakest")
      .find(_.method == "template_minimax_argmax").get
    assert(c.sql.contains("AVG(score) AS a FROM scores GROUP BY course_id"), c.sql)
    assert(c.sql.contains("MAX(a) AS ext"), c.sql)
    assert(c.sql.contains("ORDER BY ext ASC, dept LIMIT 1"), c.sql)
    // "worst ... is the strongest" flips both: MIN inner, DESC outer
    val b = cands("the dept whose worst course by average score is the strongest")
      .find(_.method == "template_minimax_argmax").get
    assert(b.sql.contains("MIN(a) AS ext") && b.sql.contains("ORDER BY ext DESC"), b.sql)
  }

  test("correlation: dimension-side measure joins through the fact's fk") {
    val c = cands("the correlation between student age and score")
      .find(_.method == "template_correlation").get
    assert(c.sql.contains("ROUND(CORR(d.age, f.score), 4) AS agg_value"), c.sql)
    assert(c.sql.contains("JOIN students d ON d.student_id = f.student_id"), c.sql)
    // same-table form needs no join
    val s = cands("the correlation between score and year")
      .find(_.method == "template_correlation").get
    assert(s.sql == "SELECT ROUND(CORR(score, year), 4) AS agg_value FROM scores", s.sql)
  }

  test("spread vs average spread: per-group STDDEV against the broadcast group-average bar") {
    val c = cands("courses whose score spread is wider than the average course's spread")
      .find(_.method == "template_stddev_vs_avg").get
    assert(c.sql.contains("HAVING STDDEV(score) > (SELECT AVG(s) FROM"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    // "narrower" flips the comparison
    val n = cands("courses whose score spread is narrower than the average course's spread")
      .find(_.method == "template_stddev_vs_avg").get
    assert(n.sql.contains("HAVING STDDEV(score) <"), n.sql)
  }

  test("group self-beat share: per-group bar joined back, conditional share per group") {
    val c = cands("for each dept, the share of its scores above the dept average")
      .find(_.method == "template_group_self_beat_share").get
    assert(c.sql.contains("AVG(s2.score) AS a"), c.sql)
    assert(c.sql.contains("ON g.gk = c.dept"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN s.score > g.a THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    // mismatched group words ("for each dept ... the grade average") never fire
    assert(cands("for each dept, the share of its scores above the grade average")
      .forall(_.method != "template_group_self_beat_share"))
  }

  test("joined distinct top-N: attribute groups ranked by distinct second-entity count") {
    val c = cands("the top 2 depts by number of students taught")
      .find(_.method == "template_joined_distinct_topn").get
    assert(c.sql.contains("COUNT(DISTINCT s.student_id) AS agg_value"), c.sql)
    assert(c.sql.contains("JOIN courses c ON c.course_id = s.course_id"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("ORDER BY agg_value DESC, c.dept LIMIT 2"), c.sql)
    // "bottom" flips the direction
    val b = cands("the bottom 2 depts by number of students taught")
      .find(_.method == "template_joined_distinct_topn").get
    assert(b.sql.contains("ORDER BY agg_value ASC"), b.sql)
  }

  test("filtered period argmax: mined-domain value filter on the dimension, top-1 period") {
    val c = candsV("the year in which the science dept had its highest average score")
      .find(_.method == "template_filtered_period_argmax").get
    assert(c.sql.contains("WHERE c.dept = 'science'"), c.sql)
    assert(c.sql.contains("GROUP BY s.year"), c.sql)
    assert(c.sql.contains("ORDER BY a DESC, year LIMIT 1"), c.sql)
    // a value outside the mined domain never fires (no fabrication)
    assert(candsV("the year in which the zzz dept had its highest average score")
      .forall(_.method != "template_filtered_period_argmax"))
  }

  test("top-k share: group counts ranked over group rows only, one summary row") {
    val c = cands("the share of all scores contributed by the top 3 courses")
      .find(_.method == "template_topk_share").get
    assert(c.sql.contains("RANK() OVER (ORDER BY COUNT(*) DESC) AS rnk"), c.sql)
    assert(c.sql.contains("CASE WHEN rnk <= 3 THEN cnt ELSE 0 END"), c.sql)
    assert(c.sql.contains("FROM scores GROUP BY course_id"), c.sql)
  }

  test("argmin attribution: per-entity extreme row, mined-domain group filter, tie-keeping RANK") {
    val c = candsV("students whose worst score came in a math course")
      .find(_.method == "template_argmin_attribution").get
    assert(c.sql.contains("RANK() OVER (PARTITION BY student_id ORDER BY score ASC)"), c.sql)
    assert(c.sql.contains("WHERE x.r = 1 AND c.dept = 'math'"), c.sql)
    assert(c.sql.startsWith("SELECT DISTINCT d.student_name"), c.sql)
    // "best" flips the rank direction
    val b = candsV("students whose best score came in a math course")
      .find(_.method == "template_argmin_attribution").get
    assert(b.sql.contains("ORDER BY score DESC"), b.sql)
    // unknown domain values never fire
    assert(candsV("students whose worst score came in a zzz course")
      .forall(_.method != "template_argmin_attribution"))
  }

  test("count increasing periods: LAG over period group rows, one summary count") {
    val c = cands("the number of years in which the average score increased")
      .find(_.method == "template_count_increasing_periods").get
    assert(c.sql.contains("SUM(CASE WHEN a > p THEN 1 ELSE 0 END) AS agg_value"), c.sql)
    assert(c.sql.contains("LAG(AVG(score)) OVER (ORDER BY year)"), c.sql)
    // falling verbs flip the comparison
    val d = cands("the number of years in which the average score declined")
      .find(_.method == "template_count_increasing_periods").get
    assert(d.sql.contains("CASE WHEN a < p"), d.sql)
  }

  test("comparative cohort count: both cohorts as conditionals in one grouped pass") {
    val c = cands("courses taken by more grade 9 students than grade 12 students")
      .find(_.method == "template_comparative_cohort").get
    assert(c.sql.contains("SUM(CASE WHEN st.grade_level = 9 THEN 1 ELSE 0 END) >"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN st.grade_level = 12 THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("GROUP BY c.course_id, c.course_name"), c.sql)
    // "fewer" flips the comparison; mismatched attribute words never fire
    val f = cands("courses taken by fewer grade 9 students than grade 12 students")
      .find(_.method == "template_comparative_cohort").get
    assert(f.sql.contains("END) <"), f.sql)
    assert(cands("courses taken by more grade 9 students than age 12 students")
      .forall(_.method != "template_comparative_cohort"))
  }

  test("attribute trend argmax: joined group key, two-period conditionals, top-1 by delta") {
    val c = cands("which dept improved its average score the most between 2022 and 2023")
      .find(_.method == "template_trend_argmax_attr").get
    assert(c.sql.contains("AVG(CASE WHEN s.year = 2023 THEN s.score END) - " +
      "AVG(CASE WHEN s.year = 2022 THEN s.score END) AS d"), c.sql)
    assert(c.sql.contains("JOIN courses c ON c.course_id = s.course_id"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("ORDER BY d DESC, dept LIMIT 1"), c.sql)
    // falling verbs rank ASC
    val d = cands("which dept declined its average score the most between 2022 and 2023")
      .find(_.method == "template_trend_argmax_attr").get
    assert(d.sql.contains("ORDER BY d ASC"), d.sql)
  }

  test("extreme count per: MIN/MAX over per-entity distinct counts") {
    val c = cands("the minimum number of courses any student took")
      .find(_.method == "template_extreme_count_per").get
    assert(c.sql.contains("SELECT MIN(c) AS agg_value"), c.sql)
    assert(c.sql.contains("COUNT(DISTINCT course_id) AS c FROM scores GROUP BY student_id"), c.sql)
    val m = cands("the most courses any student took") // "most count of" won't parse...
    // explicit max phrasing
    val x = cands("the maximum number of courses any student took")
      .find(_.method == "template_extreme_count_per").get
    assert(x.sql.contains("SELECT MAX(c)"), x.sql)
    val _ = m
  }

  test("share of entities by extreme: per-entity MAX in one pass, one summary row") {
    val c = cands("the percentage of students whose best score is above 95")
      .find(_.method == "template_share_entity_extreme").get
    assert(c.sql.contains("SUM(CASE WHEN mx > 95 THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("SELECT MAX(score) AS mx FROM scores GROUP BY student_id"), c.sql)
    // "worst ... below" flips both the inner extreme and the comparison
    val w = cands("the share of students whose worst score is below 50")
      .find(_.method == "template_share_entity_extreme").get
    assert(w.sql.contains("MIN(score)") && w.sql.contains("mx < 50"), w.sql)
  }

  test("ranked group share: full listing ordered by the conditional share") {
    val c = cands("rank the depts by their share of A grades")
      .find(_.method == "template_ranked_group_share").get
    assert(c.sql.contains("SUM(CASE WHEN s.grade = 'A' THEN 1 ELSE 0 END)"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("ORDER BY agg_value DESC, c.dept LIMIT 100"), c.sql)
  }

  test("range of group aggregates: MAX-MIN over the per-group aggregate rows") {
    val c = cands("the difference between the best and worst course by average score")
      .find(_.method == "template_range_of_group_aggs").get
    assert(c.sql.contains("ROUND(MAX(a) - MIN(a), 2) AS agg_value"), c.sql)
    assert(c.sql.contains("AVG(score) AS a FROM scores GROUP BY course_id"), c.sql)
  }

  test("dimension self-relative: no fact scan, row vs its attribute group's average") {
    val c = cands("students older than the average student in their grade level")
      .find(_.method == "template_self_relative_dim").get
    assert(c.sql.contains("FROM students st JOIN ("), c.sql)
    assert(c.sql.contains("AVG(age) AS a FROM students GROUP BY grade_level"), c.sql)
    assert(c.sql.contains("WHERE st.age > g.a"), c.sql)
    assert(!c.sql.contains("scores"), c.sql) // dimension-only plan
    // "younger" flips the comparison
    val y = cands("students younger than the average student in their grade level")
      .find(_.method == "template_self_relative_dim").get
    assert(y.sql.contains("st.age < g.a"), y.sql)
  }

  test("superlative-adjective argmax: hardest reads as lowest aggregate, rank over group rows") {
    val c = cands("the hardest course for each grade level by average score")
      .find(_.method == "template_superlative_adj_argmax").get
    assert(c.sql.contains("ORDER BY AVG(s.score) ASC, c.course_name"), c.sql)
    assert(c.sql.contains("PARTITION BY st.grade_level"), c.sql)
    assert(c.sql.contains("GROUP BY st.grade_level, c.course_id, c.course_name"), c.sql)
    assert(c.sql.contains("WHERE rnk = 1"), c.sql)
    // "easiest" flips to highest
    val e = cands("the easiest course for each grade level by average score")
      .find(_.method == "template_superlative_adj_argmax").get
    assert(e.sql.contains("AVG(s.score) DESC"), e.sql)
  }

  test("conjunctive trend count: four conditional aggregates in one pass, both HAVING arms") {
    val c = Templates.conjunctiveTrendCandidates(slice, fks,
      "how many students improved in math but declined in science from 2022 to 2023",
      t => courseDomains(t) ++ scoreDomains(t)).head
    assert(c.sql.contains("WHERE c.dept IN ('math', 'science')"), c.sql)
    assert(c.sql.contains("AVG(CASE WHEN c.dept = 'math' AND s.year = 2023 THEN s.score END) > " +
      "AVG(CASE WHEN c.dept = 'math' AND s.year = 2022 THEN s.score END)"), c.sql)
    assert(c.sql.contains("AVG(CASE WHEN c.dept = 'science' AND s.year = 2023 THEN s.score END) < " +
      "AVG(CASE WHEN c.dept = 'science' AND s.year = 2022 THEN s.score END)"), c.sql)
    // values from two different domains never fire (both must share one column)
    assert(Templates.conjunctiveTrendCandidates(slice, fks,
      "how many students improved in math but declined in zzz from 2022 to 2023",
      t => courseDomains(t) ++ scoreDomains(t)).isEmpty)
  }

  test("median entity argmax: ROW_NUMBER over per-entity aggregate rows, (n+1)/2 cut") {
    val c = cands("the middle student by average score")
      .find(_.method == "template_median_entity_argmax").get
    assert(c.sql.contains("ROW_NUMBER() OVER (ORDER BY AVG(score), student_id) AS rn"), c.sql)
    assert(c.sql.contains("WHERE rn = CAST((n + 1) / 2 AS INT)"), c.sql)
  }

  test("adjacent-period pair: LAG carries the previous label and the delta, top-1 pair") {
    val c = cands("the two consecutive years with the biggest jump in total scores")
      .find(_.method == "template_adjacent_period_pair").get
    assert(c.sql.contains("LAG(year) OVER (ORDER BY year) AS prev_year"), c.sql)
    assert(c.sql.contains("SUM(score) - LAG(SUM(score)) OVER (ORDER BY year) AS d"), c.sql)
    assert(c.sql.contains("ORDER BY d DESC, year LIMIT 1"), c.sql)
    // falling words rank ASC; "smallest drop" flips back to DESC
    val f = cands("the two consecutive years with the biggest drop in total scores")
      .find(_.method == "template_adjacent_period_pair").get
    assert(f.sql.contains("ORDER BY d ASC"), f.sql)
    val s = cands("the two consecutive years with the smallest drop in total scores")
      .find(_.method == "template_adjacent_period_pair").get
    assert(s.sql.contains("ORDER BY d DESC"), s.sql)
  }

  test("exclusive attribute: grouped MIN indicator over the mined-domain value") {
    val c = candsV("students who only took math courses")
      .find(_.method == "template_exclusive_attr").get
    assert(c.sql.contains("HAVING MIN(CASE WHEN c.dept = 'math' THEN 1 ELSE 0 END) = 1"), c.sql)
    assert(c.sql.contains("GROUP BY d.student_id, d.student_name"), c.sql)
    // unknown values never fire
    assert(candsV("students who only took zzz courses")
      .forall(_.method != "template_exclusive_attr"))
  }

  test("share of groups lacking a category: dimension LEFT-joins the fact") {
    val c = cands("what fraction of courses have no A grades")
      .find(_.method == "template_share_groups_lacking").get
    assert(c.sql.contains("FROM courses c LEFT JOIN scores s"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN s.grade = 'A' THEN 1 ELSE 0 END) AS n_a"), c.sql)
    assert(c.sql.contains("SUM(CASE WHEN n_a = 0 THEN 1 ELSE 0 END)"), c.sql)
  }

  test("attribute coverage: number word parses, distinct-category count per entity") {
    val c = cands("students whose scores span all five grade letters")
      .find(_.method == "template_attr_coverage").get
    assert(c.sql.contains("HAVING COUNT(DISTINCT f.grade) = 5"), c.sql)
    assert(c.sql.contains("GROUP BY d.student_id, d.student_name"), c.sql)
    // digits work the same
    val d = cands("students whose scores span all 3 grade letters")
      .find(_.method == "template_attr_coverage").get
    assert(d.sql.contains("= 3"), d.sql)
  }

  test("recent-k average: per-entity recency window with key-ish tiebreak") {
    val c = cands("the average score of each student's three most recent scores")
      .find(_.method == "template_recent_k_average").get
    assert(c.sql.contains("ROW_NUMBER() OVER (PARTITION BY student_id " +
      "ORDER BY year DESC, score_id DESC)"), c.sql)
    assert(c.sql.contains("WHERE rn <= 3"), c.sql)
    assert(c.sql.contains("ROUND(AVG(score), 2) AS agg_value"), c.sql)
  }

  test("category majority: conditional count vs half the group, IN over both values") {
    val c = cands("courses where the grade distribution is more than half A or B")
      .find(_.method == "template_category_majority").get
    assert(c.sql.contains("SUM(CASE WHEN grade IN ('A', 'B') THEN 1 ELSE 0 END) " +
      "> COUNT(*) / 2.0"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    // single-value form
    val s = cands("courses where the grade distribution is more than half F")
      .find(_.method == "template_category_majority").get
    assert(s.sql.contains("IN ('F')"), s.sql)
  }

  test("cross-group stability: STDDEV over per-(entity, attribute) aggregates, argmin") {
    val c = cands("the student whose scores vary the least across depts")
      .find(_.method == "template_cross_group_stability").get
    assert(c.sql.contains("STDDEV(da) AS v"), c.sql)
    assert(c.sql.contains("GROUP BY s2.student_id, c.dept"), c.sql)
    assert(c.sql.contains("HAVING COUNT(*) > 1"), c.sql)
    assert(c.sql.contains("ORDER BY v ASC, student_id LIMIT 1"), c.sql)
    // "most" flips the direction
    val m = cands("the student whose scores vary the most across depts")
      .find(_.method == "template_cross_group_stability").get
    assert(m.sql.contains("ORDER BY v DESC"), m.sql)
  }

  test("running period total: cumulative window over period group rows only") {
    val c = cands("the running total of scores per year in order")
      .find(_.method == "template_running_period_total").get
    assert(c.sql.contains("SUM(SUM(score)) OVER (ORDER BY year) AS agg_value"), c.sql)
    assert(c.sql.contains("GROUP BY year"), c.sql)
  }

  test("strict improvement streak: monotonic-trend plan under comparative phrasing") {
    val c = Templates.strictImprovementCandidates(slice, fks,
      "students who beat their own previous year's average every year", scoreDomains).head
    assert(c.sql.contains("LAG(AVG(score)) OVER (PARTITION BY student_id ORDER BY year)"), c.sql)
    assert(c.sql.contains("HAVING MIN(CASE WHEN p IS NULL OR a > p THEN 1 ELSE 0 END) = 1"), c.sql)
    assert(c.sql.contains("AND COUNT(*) >= 2"), c.sql)
    // measure elimination needs the mined string domains
    assert(Templates.strictImprovementCandidates(slice, fks,
      "students who beat their own previous year's average every year").isEmpty)
  }

  test("attribute pair argmin: pairs over aggregated group rows via a < self-join") {
    val c = cands("the pair of depts whose average scores differ the least")
      .find(_.method == "template_attr_pair_argmin").get
    assert(c.sql.contains("ABS(a.av - b.av) AS d"), c.sql)
    assert(c.sql.contains("ON a.dept < b.dept"), c.sql)
    assert(c.sql.contains("ORDER BY d ASC, a_dept, b_dept LIMIT 1"), c.sql)
    // "most" flips the direction
    val m = cands("the pair of depts whose average scores differ the most")
      .find(_.method == "template_attr_pair_argmin").get
    assert(m.sql.contains("ORDER BY d DESC"), m.sql)
  }

  test("universal group-self count: per-(entity, group) vs per-group bars, MIN for-all, one count") {
    val c = Templates.universalGroupSelfCountCandidates(slice, fks,
      "how many students are above the dept average in every dept they took",
      scoreDomains).head
    assert(c.sql.contains("GROUP BY s.student_id, c.dept"), c.sql)
    assert(c.sql.contains("HAVING MIN(CASE WHEN sa > da THEN 1 ELSE 0 END) = 1"), c.sql)
    assert(c.sql.startsWith("SELECT COUNT(*) AS agg_value"), c.sql)
    // "below" flips the comparison
    val b = Templates.universalGroupSelfCountCandidates(slice, fks,
      "how many students are below the dept average in every dept they took",
      scoreDomains).head
    assert(b.sql.contains("sa < da"), b.sql)
  }

  test("banded share: group bars joined back, conditional band share in one pass") {
    val c = cands("the share of scores within 5 points of their course average")
      .find(_.method == "template_banded_share").get
    assert(c.sql.contains("ABS(s.score - g.a) <= 5"), c.sql)
    assert(c.sql.contains("AVG(score) AS a FROM scores GROUP BY course_id"), c.sql)
    assert(!c.sql.contains("OVER ("), c.sql) // no corpus WindowExec
  }

  test("group inner-range argmax: per-member aggregates, MAX-MIN per group, top-1") {
    val c = Templates.groupInnerRangeArgmaxCandidates(slice, fks,
      "the dept where the gap between its best and worst student averages is widest",
      scoreDomains).head
    assert(c.sql.contains("GROUP BY s.student_id, c.dept"), c.sql)
    assert(c.sql.contains("MAX(sa) - MIN(sa) AS g"), c.sql)
    assert(c.sql.contains("ORDER BY g DESC, dept LIMIT 1"), c.sql)
    // "narrowest" flips the direction
    val n = Templates.groupInnerRangeArgmaxCandidates(slice, fks,
      "the dept where the gap between its best and worst student averages is narrowest",
      scoreDomains).head
    assert(n.sql.contains("ORDER BY g ASC"), n.sql)
  }

  test("floor over periods: per-period aggregates, grouped MIN as the for-all") {
    val c = Templates.floorOverPeriodsCandidates(slice, fks,
      "students whose yearly average never dropped below 60", scoreDomains).head
    assert(c.sql.contains("GROUP BY student_id, year"), c.sql)
    assert(c.sql.contains("HAVING MIN(a) >= 60"), c.sql)
    assert(!c.sql.contains("OVER ("), c.sql) // no window needed for a floor
  }

  test("entity-aggregate correlation: CORR of dim attribute vs per-entity AVG") {
    val c = Templates.entityAggCorrCandidates(slice, fks,
      "the correlation between a student's age and their average score").head
    assert(c.sql.contains("ROUND(CORR(d.age, t.a), 4) AS agg_value"), c.sql)
    assert(c.sql.contains("AVG(score) AS a FROM scores GROUP BY student_id"), c.sql)
    assert(c.sql.contains("JOIN students d ON d.student_id = t.student_id"), c.sql)
    // the flat same-table CORR template must not steal this question
    assert(Templates.correlationCandidates(slice, fks,
      "the correlation between a student's age and their average score").isEmpty)
  }

  test("cross-level universal: beat-every collapses to a scalar MAX subquery") {
    val c = Templates.crossLevelUniversalCandidates(slice, fks,
      "courses whose average score beats every dept's overall average").head
    assert(c.sql.contains("GROUP BY course_id HAVING AVG(score) > (SELECT MAX(da)"), c.sql)
    assert(c.sql.contains("GROUP BY c.dept"), c.sql)
    assert(c.sql.contains("ORDER BY course_id LIMIT 100"), c.sql)
    // trailing every group flips to < MIN
    val b = Templates.crossLevelUniversalCandidates(slice, fks,
      "courses whose average score is below every dept's overall average").head
    assert(b.sql.contains("< (SELECT MIN(da)"), b.sql)
  }

  test("nth trend argmax: ordinal becomes LIMIT 1 OFFSET n-1 on the delta ranking") {
    val c = Templates.nthTrendArgmaxCandidates(slice, fks,
      "the second most improved student between 2022 and 2023", scoreDomains).head
    assert(c.sql.contains("AVG(CASE WHEN year = 2023 THEN score END) - " +
      "AVG(CASE WHEN year = 2022 THEN score END) AS d"), c.sql)
    assert(c.sql.contains("ORDER BY d DESC, student_id LIMIT 1 OFFSET 1"), c.sql)
    val t = Templates.nthTrendArgmaxCandidates(slice, fks,
      "the third most declined student between 2022 and 2023", scoreDomains).head
    assert(t.sql.contains("ORDER BY d ASC, student_id LIMIT 1 OFFSET 2"), t.sql)
    // same no-fabrication elimination: ambiguous measure fires nothing
    assert(Templates.nthTrendArgmaxCandidates(slice, fks,
      "the second most improved student between 2022 and 2023").isEmpty)
  }

  test("qualifying count by attribute: HAVING keys, then a dim-grouped count") {
    val c = Templates.qualifyingCountByAttrCandidates(slice, fks,
      "the number of students per grade level whose overall average score is above 80").head
    assert(c.sql.contains("GROUP BY student_id HAVING AVG(score) > 80"), c.sql)
    assert(c.sql.contains("SELECT d.grade_level AS grade_level, COUNT(*) AS n"), c.sql)
    assert(c.sql.contains("GROUP BY d.grade_level"), c.sql)
    // below flips the comparison
    val b = Templates.qualifyingCountByAttrCandidates(slice, fks,
      "the number of students per grade level whose overall average score is below 60").head
    assert(b.sql.contains("HAVING AVG(score) < 60"), b.sql)
  }

  test("group median argmax: per-entity averages, MEDIAN per group, top-1") {
    val c = Templates.groupMedianArgmaxCandidates(slice, fks,
      "the dept with the highest median student average", scoreDomains).head
    assert(c.sql.contains("GROUP BY s.student_id, c.dept"), c.sql)
    assert(c.sql.contains("MEDIAN(a) AS md"), c.sql)
    assert(c.sql.contains("ORDER BY md DESC, dept LIMIT 1"), c.sql)
    val l = Templates.groupMedianArgmaxCandidates(slice, fks,
      "the dept with the lowest median student average", scoreDomains).head
    assert(l.sql.contains("ORDER BY md ASC"), l.sql)
    // ambiguous measure (no mined domains) fires nothing
    assert(Templates.groupMedianArgmaxCandidates(slice, fks,
      "the dept with the highest median student average").isEmpty)
  }

  test("cross-category margin: both values must share one mined domain") {
    val deptDomains: String => Map[String, Seq[String]] = {
      case "courses" => Map("dept" -> Seq("math", "science", "history", "arts"))
      case "scores" => Map("grade" -> Seq("A", "B", "C", "D", "F"))
      case _ => Map.empty
    }
    val c = Templates.crossCategoryMarginCandidates(slice, fks,
      "students whose average score in math is at least 10 points higher than in science",
      deptDomains).head
    assert(c.sql.contains("WHERE c.dept IN ('math', 'science')"), c.sql)
    assert(c.sql.contains("HAVING AVG(CASE WHEN c.dept = 'math' THEN s.score END) - " +
      "AVG(CASE WHEN c.dept = 'science' THEN s.score END) >= 10"), c.sql)
    // "lower" swaps the margin direction
    val b = Templates.crossCategoryMarginCandidates(slice, fks,
      "students whose average score in math is at least 5 points lower than in science",
      deptDomains).head
    assert(b.sql.contains("AVG(CASE WHEN c.dept = 'science' THEN s.score END) - " +
      "AVG(CASE WHEN c.dept = 'math' THEN s.score END) >= 5"), b.sql)
    // values outside every mined domain fire nothing (no fabrication)
    assert(Templates.crossCategoryMarginCandidates(slice, fks,
      "students whose average score in chemistry is at least 10 points higher than in magic",
      deptDomains).isEmpty)
  }

  test("universal group trend: every-member-fell collapses to MAX(delta) < 0") {
    val c = Templates.universalGroupTrendCandidates(slice, fks,
      "depts where the average score of every course fell from 2022 to 2023").head
    assert(c.sql.contains("GROUP BY c.dept, s.course_id"), c.sql)
    assert(c.sql.contains("AVG(CASE WHEN s.year = 2023 THEN s.score END) - " +
      "AVG(CASE WHEN s.year = 2022 THEN s.score END) AS d"), c.sql)
    assert(c.sql.contains("HAVING MAX(d) < 0"), c.sql)
    // every-member-rose flips to MIN(delta) > 0
    val b = Templates.universalGroupTrendCandidates(slice, fks,
      "depts where the average score of every course rose from 2022 to 2023").head
    assert(b.sql.contains("HAVING MIN(d) > 0"), b.sql)
    assert(!c.sql.contains("OVER ("), c.sql) // no window for a for-all
  }

  test("named-entity rank: group ranking filtered to a domain-checked value") {
    val courseDomains: String => Map[String, Seq[String]] = {
      case "courses" => Map("course_name" -> Seq("Algebra", "Biology", "Painting"))
      case _ => Map.empty
    }
    val c = Templates.namedEntityRankCandidates(slice, fks,
      "the rank of Algebra among courses by average score", courseDomains).head
    assert(c.sql.contains("RANK() OVER (ORDER BY AVG(s.score) DESC) AS rnk"), c.sql)
    assert(c.sql.contains("GROUP BY c.course_name"), c.sql)
    assert(c.sql.contains("WHERE course_name = 'Algebra'"), c.sql)
    // a value outside the mined domain fires nothing (no fabrication)
    assert(Templates.namedEntityRankCandidates(slice, fks,
      "the rank of Wizardry among courses by average score", courseDomains).isEmpty)
  }

  test("percent change: both period averages in one pass, relative delta") {
    val c = Templates.percentChangeCandidates(slice, fks,
      "the percent change in average score from 2022 to 2023").head
    assert(c.sql.contains("(AVG(CASE WHEN year = 2023 THEN score END) - " +
      "AVG(CASE WHEN year = 2022 THEN score END)) / " +
      "AVG(CASE WHEN year = 2022 THEN score END) * 100"), c.sql)
    assert(c.sql.contains("AS agg_value"), c.sql)
    assert(c.sql.contains("FROM scores"), c.sql)
  }

  test("group concentration: largest member's share of the group total, no window") {
    val c = Templates.groupConcentrationCandidates(slice, fks,
      "the share of each dept's scores that come from its busiest course").head
    assert(c.sql.contains("GROUP BY c.dept, s.course_id"), c.sql)
    assert(c.sql.contains("ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS share"), c.sql)
    assert(!c.sql.contains("OVER ("), c.sql)
  }

  test("joined distinct threshold: COUNT(DISTINCT dim.attr) per entity with HAVING") {
    val c = Templates.joinedDistinctHavingCandidates(slice, fks,
      "students who took courses in at least 3 different depts").head
    assert(c.sql.contains("HAVING COUNT(DISTINCT c.dept) >= 3"), c.sql)
    assert(c.sql.contains("GROUP BY s.student_id"), c.sql)
    assert(c.sql.contains("JOIN students st"), c.sql)
  }

  test("period balance: dispersion of group averages per period, ranked") {
    val c = Templates.periodBalanceCandidates(slice, fks,
      "the year when dept averages were closest together", scoreDomains).head
    assert(c.sql.contains("GROUP BY s.year, c.dept"), c.sql)
    assert(c.sql.contains("STDDEV_SAMP(a) AS sd"), c.sql)
    assert(c.sql.contains("ORDER BY sd ASC, yr LIMIT 1"), c.sql)
    // spread-out flips the direction
    val b = Templates.periodBalanceCandidates(slice, fks,
      "the year when dept averages were most spread out", scoreDomains).head
    assert(b.sql.contains("ORDER BY sd DESC"), b.sql)
    // ambiguous measure (no mined domains) fires nothing
    assert(Templates.periodBalanceCandidates(slice, fks,
      "the year when dept averages were closest together").isEmpty)
  }

  test("average of group shares: macro-average of per-group category ratios") {
    val c = cands("the average share of each course's scores that are A grades")
      .find(_.method == "template_avg_of_group_shares").get
    assert(c.sql.contains("ROUND(AVG(r), 4) AS agg_value"), c.sql)
    assert(c.sql.contains("CAST(SUM(CASE WHEN grade = 'A' THEN 1 ELSE 0 END) " +
      "AS DOUBLE) / COUNT(*) AS r"), c.sql)
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
  }

  // ------------------- round-16 benchmark-hard shapes (TemplatesShapes5)

  test("never anti-join: entity before the negation, fact via FK, NOT EXISTS (scale shape)") {
    val c = cands("list the students who have never received a score")
      .find(_.method == "template_never_anti").get
    // NOT EXISTS, not NOT IN: the null-aware anti join NOT IN plans is
    // broadcast-only in Spark — un-runnable when the fact side outgrows
    // the threshold; NOT EXISTS is a shuffle-able LeftAnti
    assert(c.sql.contains("FROM students e WHERE NOT EXISTS"), c.sql)
    assert(c.sql.contains("(SELECT 1 FROM scores f WHERE f.student_id = e.student_id)"), c.sql)
    // a table named only AFTER the negation is the fact, never the entity
    assert(!c.sql.startsWith("SELECT score_id"), c.sql)
    // no negation word → no candidate (no overreach)
    assert(cands("list the students who received a score")
      .forall(_.method != "template_never_anti"))
  }

  test("never anti-join grounds a domain value filter inside the subquery") {
    val vals: String => Map[String, Seq[String]] =
      t => if (t == "scores") Map("grade" -> Seq("A", "PassPlus")) else Map.empty
    val c = Templates.neverAntiJoinCandidates(slice, fks,
      "students who never earned a passplus score", vals)
    assert(c.nonEmpty && c.head.sql.contains("AND f.grade = 'PassPlus'"), c)
    // short values (< 4 chars, like the bare 'A' grade) never ground
    val c2 = Templates.neverAntiJoinCandidates(slice, fks,
      "students who never earned a score", vals)
    assert(c2.nonEmpty && !c2.head.sql.contains("grade ="), c2)
  }

  test("tie-aware argmax: WHICH returns all achieving rows; WHAT stays scalar") {
    val joined = cands("which students achieved the highest score?")
      .find(_.method == "template_tie_argmax_join").get
    assert(joined.sql.contains("WHERE f.score = (SELECT MAX(score) FROM scores)"), joined.sql)
    assert(joined.sql.contains("SELECT DISTINCT d.student_id, d.student_name"), joined.sql)
    // value question: the tie shape must NOT fire (the scalar MAX serves it)
    assert(cands("what is the highest score?")
      .forall(c => !c.method.startsWith("template_tie_argmax")))
    // same-table grounding projects the whole row
    val same = cands("which students are the oldest by age?")
    val st = same.find(_.method == "template_tie_argmax")
    assert(st.exists(_.sql.contains("WHERE age = (SELECT MAX(age) FROM students)")), same)
  }

  test("HAVING count threshold: at least/more than/fewer than map to >=/>/<") {
    val c = cands("which courses have at least 40 scores?")
      .find(_.method == "template_having_count").get
    assert(c.sql.contains("GROUP BY course_id HAVING COUNT(*) >= 40"), c.sql)
    val c2 = cands("which students have fewer than 3 scores?")
      .find(_.method == "template_having_count").get
    assert(c2.sql.contains("GROUP BY student_id HAVING COUNT(*) < 3"), c2.sql)
  }

  test("group aggregate vs literal threshold on one table") {
    val c = cands("which depts have an average score above 70?")
    // dept and score live on different tables here — no single-table
    // grounding, so nothing fires (no fabricated join)
    assert(c.forall(_.method != "template_group_agg_threshold"))
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "hotels" -> Seq("hotel_id", "place", "hprice")))
    val c2 = Templates.groupAggThresholdCandidates(slice2,
      "which places have an average hprice above 100?")
    assert(c2.nonEmpty && c2.head.sql.contains(
      "GROUP BY place HAVING AVG(hprice) > 100"), c2)
  }

  test("group average above the overall average (Spider Fig.1 shape)") {
    val c = cands("which courses have an average score above the overall average score?")
      .find(_.method == "template_above_overall").get
    assert(c.sql.contains("GROUP BY course_id"), c.sql)
    assert(c.sql.contains("HAVING AVG(score) > (SELECT AVG(score) FROM scores)"), c.sql)
  }

  test("count distinct per group grounds both words on one fact table") {
    val c = cands("how many different courses does each student take?")
      .find(_.method == "template_distinct_per_group").get
    assert(c.sql.contains("COUNT(DISTINCT course_id)"), c.sql)
    assert(c.sql.contains("GROUP BY student_id"), c.sql)
  }

  test("sum-argmax: 'which customer spent the most' returns ALL tied top spenders") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "orders" -> Seq("id", "customer_id", "total"),
      "customers" -> Seq("id", "name")))
    val fks2 = Seq(FkEdge("orders", "customer_id", "customers", "id"))
    val c = Templates.sumArgmaxCandidates(slice2, fks2,
      "Which customer spent the most money in total?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("WITH t AS (SELECT customer_id AS k, SUM(total) AS s"), c.head.sql)
    assert(c.head.sql.contains("WHERE t.s = (SELECT MAX(s) FROM t)"), c.head.sql)
    // "the most orders" is a COUNT question — the money fallback must
    // not reinterpret it as a SUM
    assert(Templates.sumArgmaxCandidates(slice2, fks2,
      "Which customer has the most orders?").isEmpty)
    // mid-question relative 'which' never fires the shape
    assert(Templates.sumArgmaxCandidates(slice2, fks2,
      "the customer for which totals were spent the most energy").isEmpty)
  }

  test("multi-aggregate per group: COUNT(*) and the named aggregate in one pass") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "agency", "fprice")))
    val c = Templates.multiAggPerGroupCandidates(slice2,
      "For each agency, how many flights are there and what is the average fprice?")
    assert(c.nonEmpty && c.head.sql.contains(
      "SELECT agency, COUNT(*) AS n, AVG(fprice) AS agg_value FROM flights GROUP BY agency"), c)
  }

  test("two-hop FK aggregate chains both edges; skeleton abbreviation grounds qty") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "order_items" -> Seq("order_id", "item_id", "qty"),
      "orders" -> Seq("id", "customer_id"),
      "customers" -> Seq("id", "name")))
    val fks2 = Seq(
      FkEdge("orders", "customer_id", "customers", "id"),
      FkEdge("order_items", "order_id", "orders", "id"))
    val c = Templates.twoHopAggCandidates(slice2, fks2,
      "What is the total quantity of items ordered by each customer?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("SUM(l.qty) AS agg_value"), c.head.sql)
    assert(c.head.sql.contains("JOIN orders m ON l.order_id = m.id"), c.head.sql)
    assert(c.head.sql.contains("JOIN customers d ON m.customer_id = d.id"), c.head.sql)
    assert(c.head.sql.contains("GROUP BY d.id, d.name"), c.head.sql)
    // skeleton matching is first-letter + vowel-stripped subsequence:
    // "age" must NOT ground "average"
    assert(Templates.skeletonColumn("quantity", Seq("order_id", "qty")) == Some("qty"))
    assert(Templates.skeletonColumn("average", Seq("age", "score")).isEmpty)
  }

  test("existential count: at-least-one across the FK chain, leaf-filtered, no mid join") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "orders" -> Seq("id", "customer_id"),
      "order_items" -> Seq("order_id", "item_id", "qty"),
      "items" -> Seq("id", "category", "price")))
    val fks2 = Seq(
      FkEdge("order_items", "order_id", "orders", "id"),
      FkEdge("order_items", "item_id", "items", "id"))
    val vals: String => Map[String, Seq[String]] =
      t => if (t == "items") Map("category" -> Seq("books", "electronics")) else Map.empty
    val c = Templates.existentialCountCandidates(slice2, fks2,
      "How many orders include at least one electronics item?", vals)
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("COUNT(DISTINCT f.order_id)"), c.head.sql)
    assert(c.head.sql.contains("JOIN items j ON f.item_id = j.id"), c.head.sql)
    assert(c.head.sql.contains("WHERE j.category = 'electronics'"), c.head.sql)
    // the mid table itself is never joined (FK integrity makes the
    // semi-join redundant — one whole join cheaper at scale)
    assert(!c.head.sql.contains("JOIN orders"), c.head.sql)
    // an ungroundable modifier kills the shape rather than widening it
    assert(Templates.existentialCountCandidates(slice2, fks2,
      "How many orders include at least one luxury item?", vals).isEmpty)
  }

  test("directional group count: the verb resolves a from/to column tie (ref nl2sql.py:75 idiom)") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "fcity", "tcity", "fprice")))
    val arr = Templates.directionalGroupCountCandidates(slice2,
      "How many flights arrive at each destination city?")
    assert(arr.nonEmpty && arr.head.sql.contains("SELECT tcity, COUNT(*)"), arr)
    val dep = Templates.directionalGroupCountCandidates(slice2,
      "How many flights depart from each city?")
    assert(dep.nonEmpty && dep.head.sql.contains("SELECT fcity, COUNT(*)"), dep)
    // a word linking exactly ONE column needs no direction — shape stays out
    assert(Templates.directionalGroupCountCandidates(slice2,
      "How many flights arrive at each travelcode?").isEmpty)
  }

  test("calendar month bucket: GROUP BY MONTH(datecol), COUNT default, SUM on 'total'") {
    val slice2 = SchemaSlice(scala.collection.immutable.ListMap(
      "orders" -> Seq("id", "customer_id", "order_date", "total")))
    val c = Templates.monthBucketCandidates(slice2,
      "how many orders were placed in each month?")
    assert(c.nonEmpty && c.head.sql.contains(
      "SELECT MONTH(order_date) AS month, COUNT(*) AS agg_value"), c)
    val s = Templates.monthBucketCandidates(slice2,
      "total total of orders per month")
    assert(s.nonEmpty && s.head.sql.contains("SUM(total) AS agg_value"), s)
    // no date-ish column → nothing fires
    val slice3 = SchemaSlice(scala.collection.immutable.ListMap(
      "items" -> Seq("id", "category", "price")))
    assert(Templates.monthBucketCandidates(slice3, "items per month").isEmpty)
  }

  // ------------------- round-17 benchmark-hard shapes (eval b9/b12/b16/b18)

  test("derived amount: SUM(qty * price) when no amount column exists (eval b12)") {
    val sales = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "customerid", "category", "quantity",
        "price", "invoicedate", "shoppingmall")))
    val c = Templates.derivedAmountCandidates(sales,
      "What is the total sales amount per shopping mall in June 2023?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("SUM(quantity * price) AS agg_value"), c.head.sql)
    assert(c.head.sql.contains("GROUP BY shoppingmall"), c.head.sql)
    assert(c.head.sql.contains("WHERE invoicedate >= DATE '2023-06-01'"), c.head.sql)
    // a named REAL column ("sales price") is a plain SUM, not a product
    assert(Templates.derivedAmountCandidates(sales,
      "Total sales price per shoppingmall").isEmpty)
    // a table that stores the amount directly never derives it
    val withAmount = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "quantity", "price", "amount", "shoppingmall")))
    assert(Templates.derivedAmountCandidates(withAmount,
      "total sales amount per shoppingmall").isEmpty)
  }

  test("distinct attribute vs scalar aggregate: cohort comparison grounds one table (eval b16)") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "customer" -> Seq("customerid", "gender", "age", "paymentmethod"),
      "customers" -> Seq("id", "name", "gender", "age")))
    val c = Templates.attrCohortVsAvgCandidates(store,
      "Which payment methods are used by customers older than the average age?")
    assert(c.nonEmpty, c)
    // both crawled tables link "customers"; only `customer` carries the
    // attribute, so the grounding resolves structurally
    assert(c.head.sql == "SELECT DISTINCT paymentmethod FROM customer " +
      "WHERE age > (SELECT AVG(age) FROM customer) " +
      "ORDER BY paymentmethod LIMIT 100", c.head.sql)
    // comparator direction flips
    val y = Templates.attrCohortVsAvgCandidates(store,
      "Which payment methods are used by customers younger than the average age?")
    assert(y.nonEmpty && y.head.sql.contains("age < (SELECT AVG(age)"), y)
    // an attribute no table carries emits nothing (no fabrication)
    assert(Templates.attrCohortVsAvgCandidates(store,
      "Which shoe sizes are used by customers older than the average age?").isEmpty)
  }

  test("'no more/fewer than N' is a HAVING threshold, never an anti-join (r16 advice)") {
    val q = "which students have no more than 3 scores?"
    assert(Templates.neverAntiJoinCandidates(slice, fks, q).isEmpty, "anti-join stole the threshold")
    val c = cands(q).find(_.method == "template_having_count").get
    assert(c.sql.contains("HAVING COUNT(*) <= 3"), c.sql)
    val f = cands("which students have no fewer than 2 scores?")
      .find(_.method == "template_having_count").get
    assert(f.sql.contains("HAVING COUNT(*) >= 2"), f.sql)
    // plain negated existence still anti-joins
    assert(Templates.neverAntiJoinCandidates(slice, fks,
      "list students who have no scores").nonEmpty)
  }

  test("tie-argmax identity projection: wide tables narrow to key + descriptive + measure (eval b18)") {
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "usercode", "fcity", "tcity",
        "flighttype", "fprice", "time", "distance")))
    val c = Templates.tieArgmaxCandidates(travel, Nil,
      "Which flights cover the longest distance?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.startsWith("SELECT travelcode, fcity, tcity, distance FROM flights"), c.head.sql)
    assert(c.head.sql.contains("ORDER BY travelcode"), c.head.sql)
    // narrow tables keep the whole row (the row IS the identity)
    val items = SchemaSlice(scala.collection.immutable.ListMap(
      "items" -> Seq("id", "category", "price")))
    val n = Templates.tieArgmaxCandidates(items, Nil,
      "Which items are the most expensive?")
    assert(n.nonEmpty && n.head.sql.startsWith("SELECT id, category, price FROM items"), n)
  }

  test("two-hop aggregate retries on the full schema when the slice dropped a chain link (eval b9)") {
    val full = SchemaSlice(scala.collection.immutable.ListMap(
      "customers" -> Seq("id", "name", "gender", "age"),
      "items" -> Seq("id", "category", "price"),
      "order_items" -> Seq("order_id", "item_id", "qty"),
      "orders" -> Seq("id", "customer_id", "order_date", "total")))
    val storeFks = Seq(
      FkEdge("orders", "customer_id", "customers", "id"),
      FkEdge("order_items", "item_id", "items", "id"),
      FkEdge("order_items", "order_id", "orders", "id"))
    // the pruned slice keeps neither customers nor order_items — the
    // exact round-16 failure: the chain cannot ground and the generic
    // SUM(orders.total) answered a different question
    val pruned = SchemaSlice(scala.collection.immutable.ListMap(
      "orders" -> Seq("id", "customer_id", "order_date", "total"),
      "items" -> Seq("id", "category", "price")))
    val q = "What is the total quantity of items ordered by each customer?"
    assert(Templates.twoHopAggCandidates(pruned, storeFks, q).isEmpty)
    val cs = Templates.candidates(pruned, storeFks,
      Intent.analyze(q, pruned.tables.keys.toSeq), q, full = full)
    val c = cs.find(_.method == "template_two_hop_agg").get
    assert(c.sql.contains("SUM(l.qty) AS agg_value"), c.sql)
    assert(c.sql.contains("JOIN orders m ON l.order_id = m.id"), c.sql)
    assert(c.sql.contains("JOIN customers d ON m.customer_id = d.id"), c.sql)
    assert(c.sql.contains("GROUP BY d.id, d.name"), c.sql)
    // when the slice CAN ground the chain, full changes nothing
    val cs2 = Templates.candidates(full, storeFks,
      Intent.analyze(q, full.tables.keys.toSeq), q, full = full)
    assert(cs2.count(_.method == "template_two_hop_agg") == 1)
  }

  // --------------------- round-17 de-saturation wave shapes (b23-b37)

  private val storeSlice = SchemaSlice(scala.collection.immutable.ListMap(
    "customers" -> Seq("id", "name", "gender", "age"),
    "items" -> Seq("id", "category", "price"),
    "order_items" -> Seq("order_id", "item_id", "qty"),
    "orders" -> Seq("id", "customer_id", "order_date", "total"),
    "customer" -> Seq("customerid", "gender", "age", "paymentmethod")))
  private val storeFks2 = Seq(
    FkEdge("orders", "customer_id", "customers", "id"),
    FkEdge("order_items", "item_id", "items", "id"),
    FkEdge("order_items", "order_id", "orders", "id"))

  test("pair aggregate: two functions, shared or separate columns, grouped or scalar") {
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "fcity", "tcity", "flighttype", "fprice", "agency"),
      "hotels" -> Seq("travelcode", "hname", "place", "hprice", "total")))
    // shared column via the crawled-initialism idiom (hotel prices → hprice)
    val ungrouped = Templates.pairAggCandidates(travel,
      "What are the minimum and maximum hotel prices?")
    assert(ungrouped.nonEmpty && ungrouped.head.sql ==
      "SELECT MIN(hprice) AS agg_value, MAX(hprice) AS agg_value2 FROM hotels", ungrouped)
    // grouped by the leading "for each G"
    val grouped = Templates.pairAggCandidates(travel,
      "For each agency, what are the average and maximum flight prices?")
    assert(grouped.nonEmpty && grouped.head.sql.contains(
      "SELECT agency, AVG(fprice) AS agg_value, MAX(fprice) AS agg_value2"), grouped)
    // count/number slot over the table noun renders COUNT(*)
    val mixed = Templates.pairAggCandidates(slice,
      "What are the average age and number of students?")
    assert(mixed.nonEmpty && mixed.head.sql ==
      "SELECT AVG(age) AS agg_value, COUNT(*) AS agg_value2 FROM students", mixed)
    // no "and"-pair → silent
    assert(Templates.pairAggCandidates(slice, "What is the average age of students?").isEmpty)
  }

  test("share of value: CASE ratio grounded in domains or the literal-noun idiom") {
    val scoreDomains: String => Map[String, Seq[String]] =
      t => if (t == "scores") Map("grade" -> Seq("A", "B", "C")) else Map.empty
    // 1-char literal cannot domain-match; 'A grades' grounds via the
    // literal + column-noun idiom
    val g = Templates.shareOfValueCandidates(slice,
      "What share of each course's scores are A grades?", scoreDomains)
    assert(g.nonEmpty && g.head.sql.contains(
      "SUM(CASE WHEN grade = 'A' THEN 1 ELSE 0 END)"), g)
    assert(g.head.sql.contains("GROUP BY course_id"), g.head.sql)
    assert(g.head.sql.contains("ROUND(CAST("), g.head.sql)
    // ungrouped + domain-value grounding (space/case-stripped match)
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "flighttype", "fprice")))
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "flights") Map("flighttype" -> Seq("economic", "firstClass")) else Map.empty
    val u = Templates.shareOfValueCandidates(travel,
      "What fraction of flights are first class?", doms)
    assert(u.nonEmpty && u.head.sql ==
      "SELECT ROUND(CAST(SUM(CASE WHEN flighttype = 'firstClass' THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / COUNT(*), 4) AS agg_value FROM flights", u)
    // ungroundable value → silent
    assert(Templates.shareOfValueCandidates(travel,
      "What fraction of flights are purple?", doms).isEmpty)
  }

  test("how many different X: ungrouped COUNT(DISTINCT) with squashed-name grounding") {
    val c = Templates.howManyDifferentCandidates(storeSlice,
      "How many different payment methods are there?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT COUNT(DISTINCT paymentmethod) AS agg_value FROM customer", c)
    // without the different/unique/distinct marker → silent (plain COUNT territory)
    assert(Templates.howManyDifferentCandidates(storeSlice,
      "How many payment methods are there?").isEmpty)
  }

  test("never-shape attribute negation: a value in the ENTITY's own domain reads as <>") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "customer") Map("paymentmethod" -> Seq("Cash", "Credit Card", "Debit Card"))
      else Map.empty
    val c = Templates.neverAntiJoinCandidates(storeSlice, storeFks2,
      "Which customers never used a credit card?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT customerid FROM customer WHERE paymentmethod <> 'Credit Card' " +
        "ORDER BY customerid LIMIT 100", c)
  }

  test("never-shape negation over a join: dimension and bridge hops carry the value filter") {
    // one hop: the value lives on a dim the fact references
    val doms1: String => Map[String, Seq[String]] =
      t => if (t == "courses") Map("course_name" -> Seq("Biology", "Algebra")) else Map.empty
    val one = Templates.neverAntiJoinCandidates(slice, fks,
      "Which students have never enrolled in Biology?", doms1)
    assert(one.nonEmpty && one.head.sql.contains(
      "JOIN courses j ON f.course_id = j.course_id"), one)
    assert(one.head.sql.contains("j.course_name = 'Biology'"), one.head.sql)
    // two hops: fact ← bridge → dim
    val doms2: String => Map[String, Seq[String]] =
      t => if (t == "items") Map("category" -> Seq("grocery", "toys")) else Map.empty
    val two = Templates.neverAntiJoinCandidates(storeSlice, storeFks2,
      "Which customers have never ordered a grocery item?", doms2)
    assert(two.nonEmpty && two.head.sql.contains(
      "JOIN order_items b ON b.order_id = f.id JOIN items j ON b.item_id = j.id"), two)
    assert(two.head.sql.contains("j.category = 'grocery'"), two.head.sql)
  }

  test("average count per entity: fact-count grounding when the counted noun IS the fact") {
    val c = Templates.avgCountPerCandidates(storeSlice, storeFks2,
      "What is the average number of orders per customer?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT ROUND(AVG(c), 4) AS agg_value FROM " +
        "(SELECT COUNT(*) AS c FROM orders GROUP BY customer_id) t", c)
  }

  test("two-hop count form: 'how many items did each customer order' sums the bridge qty") {
    val c = Templates.twoHopAggCandidates(storeSlice, storeFks2,
      "How many items in total did each customer order?")
    assert(c.nonEmpty && c.head.sql.contains("SUM(l.qty) AS agg_value"), c)
    assert(c.head.sql.contains("GROUP BY d.id, d.name"), c.head.sql)
    // the count form never fires without a leaf-dim link
    assert(Templates.twoHopAggCandidates(storeSlice, storeFks2,
      "How many widgets did each customer order?").isEmpty)
  }

  // ------------------- round-17 third-wave compositional shapes (b38-b52)

  private val travelSlice = SchemaSlice(scala.collection.immutable.ListMap(
    "flights" -> Seq("travelcode", "usercode", "fcity", "tcity", "flighttype",
      "fprice", "time", "distance", "agency", "fdate"),
    "hotels" -> Seq("travelcode", "usercode", "hname", "place", "days", "hprice", "total"),
    "users" -> Seq("usercode", "company", "name", "gender", "age")))

  test("cross-table count pair: two scalar subqueries, no join") {
    val c = Templates.crossTableCountPairCandidates(slice,
      "How many students and how many courses are there?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT (SELECT COUNT(*) FROM students) AS agg_value, " +
        "(SELECT COUNT(*) FROM courses) AS agg_value2", c)
    assert(Templates.crossTableCountPairCandidates(slice,
      "How many students are there?").isEmpty)
  }

  test("aggregate difference: MAX - MIN, exact-named table beats segment ties") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "items" -> Seq("id", "category", "price"),
      "order_items" -> Seq("order_id", "item_id", "qty"),
      "sales" -> Seq("invoiceno", "category", "quantity", "price")))
    val c = Templates.aggDiffBetweenCandidates(store,
      "What is the difference between the most expensive and cheapest item price?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT MAX(price) - MIN(price) AS agg_value FROM items", c)
    // same-direction pair is not a difference question
    assert(Templates.aggDiffBetweenCandidates(store,
      "difference between the highest and largest item price").isEmpty)
  }

  test("cohort ratio: single-char coded domains match word initials, gated") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "students") Map("grade_level" -> Seq("9", "10"),
        "gender" -> Seq("F", "M")) else Map.empty
    val c = Templates.cohortRatioCandidates(slice,
      "What is the ratio of male to female students?", doms)
    assert(c.nonEmpty && c.head.sql.contains(
      "SUM(CASE WHEN gender = 'M' THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ SUM(CASE WHEN gender = 'F' THEN 1 ELSE 0 END)"), c)
    // a multi-char open domain never initial-matches
    val open: String => Map[String, Seq[String]] =
      t => if (t == "students") Map("gender" -> Seq("Male", "Female", "Mixed")) else Map.empty
    assert(Templates.cohortRatioCandidates(slice,
      "ratio of m to f students", open).isEmpty)
  }

  test("share over a numeric threshold: the comparative adjective picks the column") {
    val c = Templates.shareOverThresholdCandidates(slice,
      "What percentage of students are older than 21?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT ROUND(CAST(SUM(CASE WHEN age > 21 THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / COUNT(*), 4) AS agg_value FROM students", c)
    val y = Templates.shareOverThresholdCandidates(slice,
      "What fraction of students are younger than 19?")
    assert(y.nonEmpty && y.head.sql.contains("age < 19"), y)
  }

  test("HAVING COUNT DISTINCT across the bridge: 'more than N different courses'") {
    val c = Templates.havingDistinctCountCandidates(slice, fks,
      "Which students are enrolled in more than 5 different courses?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT student_id, COUNT(DISTINCT course_id) AS agg_value FROM scores " +
        "GROUP BY student_id HAVING COUNT(DISTINCT course_id) > 5 " +
        "ORDER BY student_id LIMIT 100", c)
  }

  test("vs-group-average: rows compared to their own group's mean via a tiny join") {
    val c = Templates.vsGroupAvgCandidates(travelSlice,
      "Which flights are more expensive than the average price for their agency?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("(SELECT agency, AVG(fprice) AS a FROM flights GROUP BY agency)"), c.head.sql)
    assert(c.head.sql.contains("WHERE f.fprice > t.a"), c.head.sql)
    assert(c.head.sql.startsWith("SELECT f.travelcode"), c.head.sql)
  }

  test("month argmax with a derived revenue measure, tie-aware") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "quantity", "price", "invoicedate", "shoppingmall")))
    val c = Templates.monthArgmaxCandidates(store,
      "Which month had the highest total revenue?")
    assert(c.nonEmpty && c.head.sql.contains("SUM(quantity * price) AS s"), c)
    assert(c.head.sql.contains("WHERE s = (SELECT MAX(s) FROM t)"), c.head.sql)
  }

  test("most-of-value argmax: filtered fact count per FK, tie-aware") {
    val c = Templates.mostOfValueCandidates(slice, fks,
      "Which course has the most A grades?")
    assert(c.nonEmpty && c.head.sql.contains("WHERE grade = 'A' GROUP BY course_id"), c)
    assert(c.head.sql.contains("n = (SELECT MAX(n) FROM t)"), c.head.sql)
  }

  test("nth-ranked group aggregate: ORDER BY over the groups frame + OFFSET") {
    val c = Templates.nthGroupAggCandidates(travelSlice,
      "Which agency has the second highest average flight price?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT agency FROM (SELECT agency, AVG(fprice) AS a FROM flights " +
        "GROUP BY agency) t ORDER BY a DESC LIMIT 1 OFFSET 1", c)
  }

  test("name-of-most: count argmax joined back for the display column, tie-aware") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "customers" -> Seq("id", "name", "gender", "age"),
      "orders" -> Seq("id", "customer_id", "order_date", "total")))
    val c = Templates.nameOfMostCandidates(store,
      Seq(FkEdge("orders", "customer_id", "customers", "id")),
      "What is the name of the customer who placed the most orders?")
    assert(c.nonEmpty && c.head.sql.contains("WHERE t.n = (SELECT MAX(n) FROM t)"), c)
    assert(c.head.sql.contains("SELECT d.name FROM customers d JOIN t"), c.head.sql)
  }

  test("per-group argmax: RANK window over the aggregate frame, tie-aware") {
    val c = Templates.perGroupArgmaxCandidates(slice,
      "For each year, which course_id has the highest average score?")
    assert(c.nonEmpty && c.head.sql.contains(
      "RANK() OVER (PARTITION BY year ORDER BY v DESC)"), c)
    assert(c.head.sql.contains("GROUP BY year, course_id"), c.head.sql)
  }

  test("two-dimension grouping: 'per X and Y' under a counting reading") {
    val c = Templates.twoDimGroupCandidates(travelSlice,
      "How many flights are there per agency and flight type?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT agency, flighttype, COUNT(*) AS agg_value FROM flights " +
        "GROUP BY agency, flighttype ORDER BY agency, flighttype LIMIT 100", c)
    // no counting reading → silent (a plain per-X-and-Y is ambiguous)
    assert(Templates.twoDimGroupCandidates(travelSlice,
      "flights per agency and flight type").isEmpty)
  }

  test("directional extreme: from/to picks the f-/t-prefixed group column") {
    val f = Templates.directionalExtremeCandidates(travelSlice,
      "What is the longest flight distance from each city?")
    assert(f.nonEmpty && f.head.sql ==
      "SELECT fcity, MAX(distance) AS agg_value FROM flights GROUP BY fcity " +
        "ORDER BY fcity LIMIT 100", f)
    val t = Templates.directionalExtremeCandidates(travelSlice,
      "What is the shortest flight distance to each city?")
    assert(t.nonEmpty && t.head.sql.contains("SELECT tcity, MIN(distance)"), t)
  }

  // ------------------- round-17 fourth-wave nested-composition shapes

  test("share argmax: per-group ratio then tie-aware extreme, outranking plain tie-argmax") {
    val c = Templates.shareArgmaxCandidates(slice, fks,
      "Which course has the highest share of A grades?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("CAST(SUM(CASE WHEN grade = 'A' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS r"), c.head.sql)
    assert(c.head.sql.contains("WHERE r = (SELECT MAX(r) FROM t)"), c.head.sql)
    assert(c.head.confidence > 0.9, "must outrank the generic tie-argmax reading")
  }

  test("derived row argmax: qty * price superlative projects the identity key") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "customerid", "quantity", "price", "shoppingmall")))
    val c = Templates.derivedRowArgmaxCandidates(store,
      "Which sale had the highest total value?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT invoiceno FROM sales WHERE quantity * price = " +
        "(SELECT MAX(quantity * price) FROM sales) ORDER BY invoiceno LIMIT 100", c)
    // a REAL value/amount column disables the derivation
    val withCol = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "quantity", "price", "value")))
    assert(Templates.derivedRowArgmaxCandidates(withCol,
      "Which sale had the highest total value?").isEmpty)
  }

  test("two-cohort aggregate pair: direction word resolves the f/t domain tie") {
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "fcity", "tcity", "fprice")))
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "flights") Map(
        "fcity" -> Seq("Paris", "Rome", "Berlin"),
        "tcity" -> Seq("Paris", "Rome", "Berlin")) else Map.empty
    val c = Templates.twoCohortAvgCandidates(travel,
      "What is the average flight price to Paris and to Rome?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT AVG(CASE WHEN tcity = 'Paris' THEN fprice END) AS agg_value, " +
        "AVG(CASE WHEN tcity = 'Rome' THEN fprice END) AS agg_value2 FROM flights", c)
    // both domains hold the values and no direction word → ambiguous, silent
    assert(Templates.twoCohortAvgCandidates(travel,
      "What is the average flight price in Paris and Rome?", doms).isEmpty)
  }

  test("grouped aggregate range: per-group MAX - MIN with elliptical most/least") {
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "fcity", "flighttype", "fprice", "agency")))
    val c = Templates.groupedDiffCandidates(travel,
      "For each agency, what is the price difference between its most and least expensive flight?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT agency, MAX(fprice) - MIN(fprice) AS agg_value FROM flights " +
        "GROUP BY agency ORDER BY agency LIMIT 100", c)
  }

  test("correlated count vs own group: verb stem grounds the measure") {
    val c = Templates.countVsOwnGroupCandidates(slice,
      "How many scores scored above their course_id average?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT COUNT(*) AS agg_value FROM scores e JOIN " +
        "(SELECT course_id, AVG(score) AS a FROM scores GROUP BY course_id) t " +
        "ON e.course_id = t.course_id WHERE e.score > t.a", c)
  }

  test("share of groups over a bar: two aggregation levels") {
    val c = Templates.shareOfGroupsCandidates(slice, fks,
      "What fraction of courses have an average score above 75?")
    assert(c.nonEmpty, c)
    assert(c.head.sql.contains("(SELECT course_id, AVG(score) AS a FROM scores GROUP BY course_id) t"), c.head.sql)
    assert(c.head.sql.contains("SUM(CASE WHEN a > 75 THEN 1 ELSE 0 END)"), c.head.sql)
  }

  test("total by filtered entity: the b9 chain ungrouped with an age bar") {
    val c = Templates.totalByFilteredEntityCandidates(storeSlice, storeFks2,
      "What is the total quantity of items ordered by customers older than 40?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT SUM(l.qty) AS agg_value FROM order_items l " +
        "JOIN orders m ON l.order_id = m.id " +
        "JOIN customers d ON m.customer_id = d.id WHERE d.age > 40", c)
  }

  test("nested grouping with an inner HAVING: courses per year over a size bar") {
    val c = Templates.nestedGroupHavingCandidates(slice, fks,
      "For each year, how many courses had at least 20 scores?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT year, COUNT(*) AS agg_value FROM " +
        "(SELECT year, course_id FROM scores GROUP BY year, course_id " +
        "HAVING COUNT(*) >= 20) t GROUP BY year ORDER BY year LIMIT 100", c)
  }

  test("directional set difference: destinations minus origins via the f/t idiom") {
    val travel = SchemaSlice(scala.collection.immutable.ListMap(
      "flights" -> Seq("travelcode", "fcity", "tcity", "fprice")))
    val c = Templates.dirSetDiffCandidates(travel,
      "How many cities appear as destinations but never as origins?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT COUNT(*) AS agg_value FROM " +
        "(SELECT tcity FROM flights EXCEPT SELECT fcity FROM flights) t", c)
    // same direction twice is not a difference
    assert(Templates.dirSetDiffCandidates(travel,
      "How many cities appear as destinations but never as arrivals?").isEmpty)
  }

  // ------------------- round-18 fifth-wave shapes (b65-b76)

  test("avg of group agg: outer aggregate over a per-group inner aggregate") {
    val c = Templates.avgOfGroupAggCandidates(slice, fks,
      "What is the average of each course's maximum score?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT AVG(a) AS agg_value FROM " +
        "(SELECT MAX(score) AS a FROM scores GROUP BY course_id) t", c)
    // inner direction words map: lowest → MIN, total → SUM
    val s = Templates.avgOfGroupAggCandidates(slice, fks,
      "What is the total of each student's lowest score?")
    assert(s.nonEmpty && s.head.sql.contains("SELECT SUM(a)") &&
      s.head.sql.contains("SELECT MIN(score)"), s)
    // an ungroundable measure stays silent
    assert(Templates.avgOfGroupAggCandidates(slice, fks,
      "What is the average of each course's maximum salary?").isEmpty)
  }

  test("imperative chain: sentences accumulate filters and the sort column") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "scores") Map("grade" -> Seq("Pass", "Fail")) else Map.empty
    val c = Templates.imperativeChainCandidates(slice,
      "Show the scores from the Pass grade. Only include scores above 80. Sort by score.", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT * FROM scores WHERE grade = 'Pass' AND score > 80 " +
        "ORDER BY score, score_id, student_id, course_id LIMIT 100", c)
    // a sort instruction whose column grounds nowhere kills the shape
    assert(Templates.imperativeChainCandidates(slice,
      "Show the scores from the Pass grade. Sort by salary.", doms).isEmpty)
    // single sentences stay with showTable
    assert(Templates.imperativeChainCandidates(slice,
      "Show the scores above 80", doms).isEmpty)
  }

  test("percent of total value: derived measure share with a domain-grounded value") {
    val sales = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "category", "quantity", "price")))
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "sales") Map("category" -> Seq("books", "electronics")) else Map.empty
    val c = Templates.percentOfTotalValueCandidates(sales,
      "What percent of total revenue comes from electronics?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT ROUND(SUM(CASE WHEN category = 'electronics' THEN quantity * price " +
        "ELSE 0 END) / SUM(quantity * price), 4) AS agg_value FROM sales", c)
    // a REAL revenue column sums directly instead of deriving
    val withCol = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "category", "revenue")))
    val r = Templates.percentOfTotalValueCandidates(withCol,
      "What percent of total revenue comes from electronics?", doms)
    assert(r.nonEmpty && r.head.sql.contains("THEN revenue ELSE 0 END) / SUM(revenue)"), r)
    // an ungrounded value phrase stays silent (no fabricated literal)
    assert(Templates.percentOfTotalValueCandidates(sales,
      "What percent of total revenue comes from furniture?", doms).isEmpty)
  }

  test("boolean aggregate compare: emits the comparison, not the aggregate") {
    val c = Templates.booleanAggCompareCandidates(travelSlice,
      "Is the average flight price higher than 250?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT AVG(fprice) > 250 AS agg_value FROM flights", c)
    val lo = Templates.booleanAggCompareCandidates(travelSlice,
      "Is the maximum distance less than 1000?")
    assert(lo.nonEmpty && lo.head.sql ==
      "SELECT MAX(distance) < 1000 AS agg_value FROM flights", lo)
  }

  test("superlative over anti-join: tie-aware extreme of the never-cohort") {
    val c = Templates.superlativeAntiJoinCandidates(storeSlice, storeFks2,
      "Who is the oldest customer that never placed an order?")
    assert(c.nonEmpty && c.head.sql ==
      "WITH nc AS (SELECT * FROM customers x WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders f WHERE f.customer_id = x.id)) " +
        "SELECT id, name, age FROM nc WHERE age = (SELECT MAX(age) FROM nc) " +
        "ORDER BY id LIMIT 100", c)
    assert(c.head.confidence > 0.9, "must outrank the plain never-anti-join listing")
    // youngest flips the extreme
    assert(Templates.superlativeAntiJoinCandidates(storeSlice, storeFks2,
      "Who is the youngest customer that never placed an order?")
      .head.sql.contains("(SELECT MIN(age) FROM nc)"))
    // a never-phrase that names no FK fact stays silent
    assert(Templates.superlativeAntiJoinCandidates(storeSlice, storeFks2,
      "Who is the oldest customer that never sang a song?").isEmpty)
  }

  test("joined value agg: the named value grounds in the DIMENSION's domain") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "courses") Map("course_name" -> Seq("Algebra", "Biology")) else Map.empty
    val c = Templates.joinedValueAggCandidates(slice, fks,
      "What is the average score in Biology?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT AVG(f.score) AS agg_value FROM scores f " +
        "JOIN courses d ON d.course_id = f.course_id WHERE d.course_name = 'Biology'", c)
    // a value in no reachable dimension domain stays silent
    assert(Templates.joinedValueAggCandidates(slice, fks,
      "What is the average score in Stockholm?", doms).isEmpty)
  }

  test("grouped top-k: ROW_NUMBER per group with the member tie-break") {
    val c = Templates.groupTopkCandidates(travelSlice, Nil,
      "For each agency, what are the top 2 destinations by number of flights?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT agency, tcity FROM (SELECT agency, tcity, " +
        "ROW_NUMBER() OVER (PARTITION BY agency ORDER BY COUNT(*) DESC, tcity) AS rk " +
        "FROM flights GROUP BY agency, tcity) t WHERE rk <= 2 " +
        "ORDER BY agency, tcity LIMIT 100", c)
    // word numerals parse; origins pick the f-side
    val w = Templates.groupTopkCandidates(travelSlice, Nil,
      "For each agency, list the top three origins by number of flights")
    assert(w.nonEmpty && w.head.sql.contains("rk <= 3") &&
      w.head.sql.contains("fcity"), w)
    // a counted noun that names no fact stays silent
    assert(Templates.groupTopkCandidates(travelSlice, Nil,
      "For each agency, the top 2 destinations by number of trains").isEmpty)
  }

  test("day-of-week bucket: DAYOFWEEK grouping on the fact's date column") {
    val store = SchemaSlice(scala.collection.immutable.ListMap(
      "orders" -> Seq("id", "customer_id", "order_date", "total")))
    val c = Templates.dowBucketCandidates(store,
      "How many orders were placed on each day of the week?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT DAYOFWEEK(order_date) AS dow, COUNT(*) AS agg_value FROM orders " +
        "GROUP BY DAYOFWEEK(order_date) ORDER BY dow LIMIT 100", c)
    // "sum of X" sums the measure instead of counting
    val s = Templates.dowBucketCandidates(store,
      "What is the sum of total per day of week for orders?")
    assert(s.nonEmpty && s.head.sql.contains("SUM(total)"), s)
  }

  test("named cohort compare: tie-aware, canonical domain literals") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "scores") Map("grade" -> Seq("Pass", "Fail")) else Map.empty
    val c = Templates.namedCohortCompareCandidates(slice,
      "Which grade has more scores, Pass or Fail?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "WITH t AS (SELECT grade, COUNT(*) AS n FROM scores " +
        "WHERE grade IN ('Pass', 'Fail') GROUP BY grade) " +
        "SELECT grade FROM t WHERE n = (SELECT MAX(n) FROM t) ORDER BY grade", c)
    // fewer flips to MIN; the case-normalized match renders the CANONICAL value
    val f = Templates.namedCohortCompareCandidates(slice,
      "Which grade has fewer scores, pass or fail?", doms)
    assert(f.nonEmpty && f.head.sql.contains("(SELECT MIN(n) FROM t)") &&
      f.head.sql.contains("IN ('Pass', 'Fail')"), f)
    // values outside the group column's domain stay silent
    assert(Templates.namedCohortCompareCandidates(slice,
      "Which grade has more scores, Pass or Maybe?", doms).isEmpty)
  }

  test("generate per group: derived qty x price under generate/produce phrasing") {
    val sales = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "category", "quantity", "price")))
    val c = Templates.generatePerGroupCandidates(sales,
      "How much revenue did each category generate in total?")
    assert(c.nonEmpty && c.head.sql ==
      "SELECT category, SUM(quantity * price) AS agg_value FROM sales " +
        "GROUP BY category ORDER BY category LIMIT 100", c)
    // a real revenue column wins over the derivation
    val withCol = SchemaSlice(scala.collection.immutable.ListMap(
      "sales" -> Seq("invoiceno", "category", "revenue")))
    val r = Templates.generatePerGroupCandidates(withCol,
      "How much revenue did each category generate?")
    assert(r.nonEmpty && r.head.sql.contains("SUM(revenue)"), r)
  }

  test("cohort aggregate difference: two conditional aggregates in one pass") {
    val doms: String => Map[String, Seq[String]] =
      t => if (t == "scores") Map("grade" -> Seq("Pass", "Fail")) else Map.empty
    val c = Templates.cohortAggDiffCandidates(slice,
      "What is the difference between the average scores of Pass and Fail scores?", doms)
    assert(c.nonEmpty && c.head.sql ==
      "SELECT AVG(CASE WHEN grade = 'Pass' THEN score END) - " +
        "AVG(CASE WHEN grade = 'Fail' THEN score END) AS agg_value FROM scores", c)
    // one ungrounded cohort name stays silent
    assert(Templates.cohortAggDiffCandidates(slice,
      "What is the difference between the average scores of Pass and Maybe scores?",
      doms).isEmpty)
  }

  test("distinct-count argmax: direction preposition resolves the f/t tie") {
    val c = Templates.distinctCountArgmaxCandidates(travelSlice, Nil,
      "Which user has taken flights to the most different cities?")
    assert(c.nonEmpty && c.head.sql ==
      "WITH t AS (SELECT usercode, COUNT(DISTINCT tcity) AS n FROM flights " +
        "GROUP BY usercode) SELECT usercode FROM t " +
        "WHERE n = (SELECT MAX(n) FROM t) ORDER BY usercode", c)
    // from-direction picks the f-side
    val f = Templates.distinctCountArgmaxCandidates(travelSlice, Nil,
      "Which user has taken flights from the most different cities?")
    assert(f.nonEmpty && f.head.sql.contains("COUNT(DISTINCT fcity)"), f)
    // tied city columns with no direction word stay silent
    assert(Templates.distinctCountArgmaxCandidates(travelSlice, Nil,
      "Which user has seen the most different cities?").isEmpty)
  }

  test("verb-stem fact linking: action-named facts ground where noun linking misses") {
    // shape-transfer reads g4/g7: "enrolled" must reach enrollments
    val school = SchemaSlice(scala.collection.immutable.ListMap(
      "students" -> Seq("id", "name", "gender", "age"),
      "enrollments" -> Seq("student_id", "course_id", "term", "numeric_score"),
      "courses" -> Seq("id", "title")))
    val schoolFks = Seq(
      FkEdge("enrollments", "student_id", "students", "id"),
      FkEdge("enrollments", "course_id", "courses", "id"))
    val anti = Templates.superlativeAntiJoinCandidates(school, schoolFks,
      "Who is the youngest student that never enrolled in any course?")
    assert(anti.nonEmpty && anti.head.sql ==
      "WITH nc AS (SELECT * FROM students x WHERE NOT EXISTS " +
        "(SELECT 1 FROM enrollments f WHERE f.student_id = x.id)) " +
        "SELECT id, name, age FROM nc WHERE age = (SELECT MIN(age) FROM nc) " +
        "ORDER BY id LIMIT 100", anti)
    val distinctArg = Templates.distinctCountArgmaxCandidates(school, schoolFks,
      "Which student has enrolled in the most different courses?")
    assert(distinctArg.nonEmpty && distinctArg.head.sql ==
      "WITH t AS (SELECT student_id, COUNT(DISTINCT course_id) AS n FROM enrollments " +
        "GROUP BY student_id) SELECT student_id FROM t " +
        "WHERE n = (SELECT MAX(n) FROM t) ORDER BY student_id", distinctArg)
    // an ambiguous stem grounds nothing: two tables share the prefix
    val ambig = SchemaSlice(scala.collection.immutable.ListMap(
      "students" -> Seq("id", "age", "name"),
      "enrollments" -> Seq("student_id", "course_id"),
      "enrollment_audit" -> Seq("student_id", "course_id")))
    assert(Templates.superlativeAntiJoinCandidates(ambig,
      Seq(FkEdge("enrollments", "student_id", "students", "id"),
        FkEdge("enrollment_audit", "student_id", "students", "id")),
      "Who is the oldest student that never enrolled in any course?").isEmpty)
  }

  test("soleMeasure: the one column that is no key, no string domain and not excluded") {
    val cols = Seq("score_id", "id", "o_orderkey", "student_id", "grade", "year", "score")
    assert(Templates.soleMeasure(cols, Set("grade"), Templates.yearOrDate) == Seq("score"))
    assert(Templates.soleMeasure(cols, Set("grade"), _ == "year") == Seq("score"))
    // "o_orderkey" ends in "key": a key, never a measure
    assert(Templates.soleMeasure(Seq("o_orderkey", "o_totalprice"), Set.empty, _ => false) == Seq("o_totalprice"))
  }

  test("soleMeasure: an ambiguous or missing measure gives none") {
    val cols = Seq("score_id", "grade", "score", "year")
    // "year" is not excluded, so it competes with "score"
    assert(Templates.soleMeasure(cols, Set("grade"), _ => false).isEmpty)
    // "grade" is not a string domain here, so it competes too
    assert(Templates.soleMeasure(cols, Set.empty, Templates.yearOrDate).isEmpty)
    // everything left is excluded
    assert(Templates.soleMeasure(cols, Set("grade"), c => c == "score" || c == "year").isEmpty)
    assert(Templates.soleMeasure(Seq("student_id", "id"), Set.empty, _ => false).isEmpty)
  }

  test("bridges: FKs into the first dimension, in FK order, each with its table's first FK into the second") {
    val edges = Seq(
      FkEdge("scores", "course_id", "courses", "course_id"),
      FkEdge("enrolled", "student_id", "students", "student_id"),
      FkEdge("scores", "student_id", "students", "student_id"),
      FkEdge("enrolled", "course_id", "courses", "course_id"),
      FkEdge("enrolled", "alt_course_id", "courses", "course_id"),
      FkEdge("visits", "student_id", "students", "student_id"))
    // "visits" has no FK into courses, so it bridges nothing
    assert(Templates.bridges(edges, "students", "courses") == Seq(
      edges(1) -> edges(3), // enrolled's first FK into courses, not alt_course_id
      edges(2) -> edges(0)))
    assert(Templates.bridges(edges, "students", "region").isEmpty)
    assert(Templates.bridges(edges, "courses", "students") == Seq(
      edges(0) -> edges(2), edges(3) -> edges(1), edges(4) -> edges(1)))
  }
}
