package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.optimizer.ReplaceDeduplicateWithAggregate
import org.apache.spark.sql.functions._

/**
 * Exact-duplicate grouping, the one implementation behind the grouped
 * kernels (`Dedup.minhashNearDuplicates`, `Dedup.simhashNearDuplicates`,
 * `Dedup.ngramJaccardPairs`, `TextAnalysis.bigramPerplexity`,
 * `TextAnalysis.crossEntropyDiff`, `TextAnalysis.dsirWeightsWhere`).
 *
 * Rows with equal key columns (the text, plus any value that must keep
 * text-identical rows apart, such as dsir's filter value) carry
 * identical per-text work: the same shingles, signature, n-grams and
 * tokens. A kernel runs that work once per distinct key on the group
 * frame `(key…, gid, g, members)` — the minimal id, the member count
 * (null ids included) and the non-null member ids — and expands its
 * result back to member ids at the end. Verbatim copies, the dominant
 * redundancy of a crawl, then cost one row each (OPTIMIZATION_r19.md §1:
 * `ngramJaccardPairs` on the 10×-copied force fixture 11.4 s → 1.1 s;
 * on sf0.1, where texts are 99.8% distinct, the text-keyed exchange
 * and the two member joins cost ~0.3 s).
 *
 * '''Distinct keys.''' When the key columns already form a distinct key
 * of the input's analyzed plan (`Dedup.dedupExact` or `dropDuplicates`
 * output, a `GROUP BY` on the text), every group would be a singleton.
 * The group frame is then a narrow projection `(key…, gid = id, g = 1)`
 * and both expansions are renames: no text-keyed exchange, no member
 * join.
 * The analyzed plan is the one read because a persisted input's
 * optimized plan is an `InMemoryRelation`, which reports no distinct
 * keys; `Deduplicate` is rewritten to its aggregate first, as the
 * optimizer would. The check runs no job. A table read reports no
 * distinct keys and is grouped.
 *
 * '''Result identity.''' Both paths give the rows of the per-row
 * `*Ungrouped` references (differential tests in DedupNgramSpec):
 *  - members of one group share every per-text value, so a group
 *    pair's jaccard or Hamming distance is each member pair's value, and
 *    a group's score is each member's score;
 *  - count models weight by `g` and caps compare Σ`g`, the member count
 *    the per-row kernel saw;
 *  - the (A, A) group pair stands for A's own member pairs and is kept
 *    only when A has ≥ 2 members;
 *  - pairs come out once per unordered member pair, in id order, never
 *    as (X, X) even when an id repeats on two texts; null ids never pair.
 *
 * '''Known limits.''' Ids are expected to be a key. A null id's score
 * survives only on the distinct path: the references group null ids
 * together, while the grouped path's member lists skip them. Each
 * group's `members` array is unbounded — a text copied 10⁸ times becomes
 * one 10⁸-element row.
 */
private[operators] final class ExactGroups private (
    val frame: DataFrame, distinct: Boolean) {

  /** Verified group pairs to member pairs. `pairs`' first two columns
    * are the group ids (`gid_a` ≤ `gid_b`); the rest ride along. Output:
    * `(id_a, id_b, rest…)` with `id_a` < `id_b`. */
  def expandPairs(pairs: DataFrame): DataFrame = {
    val Seq(a, b, rest @ _*) = pairs.columns.toSeq
    val carried = rest.map(col)
    if (distinct) pairs.select(Seq(col(a).as("id_a"), col(b).as("id_b")) ++ carried: _*)
    else {
      def members(gid: String, ms: String) =
        frame.select(col("gid").as(gid), col("members").as(ms))
      val ia = col("__ia")
      val ib = col("__ib")
      pairs.join(members(a, "__ms_a"), a).join(members(b, "__ms_b"), b)
        .select(Seq(col(a), col(b)) ++ carried ++
          Seq(explode(col("__ms_a")).as("__ia"), col("__ms_b")): _*)
        .select(Seq(col(a), col(b)) ++ carried ++ Seq(ia, explode(col("__ms_b")).as("__ib")): _*)
        // a within-group pair emits its member combinations; an id on two
        // texts meets itself across their group pair and is dropped
        .where((col(a) =!= col(b) || ia < ib) && ia =!= ib)
        .select(Seq(when(ia < ib, ia).otherwise(ib).as("id_a"),
          when(ia < ib, ib).otherwise(ia).as("id_b")) ++ carried: _*)
    }
  }

  /** Per-group scores (a `gid` column plus score columns) to one row
    * per member under `idCol`. */
  def expandScores(scores: DataFrame, idCol: String): DataFrame = {
    val carried = scores.columns.toSeq.filterNot(_ == "gid").map(col)
    if (distinct) scores.select(col("gid").as(idCol) +: carried: _*)
    else scores.join(frame.select(col("gid"), col("members")), "gid")
      .select(explode(col("members")).as(idCol) +: carried: _*)
  }
}

private[operators] object ExactGroups {

  /** The group frame of `df` on `keys` (aliased columns). */
  def apply(df: DataFrame, idCol: String, keys: Column*): ExactGroups =
    if (distinctOn(df, keys))
      new ExactGroups(df.select(keys ++ Seq(col(idCol).as("gid"), lit(1L).as("g")): _*),
        distinct = true)
    else
      // lazy localCheckpoint: the frame feeds the kernel and the final
      // expansion; RDD-owned blocks, no session cache entry
      new ExactGroups(df.groupBy(keys: _*)
        .agg(min(col(idCol)).as("gid"), count(lit(1)).as("g"),
          collect_list(col(idCol)).as("members"))
        .localCheckpoint(eager = false), distinct = false)

  /** `(key…, g)` copy counts only, for a count model over a frame
    * without ids. */
  def counts(df: DataFrame, keys: Column*): DataFrame =
    if (distinctOn(df, keys)) df.select(keys :+ lit(1L).as("g"): _*)
    else df.groupBy(keys: _*).agg(count(lit(1L)).as("g"))

  /** Combinations-with-self group pairs inside capped lists. `entries`
    * carries `gid`, `g`, `fields` and the `bucket` columns; per bucket,
    * the sorted list of `(gid, fields…, g)` structs whose Σ`g` lies in
    * [2, `cap`] pairs each entry with itself and every later one, as
    * structs `a` and `b` (so `a.gid` ≤ `b.gid`). The (A, A) pair is kept
    * only when A has ≥ 2 members; `keep` adds predicates on `a` and `b`
    * to the same filter. */
  def pairs(entries: DataFrame, bucket: Seq[String], fields: Seq[String],
      cap: Int, keep: Column*): DataFrame = {
    val entry = struct((("gid" +: fields) :+ "g").map(col): _*)
    entries.groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_list(entry)).as("ps"), sum(col("g")).as("n_members"))
      .where(col("n_members").between(2, cap))
      .select(posexplode(col("ps")).as(Seq("__i", "a")), col("ps"))
      .select(col("a"),
        explode(slice(col("ps"), col("__i") + 1, size(col("ps")) - col("__i"))).as("b"))
      .where(((col("a.gid") =!= col("b.gid") || col("a.g") >= 2) +: keep).reduce(_ && _))
  }

  private def distinctOn(df: DataFrame, keys: Seq[Column]): Boolean =
    ReplaceDeduplicateWithAggregate(df.select(keys: _*).queryExecution.analyzed)
      .distinctKeys.nonEmpty
}
