package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Event-analytics operators over a (user, timestamp, type, value)
 * event stream: funnels, retention cohorts, anomaly flagging — the
 * product-analytics family the reference's dashboard surface implies
 * (ref `app/routes_ai.py:91` ask-over-data, `frontend/src/pages/
 * Database.jsx` metric surfaces) re-expressed as declarative Spark
 * plans that survive 100 TB event logs.
 *
 * Scale posture shared by all three: every pass is a filtered scan +
 * partial-aggregated groupBy on the user (or type) key — shuffles
 * carry one row per user per step, never raw events; joins are
 * user-key-partitioned (AQE broadcasts the per-type stats frame,
 * which is |types| rows). No windows over the full corpus, no
 * driver-side loops over data.
 */
object EventAnalytics {

  /**
   * Batch gap-based sessionization — the BACKFILL sibling of the
   * streaming sessionizers ([[graft.streaming.Streams.sessionize]] /
   * `sessionizeTws`), with the timer processor's exact semantics: a
   * new session starts when the gap STRICTLY exceeds `gapMs`, and
   * event times are epoch MILLISECONDS (`Timestamp.getTime` truncates
   * micros, so the batch path truncates identically). In a lakehouse
   * the historical log is sessionized in batch and the live tail in
   * streaming; the two paths must agree on the overlap — both hash
   * against the same gaps-and-islands oracle (`x_sessionize` and
   * `x_tws_sessions` share their replica SQL verbatim), and
   * EventAnalyticsSpec pins the boundary semantics (a gap of exactly
   * `gapMs` does NOT split).
   *
   * Output: one row per (user, session) — `n_events`,
   * `session_value` (SUM of `valueCol`), `start_ms`, `end_ms`.
   *
   * Plan/scale: the classic gaps-and-islands rewrite — LAG to mark
   * session breaks, a running SUM to number them, one grouped
   * aggregate. ONE shuffle on `userCol`: both windows and the final
   * aggregation share that partitioning (no second exchange), window
   * state is a single lag value per user, and the aggregate map-side
   * combines. No full-corpus window, no driver loop.
   */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(userCol).orderBy("tms")
    events
      .select(col(userCol),
        floor(unix_micros(col(tsCol)) / 1000).cast("long").as("tms"),
        col(valueCol))
      .withColumn("brk",
        when(col("tms") - lag("tms", 1).over(byUser) > gapMs, 1).otherwise(0))
      .withColumn("sid",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("sid"))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("session_value"),
        min("tms").as("start_ms"), max("tms").as("end_ms"))
      .drop("sid")
  }

  /**
   * Ordered-funnel analysis: for the step sequence `steps`, a user
   * reaches step i when they have an event of type `steps(i)` STRICTLY
   * AFTER their earliest qualifying time for step i-1. Output one row
   * per step: (step 1-based, step_name, n_users, conv — fraction of
   * step-1 users, 4 dp).
   *
   * Plan: step i is one filtered scan + min-aggregate joined on the
   * user key against step i-1's reach frame — k small user-keyed
   * shuffles for a k-step funnel, each carrying ≤ one row per
   * surviving user. The per-step counts are single-row aggregates
   * unioned driver-side (k rows total).
   */
  /** Per-user earliest completion time of each step prefix — the
    * shared skeleton of [[funnel]] and [[funnelTiming]]. Frames are
    * localCheckpointed (≤ one row per user each): step k must not
    * recompute the step-1..k-1 chain, and callers re-read every frame. */
  private def reachFrames(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): Seq[DataFrame] =
    steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val stepEvents = events.where(col(typeCol) === step)
        val reached = prev match {
          case None =>
            stepEvents.groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
          case Some(p) =>
            stepEvents.join(p.withColumnRenamed("__t", "__tprev"), userCol)
              .where(col(tsCol) > col("__tprev"))
              .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        }
        Some(reached.localCheckpoint())
    }.flatten

  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    val reaches = reachFrames(events, userCol, tsCol, typeCol, steps)
    val counts = reaches.map(_.count())
    val base = math.max(counts.head, 1L)
    import spark.implicits._
    steps.zipWithIndex.map { case (s, i) =>
      (i + 1, s, counts(i),
        BigDecimal(counts(i).toDouble / base)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("step", "step_name", "n_users", "conv")
  }

  /**
   * Time-to-convert per funnel transition: for users completing step
   * i → i+1, the count and the mean / exact-median hours between
   * their step-i and step-(i+1) completion times. Output:
   * (transition "a→b", n_users, avg_hours 4 dp, p50_hours 4 dp).
   *
   * Plan: the same materialized reach frames as [[funnel]] (≤ one row
   * per user each) joined pairwise on the user key; the percentile is
   * Spark's exact `percentile` (PERCENTILE_CONT interpolation) over
   * the ≤|users|-row delta frame.
   */
  def funnelTiming(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelTiming needs at least two steps")
    val reaches = reachFrames(events, userCol, tsCol, typeCol, steps)
    steps.sliding(2).toSeq.zipWithIndex.map { case (Seq(a, b), i) =>
      val prev = reaches(i).withColumnRenamed("__t", "__ta")
      val next = reaches(i + 1).withColumnRenamed("__t", "__tb")
      val hours = (unix_timestamp(col("__tb")) - unix_timestamp(col("__ta")))
        .cast("double") / 3600.0
      prev.join(next, userCol)
        .select(hours.as("__h"))
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("__h")), 4).as("avg_hours"),
          round(expr("percentile(__h, 0.5)"), 4).as("p50_hours"))
        .select(lit(s"$a→$b").as("transition"), col("n_users"),
          col("avg_hours"), col("p50_hours"))
    }.reduce(_ unionByName _)
  }

  /**
   * Markov transition matrix over a user's event sequence: for every
   * consecutive (type → next type) pair in each user's time-ordered
   * stream, the corpus-wide count and the conditional probability
   * P(next | current). Output: (from_type, to_type, n, p 6 dp).
   *
   * Plan: ONE window pass partitioned BY USER (per-partition rows =
   * that user's events — adding users adds partitions, never skew on
   * a global sort) computes `lead`; the pair counts are a
   * partial-aggregated groupBy; the row totals reuse the pair-count
   * frame (|type|² rows), not the corpus. Ties on the timestamp break
   * by the id column so both engines order identically.
   */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("p"))
  }

  /**
   * Retention cohorts: users grouped by FIRST-SEEN day; for every
   * (cohort_day, day_offset) with activity, the number of cohort
   * users active that day and the retained fraction of the cohort.
   * Output: (cohort_day string, day_offset, n_active, retention 4 dp).
   *
   * Plan: first-seen is one user-keyed aggregate; per-day activity is
   * one DISTINCT over (user, day) — both partial-aggregated; the join
   * back is user-key-partitioned; cohort sizing reuses the first-seen
   * frame. Shuffle rows are ≤ |users| + |user-days|, never raw events.
   */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstSeen = events.groupBy(col(userCol))
      .agg(to_date(min(col(tsCol))).as("__cohort"))
    val cohortSize = firstSeen.groupBy(col("__cohort"))
      .agg(count(lit(1)).as("__cohort_n"))
    val active = events
      .select(col(userCol), to_date(col(tsCol)).as("__day")).distinct()
    active.join(firstSeen, userCol)
      .groupBy(col("__cohort"), datediff(col("__day"), col("__cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(cohortSize, "__cohort")
      .select(col("__cohort").cast("string").as("cohort_day"),
        col("day_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("__cohort_n"), 4).as("retention"))
  }

  /**
   * Approximate ROLLING retention from daily activity sketches:
   * retention(d, k) ≈ |A_d ∩ A_{d+k}| / |A_d| over Theta sketches of
   * the users active each day. ONE corpus pass builds |days| kilobyte
   * sketch rows (partial+final ObjectHashAggregate — sketch bytes on
   * the shuffle, never user ids); every (day, offset) cell afterwards
   * is set algebra on the tiny daily frame — the 100 TB path where
   * [[retentionCohorts]]' |user-days| shuffle becomes the bottleneck.
   * Accuracy rides the Theta contract (operators/Sketches.scala):
   * EXACT below 4096 distinct users per day, ±5% above.
   * Output: (day string, day_offset, n_day, n_retained, retention 4dp).
   */
  def rollingRetentionSketch(events: DataFrame, userCol: String, tsCol: String,
      offsets: Seq[Int]): DataFrame = {
    require(offsets.nonEmpty, "need at least one day offset")
    val daily = events
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("__u"))
      .groupBy("day").agg(theta_sketch_agg(col("__u")).as("__theta"))
      .localCheckpoint() // |days| rows; built once, probed per offset
    val a = daily.select(col("day"), col("__theta").as("__ta"))
    offsets.map { k =>
      val b = daily.select(col("day").as("__day2"), col("__theta").as("__tb"))
      a.join(b, col("__day2") === date_add(col("day"), k))
        .select(col("day").cast("string").as("day"),
          lit(k).as("day_offset"),
          round(theta_sketch_estimate(col("__ta"))).cast("long").as("n_day"),
          round(theta_sketch_estimate(
            theta_intersection(col("__ta"), col("__tb")))).cast("long").as("n_retained"))
    }.reduce(_ unionByName _)
      .withColumn("retention",
        round(col("n_retained").cast("double") / col("n_day"), 4))
  }

  /**
   * Market-basket co-occurrence over (user, day) baskets: for every
   * unordered pair of event types sharing a basket, support,
   * confidence(a→b) and lift. Output: (type_a, type_b, n_both,
   * support 6 dp, confidence 6 dp, lift 6 dp).
   *
   * Plan: baskets are the DISTINCT (user, day, type) projection
   * (partial-aggregated); pairs come from per-basket COMBINATIONS —
   * group the types per basket (one exchange on the basket key) and
   * emit the |types|(|types|−1)/2 ordered pairs via posexplode + a
   * suffix slice (r19; replaces the basket-key self-join, which paid
   * a join exchange plus a k² generate-and-filter per basket — the
   * combination form measured ~1.2× at the 10× fixture with identical
   * output, OPTIMIZATION_r19.md §4). Fan-out per basket stays bounded by
   * |types|²; supports come from |types|-row and single-row aggregates
   * reused across the output.
   */
  def typeCooccurrence(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String): DataFrame = {
    val baskets = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"),
        col(typeCol).as("__t"))
      .distinct()
      .localCheckpoint() // read three times below
    val nBaskets = baskets.select("__u", "__d").distinct().count().toDouble
    val perType = baskets.groupBy(col("__t")).agg(count(lit(1)).as("__n1"))
    val pairs = baskets.groupBy(col("__u"), col("__d"))
      .agg(sort_array(collect_list(col("__t"))).as("__ts"))
      .select(posexplode(col("__ts")).as(Seq("__i", "__t")), col("__ts"))
      .select(col("__t"),
        explode(slice(col("__ts"), col("__i") + 2, size(col("__ts")) - col("__i") - 1)).as("__t2"))
      .groupBy(col("__t"), col("__t2")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(perType.select(col("__t"), col("__n1").as("__na")), "__t")
      .join(perType.select(col("__t").as("__t2"), col("__n1").as("__nb")), "__t2")
      .select(col("__t").as("type_a"), col("__t2").as("type_b"), col("n_both"),
        round(col("n_both") / nBaskets, 6).as("support"),
        round(col("n_both").cast("double") / col("__na"), 6).as("confidence"),
        round((col("n_both").cast("double") / col("__na")) /
          (col("__nb") / nBaskets), 6).as("lift"))
  }

  /**
   * Per-key daily rolling statistics: events pre-aggregate to one row
   * per (key, day) — the ONLY corpus-sized pass, partial-aggregated —
   * then a trailing `windowDays`-day window (RANGE frame over the day
   * ordinal, so gap days genuinely age out) computes rolling
   * sum/avg/max over the tiny per-key day series. The window
   * partitions BY KEY over ≤ |days| rows per key: never a corpus-wide
   * or single-partition sort, and adding keys adds partitions, not
   * skew. Output: (key, day string, day_total, rolling_sum,
   * rolling_avg 4 dp, rolling_max, n_days_in_window).
   */
  def rollingDailyStats(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("__day"))
      .agg(sum(col(valueCol)).as("day_total"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(datediff(col("__day"), lit("1970-01-01").cast("date")))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily.select(col(keyCol), col("__day").cast("string").as("day"),
      round(col("day_total"), 4).as("day_total"),
      round(sum(col("day_total")).over(w), 4).as("rolling_sum"),
      round(avg(col("day_total")).over(w), 4).as("rolling_avg"),
      round(max(col("day_total")).over(w), 4).as("rolling_max"),
      count(lit(1)).over(w).as("n_days_in_window"))
  }

  /**
   * Per-key z-score anomaly flagging: events whose value sits more
   * than `threshold` sample standard deviations from their key's
   * mean. Output: the anomalous events with their z-score (4 dp).
   *
   * Plan: per-key mean/stddev is ONE partial-aggregated pass; the
   * stats frame (|keys| rows) joins back onto the scan with NO
   * broadcast hint — AQE broadcasts it whenever it fits (the usual
   * |keys| ≪ |events| case, pinned in PlanQualitySpec), and falls back
   * to a shuffle join when a caller keys by something user-grained,
   * instead of OOMing on a forced hint (the r10 `leakageSafeSplit`
   * lesson).
   */
  def anomalyZscores(events: DataFrame, keyCol: String, valueCol: String,
      idCols: Seq[String], threshold: Double = 3.0): DataFrame = {
    val stats = events.groupBy(col(keyCol))
      .agg(avg(col(valueCol)).as("__mu"), stddev_samp(col(valueCol)).as("__sd"))
    val z = (col(valueCol) - col("__mu")) / col("__sd")
    events.join(stats, keyCol)
      .where(col("__sd") > 0 && abs(z) > threshold)
      .select((idCols.map(col) :+ col(keyCol) :+ col(valueCol) :+
        round(z, 4).as("zscore")): _*)
  }

  /**
   * Robust per-key outlier flagging via median/MAD: flag events whose
   * absolute deviation from their key's MEDIAN exceeds
   * `threshold · 1.4826 · MAD` (1.4826 scales MAD to σ under
   * normality). Immune to the contamination problem z-scores have —
   * the outliers inflate the very stddev they are judged against
   * (Leys et al., "Detecting outliers: do not use standard deviation
   * around the mean, use absolute deviation around the median",
   * JESP 2013). The reference profiles plain min/max/avg only
   * (`app/schema/crawler.py:244-246`).
   *
   * Plan: two |keys|-sized exact-percentile aggregation passes
   * (medians, then MAD of deviations), each joined back onto the
   * scan with no broadcast hint — like [[anomalyZscores]], AQE
   * broadcasts the stats frames when they fit and degrades to a
   * shuffle join (not an OOM) when a caller keys at user grain.
   *
   * The KEY-sized median frame is shared via lazy localCheckpoint
   * (r19): it feeds both the MAD pass and the final filter, and
   * Catalyst does NOT reuse the two broadcast subtrees (OPTIMIZATION_r19.md §3:
   * no ReusedExchange, the median percentile aggregation ran twice —
   * a full extra corpus scan + percentile pass). Sharing |keys| rows
   * is the cheap side of the recompute-vs-materialize rule; the
   * corpus-sized deviation frame is still recomputed, never stored.
   * Measured 1.2-1.6× at the 10× fixture, identical output.
   */
  def anomalyMad(events: DataFrame, keyCol: String, valueCol: String,
      idCols: Seq[String], threshold: Double = 3.0): DataFrame = {
    val med = events.groupBy(col(keyCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
      .localCheckpoint(eager = false)
    val madF = events.join(med, keyCol)
      .withColumn("__adev", abs(col(valueCol) - col("__med")))
      .groupBy(col(keyCol))
      .agg(expr("percentile(__adev, 0.5)").as("__mad"))
    events.join(med.join(madF, keyCol), keyCol)
      .withColumn("__adev", abs(col(valueCol) - col("__med")))
      .where(col("__mad") > 0 && col("__adev") > lit(threshold) * 1.4826 * col("__mad"))
      .select((idCols.map(col) :+ col(keyCol) :+ col(valueCol) :+
        round((col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad")), 4)
          .as("robust_z")): _*)
  }

  /**
   * EXACT two-sample Kolmogorov–Smirnov statistic between the value
   * distributions of two groups — the distribution-shape drift monitor
   * PSI (x_psi_drift) cannot give you: KS is binning-free, so a shift
   * PSI's coarse bins absorb still registers. Returns one row,
   * `ks` = sup_x |F_a(x) − F_b(x)| evaluated at every distinct value.
   *
   * Scale + exactness design: per-value counts aggregate first (one
   * corpus-sized pass, map-side combined), then the global cumulative
   * counts come from the SAME distributed-prefix-sum shape as
   * [[Packing]]: ONE range exchange on the distinct-value frame,
   * per-partition inclusive window cumsums, and a |partitions|-row
   * totals frame broadcast back (the unpartitioned window runs over
   * the cluster-sized totals frame only — never the data). All
   * arithmetic is INTEGER until the final count/total divisions, and
   * identical integer operands divide identically in IEEE on every
   * engine — the statistic carries NO float-accumulation drift, so
   * the oracle can compare it exactly (round only against the
   * hashed-surface 6dp convention).
   *
   * ==Handle-less overload semantics (applies to [[mannWhitneyU]] and
   * [[wasserstein1]] too)==
   * This overload shares its internal ranged frame via LAZY
   * `localCheckpoint` (RDD-owned blocks, GC-released), so it cannot
   * leak session cache — but two behaviors differ from an ordinary
   * transformation and callers should know them:
   *  - '''a Spark job runs at CONSTRUCTION''': building the
   *    checkpointed Dataset constructs its physical RDD, and the range
   *    exchange's `RangePartitioner` runs its boundary-sampling job
   *    right there, before any action on the returned frame;
   *  - '''no recomputation''': checkpointing truncates lineage, so a
   *    lost/evicted block fails the downstream job instead of being
   *    recomputed from source.
   * Callers that must stay fully lazy, need lineage-based recovery, or
   * run long-lived sessions with a terminal action should prefer
   * [[ksStatisticWithCleanup]] (lineage-preserving persist + explicit
   * release handle).
   */
  def ksStatistic(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): DataFrame =
    ksCore(df, valueCol, groupCol, groupA, groupB, partitions,
      _.localCheckpoint(eager = false))._1

  /** [[ksStatistic]] plus a release handle for the internal ranged
    * cache (the repo's WithCleanup convention — see
    * [[graft.operators.Dedup.minhashNearDuplicatesWithCleanup]]): the
    * CacheManager holds persisted frames by strong reference until
    * session end, so repeated drift queries in a long-lived engine
    * session would otherwise accumulate executor storage memory. */
  def ksStatisticWithCleanup(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): (DataFrame, () => Unit) = {
    val (out, ranged) = ksCore(df, valueCol, groupCol, groupA, groupB, partitions, _.persist())
    (out, () => { ranged.unpersist(blocking = false); () })
  }

  /** Shared body: `share` pins the range-exchanged frame so the two
    * downstream branches (per-partition cumsums, per-partition bases)
    * read the SAME materialized partitions — `spark_partition_id()`
    * must not be recomputed under a fresh (sampled, nondeterministic)
    * range exchange. Returns (statistic, the shared frame). */
  private def ksCore(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int,
      share: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.where(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val ranged = share(cells.repartitionByRange(partitions, col("__v"))
      .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy(col("__pid")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged
      .withColumn("__la", sum(col("__ca")).over(localW))
      .withColumn("__lb", sum(col("__cb")).over(localW))
    val baseW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = ranged.groupBy(col("__pid"))
      .agg(sum(col("__ca")).as("__ta"), sum(col("__cb")).as("__tb"))
      .withColumn("__ba", coalesce(sum(col("__ta")).over(baseW), lit(0L)))
      .withColumn("__bb", coalesce(sum(col("__tb")).over(baseW), lit(0L)))
      .select(col("__pid"), col("__ba"), col("__bb"))
    val totals = cells.agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb"))
    val out = local.join(broadcast(bases), Seq("__pid"))
      .crossJoin(broadcast(totals))
      .select(abs((col("__ba") + col("__la")) / col("__na") -
        (col("__bb") + col("__lb")) / col("__nb")).as("__d"))
      .agg(max(col("__d")).as("ks"))
    (out, ranged)
  }

  /**
   * Exact Mann-Whitney U (Wilcoxon rank-sum) with tie correction —
   * the RANK-based member of the drift trio (KS: sup-gap, W1:
   * magnitude, U: stochastic dominance — "how often does a random A
   * value exceed a random B value", via the effect size
   * ρ = U_a/(n_a·n_b), 0.5 = no dominance). Ranks are over the
   * combined sample; a tied block's members all take the block's
   * AVERAGE rank (combined-count-before + (block+1)/2).
   *
   * Same range-exchange cumulative shape as [[ksStatistic]] with
   * EXCLUSIVE frames (rank needs counts strictly before the block).
   * Every quantity is an integer or an exact half (averages of
   * consecutive integers), and sums of exact halves are exact in
   * IEEE up to 2⁵³ — so U and ρ carry NO accumulation drift at any
   * partitioning and the oracle compares them exactly.
   *
   * Handle-less overload: same construction-time sampling job and
   * no-recompute (lineage-truncating) semantics as [[ksStatistic]] —
   * see its scaladoc; [[mannWhitneyUWithCleanup]] preserves lineage.
   */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): DataFrame =
    mwCore(df, valueCol, groupCol, groupA, groupB, partitions,
      _.localCheckpoint(eager = false))._1

  /** [[mannWhitneyU]] plus the ranged-cache release handle (see
    * [[ksStatisticWithCleanup]] for the convention and the why). */
  def mannWhitneyUWithCleanup(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): (DataFrame, () => Unit) = {
    val (out, ranged) = mwCore(df, valueCol, groupCol, groupA, groupB, partitions, _.persist())
    (out, () => { ranged.unpersist(blocking = false); () })
  }

  private def mwCore(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int,
      share: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.where(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val ranged = share(cells.repartitionByRange(partitions, col("__v"))
      .withColumn("__pid", spark_partition_id()))
    val exclW = Window.partitionBy(col("__pid")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("__lt",
      coalesce(sum(col("__ca") + col("__cb")).over(exclW), lit(0L)))
    val baseW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = ranged.groupBy(col("__pid"))
      .agg(sum(col("__ca") + col("__cb")).as("__tt"))
      .withColumn("__bt", coalesce(sum(col("__tt")).over(baseW), lit(0L)))
      .select(col("__pid"), col("__bt"))
    val totals = cells.agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb"))
    val out = local.join(broadcast(bases), Seq("__pid"))
      .select(col("__ca"),
        // average rank of this tied block over the combined sample
        ((col("__bt") + col("__lt")).cast("double") +
          (col("__ca") + col("__cb") + 1L).cast("double") / 2.0).as("__avgrank"))
      .agg(sum(col("__ca").cast("double") * col("__avgrank")).as("__ra"))
      .crossJoin(broadcast(totals))
      .select(
        (col("__ra") - col("__na") * (col("__na") + 1.0) / 2.0).as("u_a"),
        ((col("__ra") - col("__na") * (col("__na") + 1.0) / 2.0) /
          (col("__na") * col("__nb"))).as("rho"))
    (out, ranged)
  }

  /**
   * Exact two-sample Wasserstein-1 (earth-mover's) distance between
   * the value distributions of two groups — the drift MAGNITUDE where
   * [[ksStatistic]] gives the sup-gap: W1 = ∫|F_a − F_b| dx, i.e. the
   * CDF gap at each distinct value weighted by the span to the next
   * one. A small shift across the whole range and a large shift in a
   * sliver can share a KS yet differ 100× in W1.
   *
   * Same range-exchange + pid-windowed cumulative shape as
   * [[ksStatistic]], plus the cross-partition seam the span term
   * needs: `lead(value)` inside a pid window is NULL on each
   * partition's last row, so the |partitions|-row boundary frame
   * carries every partition's min value and a lead over THAT tiny
   * frame supplies the next non-empty partition's first value (empty
   * range partitions simply aren't rows). The global last value spans
   * nothing and contributes 0. Cumulative counts stay integer-exact;
   * only the final Σ gap·span accumulates doubles (round 4dp on the
   * hashed surface, ~1e-13 drift against O(1)-magnitude distances).
   *
   * Handle-less overload: same construction-time sampling job and
   * no-recompute (lineage-truncating) semantics as [[ksStatistic]] —
   * see its scaladoc; [[wasserstein1WithCleanup]] preserves lineage.
   */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): DataFrame =
    w1Core(df, valueCol, groupCol, groupA, groupB, partitions,
      _.localCheckpoint(eager = false))._1

  /** [[wasserstein1]] plus the ranged-cache release handle (see
    * [[ksStatisticWithCleanup]] for the convention and the why). */
  def wasserstein1WithCleanup(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int = 32): (DataFrame, () => Unit) = {
    val (out, ranged) = w1Core(df, valueCol, groupCol, groupA, groupB, partitions, _.persist())
    (out, () => { ranged.unpersist(blocking = false); () })
  }

  private def w1Core(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, partitions: Int,
      share: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.where(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val ranged = share(cells.repartitionByRange(partitions, col("__v"))
      .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy(col("__pid")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val leadW = Window.partitionBy(col("__pid")).orderBy(col("__v"))
    val local = ranged
      .withColumn("__la", sum(col("__ca")).over(localW))
      .withColumn("__lb", sum(col("__cb")).over(localW))
      .withColumn("__lead", lead(col("__v"), 1).over(leadW))
    val tinyW = Window.orderBy(col("__pid"))
    val bases = ranged.groupBy(col("__pid"))
      .agg(sum(col("__ca")).as("__ta"), sum(col("__cb")).as("__tb"),
        min(col("__v")).as("__minv"))
      .withColumn("__ba", coalesce(sum(col("__ta"))
        .over(tinyW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__bb", coalesce(sum(col("__tb"))
        .over(tinyW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__next_minv", lead(col("__minv"), 1).over(tinyW))
      .select(col("__pid"), col("__ba"), col("__bb"), col("__next_minv"))
    val totals = cells.agg(
      sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb"))
    val out = local.join(broadcast(bases), Seq("__pid"))
      .crossJoin(broadcast(totals))
      .select((abs((col("__ba") + col("__la")) / col("__na") -
        (col("__bb") + col("__lb")) / col("__nb")) *
        (coalesce(col("__lead"), col("__next_minv"), col("__v")) - col("__v")))
        .as("__w"))
      .agg(sum(col("__w")).as("w1"))
    (out, ranged)
  }
}
