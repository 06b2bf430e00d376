package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19 deliverable: `.explain("formatted")` before/after dumps for
  * every query this optimization round touches, written to plans/r19/.
  * "Before" plans are reconstructed by composing the SAME declared
  * query shapes over the kept pre-round reference implementations
  * (e.g. [[graft.operators.Dedup.ngramJaccardPairsUngrouped]]), so the
  * dumped shapes are exactly the pre-change plans.
  * Usage: Test/runMain graft.tools.ProbeR19Plans <sfDir>
  */
object ProbeR19Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Sources.register(spark, dir)
    Files.createDirectories(Paths.get("plans/r19"))

    def dump(name: String, df: DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/r19/$name.txt"), s)
      println(s"PROBE wrote plans/r19/$name.txt (${s.length} chars)")
      spark.catalog.clearCache()
    }
    def after(q: String): Unit =
      dump(s"${q}_after", graft.SparkEntry.queries(q)(spark, dir))

    import graft.operators.{Dedup, Sampling}
    val docs = spark.table("documents")

    // ---- ngram-pairs kernel family: before = ungrouped kernel composed
    // exactly like each declared query ----
    def oldPairs = Dedup.ngramJaccardPairsUngrouped(
      docs, "doc_id", "text", n = 3, threshold = 0.8)

    dump("x_dedup_ngram_before",
      oldPairs.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b").limit(100))
    after("x_dedup_ngram")

    dump("x_dedup_groups_before",
      Dedup.duplicateGroups(oldPairs.select(col("id_a"), col("id_b")))
        .orderBy("id").limit(1000))
    after("x_dedup_groups")

    dump("x_dedup_canonical_before", {
      val pairs = oldPairs.select(col("id_a"), col("id_b"))
      val groups = Dedup.duplicateGroups(pairs)
      val scored = docs
        .join(groups.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
      Dedup.canonicalPerGroup(groups, "id", "group_id", scored, "doc_id", "q")
        .orderBy("group_id")
    })
    after("x_dedup_canonical")

    dump("x_split_audit_before", {
      val assigned = Sampling.split(docs, "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
      Sampling.splitLeakageAudit(assigned, "doc_id", "split", oldPairs)
        .orderBy("id_a", "id_b").limit(500)
    })
    after("x_split_audit")

    dump("x_leakage_split_before", {
      val groups = Dedup.duplicateGroups(oldPairs.select(col("id_a"), col("id_b")))
      Sampling.leakageSafeSplit(docs, "doc_id", groups,
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split")).orderBy("doc_id").limit(2000)
    })
    after("x_leakage_split")

    // ---- x_anomaly_mad: before = unshared median frame (the med
    // percentile aggregation planned twice, no ReusedExchange) ----
    val events = spark.table("events")
    dump("x_anomaly_mad_before", {
      val med = events.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("__med"))
      val withDev = events.join(med, "event_type")
        .withColumn("__adev", abs(col("value") - col("__med")))
      val madF = withDev.groupBy(col("event_type"))
        .agg(expr("percentile(__adev, 0.5)").as("__mad"))
      withDev.join(madF, "event_type")
        .where(col("__mad") > 0 && col("__adev") > lit(3.0) * 1.4826 * col("__mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("__med")) / (lit(1.4826) * col("__mad")), 4)
            .as("robust_z"))
        .orderBy("event_id").limit(500)
    })
    after("x_anomaly_mad")

    // ---- x_cooccurrence: before = basket-key self-join pair stage ----
    dump("x_cooccurrence_before", {
      val baskets = events
        .select(col("user_id").as("__u"), to_date(col("ts")).as("__d"),
          col("event_type").as("__t"))
        .distinct()
        .localCheckpoint()
      val nBaskets = baskets.select("__u", "__d").distinct().count().toDouble
      val perType = baskets.groupBy(col("__t")).agg(count(lit(1)).as("__n1"))
      val pairs = baskets.join(
          baskets.select(col("__u"), col("__d"), col("__t").as("__t2")),
          Seq("__u", "__d"))
        .where(col("__t") < col("__t2"))
        .groupBy(col("__t"), col("__t2")).agg(count(lit(1)).as("n_both"))
      pairs
        .join(perType.select(col("__t"), col("__n1").as("__na")), "__t")
        .join(perType.select(col("__t").as("__t2"), col("__n1").as("__nb")), "__t2")
        .select(col("__t").as("type_a"), col("__t2").as("type_b"), col("n_both"),
          round(col("n_both") / nBaskets, 6).as("support"),
          round(col("n_both").cast("double") / col("__na"), 6).as("confidence"),
          round((col("n_both").cast("double") / col("__na")) /
            (col("__nb") / nBaskets), 6).as("lift"))
        .orderBy("type_a", "type_b")
    })
    after("x_cooccurrence")

    // ---- minhash / simhash grouping: before = ungrouped kernels in
    // the declared compositions ----
    dump("x_dedup_minhash_before", {
      val p = Dedup.minhashNearDuplicatesUngrouped(docs, "doc_id", "text", threshold = 0.7)
      p.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b").limit(100)
    })
    after("x_dedup_minhash")

    dump("x_dedup_simhash_before", {
      val base = docs.select(col("doc_id"), col("text"))
        .where(graft.operators.TextAnalysis.tokenCount(col("text")) >= 75)
      val planted = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zqxwv")).as("text"))
      Dedup.simhashNearDuplicatesUngrouped(base.union(planted), "doc_id", "text",
        maxDistance = 5)
        .where(col("id_b") === col("id_a") + 100000)
        .select("id_a", "id_b").orderBy("id_a").limit(500)
    })
    after("x_dedup_simhash")

    // ---- perplexity grouping: before = ungrouped LM composition ----
    dump("x_perplexity_before",
      graft.operators.TextAnalysis.bigramPerplexityUngrouped(docs, "doc_id", "text")
        .orderBy("doc_id").limit(200))
    after("x_perplexity")

    // ---- moore_lewis / dsir grouping ----
    dump("x_moore_lewis_before",
      graft.operators.TextAnalysis.crossEntropyDiffUngrouped(
        docs, docs.where(col("lang") === "en"), "doc_id", "text")
        .orderBy("doc_id"))
    after("x_moore_lewis")
    dump("x_dsir_before",
      graft.operators.TextAnalysis.dsirWeightsWhereUngrouped(
        docs, col("lang") === "en", "doc_id", "text")
        .orderBy("doc_id"))
    after("x_dsir")

    spark.stop()
  }
}
