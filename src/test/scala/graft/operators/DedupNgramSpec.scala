package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential pins for the r19 exact-duplicate-grouped
  * [[Dedup.ngramJaccardPairs]]: the grouped kernel must be
  * SET-IDENTICAL to the pre-r19 ungrouped reference
  * ([[Dedup.ngramJaccardPairsUngrouped]]) on every corpus shape that
  * exercises a branch of the equivalence argument — duplicate groups,
  * cap-engaging posting lists, partially-capped within-group jaccard,
  * null ids, empty texts, and string ids. */
class DedupNgramSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(df: DataFrame, idCol: String = "id",
      n: Int = 2, threshold: Double = 0.5, maxPostings: Int = 500): Unit = {
    val a = Dedup.ngramJaccardPairs(df, idCol, "text", n, threshold, maxPostings)
    val b = Dedup.ngramJaccardPairsUngrouped(df, idCol, "text", n, threshold, maxPostings)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"grouped kernel diverged: grouped=${a.collect().toSeq.sortBy(_.toString)} " +
        s"ungrouped=${b.collect().toSeq.sortBy(_.toString)}")
  }

  test("duplicate-heavy corpus: grouped ≡ ungrouped, within-group pairs J=1") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"), // 3-way dup group
      (4L, "a b c d x"),                                       // near dup of the group
      (5L, "p q r s t"), (6L, "p q r s t"),                    // 2-way group
      (7L, "u v w x y")                                        // unique
    ).toDF("id", "text")
    assertSame(df)
    val out = Dedup.ngramJaccardPairs(df, "id", "text", n = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0 && out((1L, 3L)) == 1.0 && out((2L, 3L)) == 1.0)
    assert(out((5L, 6L)) == 1.0)
    assert(out.contains((1L, 4L)) && out((1L, 4L)) < 1.0)
  }

  test("maxPostings cap engages on summed MEMBER count, not group count") {
    // 4 copies share every bigram; maxPostings=3 < 4 members, so every
    // list is capped and NO pairs emerge — exactly the ungrouped
    // behavior (4-entry lists dropped), even though the grouped list
    // holds a single entry
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c")
    ).toDF("id", "text")
    assertSame(df, maxPostings = 3)
    assert(Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5, maxPostings = 3).count() == 0)
  }

  test("partially capped lists lower within-group jaccard below 1 identically") {
    // the duplicated pair (1,2) shares bigrams {a b, b c}; "a b" also
    // appears in 3,4,5 (list of 5 members > cap 4) so it drops and the
    // within-group jaccard falls to 1/(2+2-1) = 1/3 — both kernels must
    // agree on that sub-1 value (threshold 0.3 keeps it)
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"),
      (3L, "a b x"), (4L, "a b y"), (5L, "a b z")
    ).toDF("id", "text")
    assertSame(df, threshold = 0.3, maxPostings = 4)
    val out = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.3, 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((1L, 2L)) - 1.0 / 3.0) < 1e-12)
  }

  test("null ids occupy cap slots but never pair (both kernels)") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), "a b c"),
      (null.asInstanceOf[java.lang.Long], "a b c"),
      (java.lang.Long.valueOf(3L), "a b c")
    ).toDF("id", "text")
    assertSame(df)
    val ids = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 3L)))
  }

  test("empty and sub-n texts emit nothing; string ids order correctly") {
    val df = Seq(
      ("doc_b", "hello world foo"), ("doc_a", "hello world foo"),
      ("doc_c", ""), ("doc_d", ""), ("doc_e", "one")
    ).toDF("id", "text")
    assertSame(df, idCol = "id")
    val out = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("doc_a", "doc_b"))) // canonical string order, empties drop
  }

  test("fixture corpus (sf0.001): grouped ≡ ungrouped at query settings") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assertSame(docs, idCol = "doc_id", n = 3, threshold = 0.8)
  }

  // ---- minhash / simhash grouping (same equivalence argument) ----

  private lazy val dupCorpus = {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon eta"),   // near dup of group {1,2,3}
      (5L, "one two three four five six"),
      (6L, "one two three four five six"),
      (7L, "totally different words here entirely now"))
    base.toDF("id", "text")
  }

  test("minhash: grouped ≡ ungrouped on a duplicate-heavy corpus and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = Dedup.minhashNearDuplicates(df, id, "text", threshold = 0.5)
      val b = Dedup.minhashNearDuplicatesUngrouped(df, id, "text", threshold = 0.5)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"minhash grouped diverged on $id corpus")
    }
  }

  test("minhash grouped: maxBucketSize caps on summed member count") {
    // 5 copies of one text: every (band,bucket) holds 5 members > cap 4
    // → dropped in BOTH kernels, no pairs
    val df = (1L to 5L).map(i => (i, "aa bb cc dd ee ff gg")).toDF("id", "text")
    val cfg = Dedup.LshConfig(maxBucketSize = 4)
    assert(Dedup.minhashNearDuplicates(df, "id", "text", 0.5, cfg).count() == 0)
    assert(Dedup.minhashNearDuplicatesUngrouped(df, "id", "text", 0.5, cfg).count() == 0)
  }

  test("simhash: grouped ≡ ungrouped on a duplicate-heavy corpus and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = Dedup.simhashNearDuplicates(df, id, "text", maxDistance = 5)
      val b = Dedup.simhashNearDuplicatesUngrouped(df, id, "text", maxDistance = 5)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"simhash grouped diverged on $id corpus")
    }
  }

  test("bigramPerplexity: grouped ≡ ungrouped (weighted LM counts) on dups and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = TextAnalysis.bigramPerplexity(df, id, "text")
      val b = TextAnalysis.bigramPerplexityUngrouped(df, id, "text")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"perplexity grouped diverged on $id corpus")
    }
  }

  test("crossEntropyDiff: grouped ≡ ungrouped (both frames weighted) on dups and the fixture") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    for ((raw, tgt, id) <- Seq(
        (dupCorpus, dupCorpus.where(col("id") % 2 === 0), "id"),
        (fixture, fixture.where(col("lang") === "en"), "doc_id"))) {
      val a = TextAnalysis.crossEntropyDiff(raw, tgt, id, "text")
      val b = TextAnalysis.crossEntropyDiffUngrouped(raw, tgt, id, "text")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"crossEntropyDiff grouped diverged on $id corpus")
    }
  }

  test("dsirWeightsWhere: grouped ≡ ungrouped; filter value splits text-identical rows") {
    // ids 1-3 share a text but 1-2 pass the filter and 3 does not: the
    // (text, filter) group key must keep the target counts exact
    val df = Seq(
      (1L, "alpha beta gamma", true), (2L, "alpha beta gamma", true),
      (3L, "alpha beta gamma", false),
      (4L, "delta epsilon zeta", true), (5L, "eta theta iota", false)
    ).toDF("id", "text", "in_target")
    val a = TextAnalysis.dsirWeightsWhere(df, col("in_target"), "id", "text", buckets = 64)
    val b = TextAnalysis.dsirWeightsWhereUngrouped(df, col("in_target"), "id", "text", buckets = 64)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val c = TextAnalysis.dsirWeightsWhere(fixture, col("lang") === "en", "doc_id", "text")
    val d = TextAnalysis.dsirWeightsWhereUngrouped(fixture, col("lang") === "en", "doc_id", "text")
    assert(c.exceptAll(d).count() == 0 && d.exceptAll(c).count() == 0)
  }

  // ---- shared ExactGroups step: repeated ids and distinct-text inputs ----

  /** Multiset equality on collected rows: `exceptAll` over a
    * `dropDuplicates` input fails to bind in Spark 4.1.2's optimizer
    * (the rewritten `Deduplicate` aggregate loses an attribute the
    * `replicaterows` generator still references). */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val (ra, rb) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
    assert(ra == rb, s"$what diverged: grouped=$ra reference=$rb")
  }

  test("an id on two near-identical texts never pairs with itself") {
    // id 7 carries both texts; 5 shares the longer one, so the group
    // pair of the two texts expands [5, 7] × [7]
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq((5L, s"$words extra"), (7L, s"$words extra"), (7L, words),
      (9L, "unrelated words that share nothing with the rest at all"))
      .toDF("id", "text")
    val kernels = Seq(
      "ngram" -> (Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5),
        Dedup.ngramJaccardPairsUngrouped(df, "id", "text", 2, 0.5)),
      "minhash" -> (Dedup.minhashNearDuplicates(df, "id", "text", 0.5),
        Dedup.minhashNearDuplicatesUngrouped(df, "id", "text", 0.5)),
      "simhash" -> (Dedup.simhashNearDuplicates(df, "id", "text", maxDistance = 7),
        Dedup.simhashNearDuplicatesUngrouped(df, "id", "text", maxDistance = 7)))
    for ((name, (grouped, reference)) <- kernels) {
      val ids = grouped.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!ids.contains((7L, 7L)), s"$name emitted (7, 7)")
      assert(ids.toSet == Set((5L, 7L)), s"$name: ${ids.toSeq}")
      assertSameRows(grouped, reference, name)
    }
  }

  /** Whether `out`'s optimized plan groups on the text beyond its input:
    * an aggregate keyed on `text` other than `dropDuplicates`' own
    * (first-value) one, or a checkpointed group frame. */
  private def groupsText(out: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, First}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.LogicalRDD
    out.queryExecution.optimizedPlan.exists {
      case a: Aggregate =>
        a.groupingExpressions.exists(_.references.exists(_.name == "text")) &&
          a.aggregateExpressions.exists(_.exists {
            case _: First => false
            case _: AggregateFunction => true
            case _ => false
          })
      case r: LogicalRDD => r.output.exists(_.name == "__text")
      case _ => false
    }
  }

  test("distinct-text inputs skip the grouping and match every reference") {
    val raw = dupCorpus.union(Seq(
      (null.asInstanceOf[java.lang.Long], "alpha beta gamma delta epsilon theta"),
      (null.asInstanceOf[java.lang.Long], "a lone document with a null id"))
      .toDF("id", "text"))
    val persisted = Dedup.dedupExact(raw, "id", Seq("text")).persist()
    val dropped = raw.dropDuplicates("text")
    try {
      assert(groupsText(Dedup.ngramJaccardPairs(raw, "id", "text")),
        "a table-like input must still be grouped")
      for ((shape, in) <- Seq("dedupExact" -> persisted, "dropDuplicates" -> dropped)) {
        assert(in.where(col("id").isNull).count() == 2)
        val tgt = in.where(col("id") % 2 === 0)
        val kernels = Seq(
          "ngram" -> (Dedup.ngramJaccardPairs(in, "id", "text", 2, 0.5),
            Dedup.ngramJaccardPairsUngrouped(in, "id", "text", 2, 0.5)),
          "minhash" -> (Dedup.minhashNearDuplicates(in, "id", "text", 0.5),
            Dedup.minhashNearDuplicatesUngrouped(in, "id", "text", 0.5)),
          "simhash" -> (Dedup.simhashNearDuplicates(in, "id", "text", maxDistance = 5),
            Dedup.simhashNearDuplicatesUngrouped(in, "id", "text", maxDistance = 5)),
          "perplexity" -> (TextAnalysis.bigramPerplexity(in, "id", "text"),
            TextAnalysis.bigramPerplexityUngrouped(in, "id", "text")),
          "crossEntropyDiff" -> (TextAnalysis.crossEntropyDiff(in, tgt, "id", "text"),
            TextAnalysis.crossEntropyDiffUngrouped(in, tgt, "id", "text")),
          "dsir" -> (TextAnalysis.dsirWeightsWhere(in, col("id") % 2 === 0, "id", "text", 64),
            TextAnalysis.dsirWeightsWhereUngrouped(in, col("id") % 2 === 0, "id", "text", 64)))
        for ((name, (out, reference)) <- kernels) {
          assert(!groupsText(out), s"$name on $shape output grouped the text again")
          assertSameRows(out, reference, s"$name on $shape")
        }
      }
    } finally persisted.unpersist()
  }
}
