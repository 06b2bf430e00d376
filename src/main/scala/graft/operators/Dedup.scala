package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{hamming64, minhash_signature, simhash64}

/**
 * Deduplication operators for training-data pipelines (north-star
 * extension; BASELINE.json `north_star`).
 *
 * Scale design notes (100 TB):
 *  - Exact dedup is a hash aggregation on the dedup key — one shuffle,
 *    map-side partial aggregation; no driver-side state.
 *  - MinHash LSH: per-row signature (narrow), explode to `bands` rows per
 *    doc (bounded blowup, e.g. 16×), shuffle on (band, bucket), pair
 *    generation INSIDE each bucket only. Buckets larger than
 *    `LshConfig.maxBucketSize` (degenerate shingles — boilerplate) are
 *    DROPPED rather than allowed to produce O(n²) pairs; the recall
 *    loss is measurable via [[minhashDroppedBuckets]], not silent.
 *  - SimHash: 64-bit signature; banding the hash into 4×16-bit chunks
 *    guarantees recall for Hamming distance ≤ 3; one shuffle per table.
 *  - N-gram Jaccard verification joins only LSH candidate pairs, never
 *    all pairs.
 */
object Dedup {

  /** Word tokens, lowercased (shared tokenizer). */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Word n-gram shingles as strings ("w1 w2 w3") — single-pass custom
    * expression (see WordShingles scaladoc for the interpreted-HOF
    * pitfall it avoids). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.word_shingles(text, n)

  // ---------------------------------------------------------------- exact

  /** Groups of exact duplicates on `keyCols` (ref-style hash groupBy):
    * one row per duplicated value with its count and the minimal id. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))
      .where(col("dup_count") > 1)

  /** Keep exactly one row per key (the minimal id — deterministic,
    * unlike dropDuplicates' arbitrary winner). Implemented as a hash
    * aggregation (`min` on the id, `min_by` for the remaining columns)
    * rather than a row_number window: the aggregate gets MAP-SIDE partial
    * aggregation, so at scale duplicate rows collapse before the shuffle
    * instead of all travelling to the window sort (measured ~2× at
    * sf0.1; the gap widens with duplication rate). */
  def dedupExact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    require(others.contains(idCol), s"idCol $idCol must not be a dedup key")
    val aggs = others.map {
      case c if c == idCol => min(col(idCol)).as(idCol)
      case c => min_by(col(c), col(idCol)).as(c)
    }
    df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col): _*)
  }

  /**
   * Canonical-member selection for duplicate groups: instead of
   * [[dedupExact]]'s min-id survivor, keep the member that maximizes a
   * caller-supplied score (quality, length, recency) — the refinement
   * real curation pipelines want, since the first-crawled copy of a
   * page is often the worst one. Same map-side-combining hash aggregate
   * as [[dedupExact]] (`max_by` with an id tiebreak folded into the
   * score struct so the winner is deterministic under score ties), so
   * duplicates still collapse before the shuffle — never a window sort.
   *
   * `labels`: (idCol, groupCol) membership — exact-dup keys or the
   * near-dup connected-component labels from [[duplicateGroups]].
   * Output: one (groupCol, keep_id, score) row per group.
   */
  def canonicalPerGroup(labels: DataFrame, idCol: String, groupCol: String,
      scored: DataFrame, sIdCol: String, scoreCol: String): DataFrame = {
    val joined = labels.join(scored.select(col(sIdCol).as(idCol), col(scoreCol)), idCol)
    val idIsNumeric = joined.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    joined.groupBy(col(groupCol))
      .agg(pickTopByScore(col(idCol), idIsNumeric, col(scoreCol)).as("keep_id"),
        max(col(scoreCol)).as("score"))
  }

  /** Deterministic "id with the highest score, smallest id under ties"
    * aggregate for NUMERIC and STRING ids alike: struct comparison
    * orders by score first, id second. Negating the id only works for
    * numeric ids (a negated string silently casts to a NULL double /
    * ANSI error), so string ids negate the SCORE instead and take the
    * min — the score column is numeric by contract. Shared by
    * [[canonicalPerGroup]] and `Decontamination.semanticOverlaps` (one
    * implementation of the tie-break, so the two cannot drift). */
  private[operators] def pickTopByScore(id: Column, idIsNumeric: Boolean,
      score: Column): Column =
    if (idIsNumeric) max_by(id, struct(score, (-id).as("__nid")))
    else min_by(id, struct((-score).as("__ns"), id))

  // ------------------------------------------------------------- minhash

  /** Default banding (r18 optimization): 64 hashes / 16 bands = 4 rows
    * per band. Halving the signature from 128 hashes halves the
    * dominant per-shingle cost (the signature loop is the measured
    * hot spot of every minhash query), and at FIXED band count fewer
    * rows per band strictly RAISES per-pair recall at every Jaccard
    * level (1−(1−J^4)^16 > 1−(1−J^8)^16 for all J in (0,1)): a planted
    * J=0.8 duplicate's miss probability drops 0.053 → 2e-4. The price
    * is more low-J candidates reaching the exact-Jaccard verify
    * (per-band collision selectivity J^4 vs J^8), which the
    * maxBucketSize cap and the size-ratio prefilter bound. */
  final case class LshConfig(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      /** buckets larger than this are dropped (and counted) to bound the
        * pair explosion on degenerate content */
      maxBucketSize: Int = 1000,
      seed: Long = 42L) {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    def rowsPerBand: Int = numHashes / bands
  }

  /** doc → (band, bucket) pairs via banded MinHash signatures. The
    * banding happens INSIDE one expression (`minhash_buckets`) evaluated
    * once per row and fed straight into posexplode — see MinHashBuckets
    * scaladoc for why this beats signature + per-band projections. */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String, cfg: LshConfig = LshConfig()): DataFrame = {
    val buckets = graft.functions.minhash_buckets(
      shingles(col(textCol), cfg.shingleSize), cfg.numHashes, cfg.bands, cfg.seed)
    df.select(col(idCol).as("doc_id"), buckets.as("buckets"))
      .where(col("buckets").isNotNull)
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
  }

  /**
   * Diagnostic companion to the `maxBucketSize` cap: per band, how many
   * LSH buckets were DROPPED (size over the cap) and the largest bucket
   * seen, so the recall loss from degenerate boilerplate buckets is
   * measurable. Same (band, bucket) aggregate as
   * [[minhashCandidatePairs]] but counting only — run it when auditing
   * a corpus, not on every dedup pass.
   */
  def minhashDroppedBuckets(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame =
    minhashBuckets(df, idCol, textCol, cfg)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .where(col("n") > cfg.maxBucketSize)
      .groupBy("band")
      .agg(count(lit(1)).as("dropped_buckets"), max(col("n")).as("largest_bucket"))

  /**
   * Candidate near-duplicate pairs from MinHash LSH: documents sharing at
   * least one (band, bucket). Returns distinct (id_a < id_b) pairs.
   * Buckets over `cfg.maxBucketSize` are dropped (see
   * [[minhashDroppedBuckets]] to measure how many).
   */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String, cfg: LshConfig = LshConfig()): DataFrame =
    pairsFromBuckets(minhashBuckets(df, idCol, textCol, cfg), cfg)

  /**
   * Verified near-duplicates: LSH candidates filtered by exact shingle
   * Jaccard ≥ `threshold`. The exact check joins the (distinct-shingle)
   * sets back only for candidate pairs.
   */
  def minhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, cfg: LshConfig = LshConfig()): DataFrame =
    // handle-less convenience: the shared candidate-pair frame
    // materializes via LAZY localCheckpoint, whose blocks belong to the
    // RDD (GC-released), not the session CacheManager — so this overload
    // cannot leak session caches (the BENCH_r04 failure mode). Lineage
    // is truncated; production pipelines with a terminal action should
    // prefer [[minhashNearDuplicatesWithCleanup]] (lineage-preserving
    // persist + explicit release).
    minhashCore(df, idCol, textCol, threshold, cfg,
      d => d.localCheckpoint(eager = false))._1

  /**
   * [[minhashNearDuplicates]] plus a cleanup handle that unpersists the
   * internal candidate-pair cache. The cache is load-bearing (the member
   * id set must not re-run the LSH pipeline) but cannot be released from
   * inside a lazy composition; callers with a terminal action (pipelines,
   * benchmarks) should invoke the handle once the returned frame — and
   * everything derived from it — has been materialized. Leaked, these
   * caches accumulate across queries until eviction churn dominates
   * (BENCH_r04: 65s for a 2s pipeline).
   */
  def minhashNearDuplicatesWithCleanup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, cfg: LshConfig = LshConfig()): (DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    minhashCore(df, idCol, textCol, threshold, cfg,
      d => d.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /**
   * [[minhashNearDuplicates]] over a frame that ALREADY carries its
   * distinct-shingle array in `shCol` — the shared-tokenization form
   * for composed pipelines: the corpus is shingled ONCE and the same
   * arrays feed the LSH banding, the verify-side exact Jaccard, and
   * the caller's other shingle consumers (decontamination). Used by
   * `Pipelines.curationAudit`, whose shared projection feeds four
   * consumers; `curateCorpus` measured the OTHER way and keeps the
   * text form — see the round-13 A/B in COVERAGE.md before switching
   * either. Result-identical to the text form: MinHash is
   * duplicate-invariant, so distinct arrays band exactly like raw
   * shingles, and the verify side always used the distinct arrays
   * (the verify code is SHARED with the text form via
   * [[verifyByShingles]]; banding and the cap are per row, as in
   * [[minhashNearDuplicatesUngrouped]], via [[pairsFromBuckets]]).
   */
  def minhashNearDuplicatesPreShingled(
      df: DataFrame, idCol: String, shCol: String,
      threshold: Double = 0.8, cfg: LshConfig = LshConfig()): DataFrame = {
    val b = df.select(col(idCol).as("doc_id"),
        graft.functions.minhash_buckets(col(shCol), cfg.numHashes,
          cfg.bands, cfg.seed).as("buckets"))
      .where(col("buckets").isNotNull)
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
    val pairs = pairsFromBuckets(b, cfg)
      .localCheckpoint(eager = false) // shared by candIds + verify join
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val sh = df.join(candIds, df(idCol) === candIds("id"), "left_semi")
      .select(col(idCol).as("id"), col(shCol).as("sh"))
    verifyByShingles(pairs, sh, sh, threshold)
  }

  /** Bucket-capped candidate pairs from a (doc_id, band, bucket) frame —
    * the single implementation of the bucket-size cap and in-bucket pair
    * explosion, shared by the pre-shingled entry point and the
    * ungrouped reference. */
  private def pairsFromBuckets(b: DataFrame, cfg: LshConfig): DataFrame =
    b.groupBy("band", "bucket")
      .agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= cfg.maxBucketSize)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs against
    * the two sides' (id, sh: array<string>) distinct-shingle frames —
    * the single implementation of the size-ratio prefilter and the
    * intersection check, shared by every LSH entry point.
    * Length filter: J >= t needs size ratio >= t (see ngramJaccardPairs)
    * — skip the exact intersection for candidates that cannot pass. */
  private def verifyByShingles(pairs: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(shA.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(shB.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .where(size(col("sh_a")) >= size(col("sh_b")) * threshold &&
        size(col("sh_b")) >= size(col("sh_a")) * threshold)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Shared LSH-verify pipeline over [[ExactGroups]]; `share` decides
    * how the reused candidate-pair frame materializes (persist vs lazy
    * localCheckpoint — see the two public entry points). The bucket cap
    * compares Σ group sizes, and both the candidate pairs (shared:
    * ≈ dup-rate × corpus, so the verify side does not re-run the LSH
    * pipeline) and the exact-Jaccard verify are at group grain. */
  private def minhashCore(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, cfg: LshConfig,
      share: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    val groups = ExactGroups(df, idCol, col(textCol).as("__text"))
    val gb = groups.frame.select(col("gid"), col("g"),
        graft.functions.minhash_buckets(shingles(col("__text"), cfg.shingleSize),
          cfg.numHashes, cfg.bands, cfg.seed).as("buckets"))
      .where(col("buckets").isNotNull)
      .select(col("gid"), col("g"), posexplode(col("buckets")).as(Seq("band", "bucket")))
    val gpairs = share(ExactGroups.pairs(gb, Seq("band", "bucket"), Nil, cfg.maxBucketSize)
      .select(col("a.gid").as("id_a"), col("b.gid").as("id_b"))
      .distinct())
    // Verify-side shingles for CANDIDATE groups only: the semi join runs
    // before the shingle projection, so the exact-Jaccard check
    // re-tokenizes the (small) candidate set, not the whole corpus
    val candGids = gpairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val gsh = groups.frame.join(candGids, groups.frame("gid") === candGids("id"), "left_semi")
      .select(col("gid").as("id"),
        array_distinct(shingles(col("__text"), cfg.shingleSize)).as("sh"))
    (groups.expandPairs(verifyByShingles(gpairs, gsh, gsh, threshold)),
      () => { gpairs.unpersist(blocking = false); () })
  }

  /** The per-row MinHash pipeline, kept as the differential-testing
    * reference for [[minhashNearDuplicates]]. Not on any query path. */
  private[graft] def minhashNearDuplicatesUngrouped(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, cfg: LshConfig = LshConfig()): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, cfg).localCheckpoint(eager = false)
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val sh = df.join(candIds, df(idCol) === candIds("id"), "left_semi")
      .select(col(idCol).as("id"), array_distinct(shingles(col(textCol), cfg.shingleSize)).as("sh"))
    verifyByShingles(pairs, sh, sh, threshold)
  }

  /**
   * INCREMENTAL near-dedup: verified near-duplicate pairs between an
   * incoming batch and the existing corpus only — the production ingest
   * shape (each batch screens against the accumulated collection;
   * existing↔existing pairs were resolved when THEIR batches arrived, so
   * recomputing them would be both wasted work and wrong ownership).
   *
   * Scale: the existing side's (band, bucket) pairs are exactly what a
   * persisted LSH index stores, so at 100 TB this side is an INDEX READ,
   * not a corpus re-tokenization; the incoming batch (≪ corpus) is the
   * only text hashed per ingest. Candidates form inside (band, bucket)
   * intersections across the two sides, capped per bucket as usual, and
   * the exact-Jaccard verify re-tokenizes candidate members only.
   *
   * Output: (id_a = existing, id_b = incoming, jaccard) with exact
   * Jaccard ≥ threshold.
   */
  def incrementalNearDuplicates(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      cfg: LshConfig = LshConfig()): DataFrame =
    // handle-less convenience — lazy-localCheckpoint sharing, no session
    // cache entry; see [[minhashNearDuplicates]] for the tradeoff
    incrementalCore(existing, incoming, idCol, textCol, threshold, cfg,
      d => d.localCheckpoint(eager = false))._1

  /**
   * [[incrementalNearDuplicates]] plus a cleanup handle that unpersists
   * the internal candidate-pair cache, mirroring
   * [[minhashNearDuplicatesWithCleanup]] — library consumers with a
   * terminal action should invoke the handle once the returned frame has
   * been materialized (leaked caches accumulate across queries until
   * eviction churn dominates; see the BENCH_r04 regression note there).
   */
  def incrementalNearDuplicatesWithCleanup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      cfg: LshConfig = LshConfig()): (DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    incrementalCore(existing, incoming, idCol, textCol, threshold, cfg,
      d => d.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Shared incremental-LSH pipeline; `share` decides how the reused
    * candidate-pair frame materializes (see the two public entry points). */
  private def incrementalCore(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cfg: LshConfig, share: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    val be = minhashBuckets(existing, idCol, textCol, cfg)
      .withColumnRenamed("doc_id", "id_a")
    val bi = minhashBuckets(incoming, idCol, textCol, cfg)
      .withColumnRenamed("doc_id", "id_b")
    // bucket-size cap on the EXISTING side (the index side can degenerate;
    // the incoming batch is small by construction)
    val capped = be.groupBy("band", "bucket")
      .agg(collect_list("id_a").as("ids_a"), count(lit(1)).as("n"))
      .where(col("n") <= cfg.maxBucketSize)
    val pairs = share(capped.join(bi, Seq("band", "bucket"))
      .select(explode(col("ids_a")).as("id_a"), col("id_b"))
      .distinct())
    def memberShingles(df: DataFrame, side: String) = {
      val ids = pairs.select(col(side).as("id")).distinct()
      df.join(ids, df(idCol) === ids("id"), "left_semi")
        .select(col(idCol).as("id"),
          array_distinct(shingles(col(textCol), cfg.shingleSize)).as("sh"))
    }
    val out = verifyByShingles(pairs, memberShingles(existing, "id_a"),
      memberShingles(incoming, "id_b"), threshold)
    // the candidate cache stays alive while `out` is consumed (it is
    // referenced by three branches of the verify join); the cleanup
    // handle releases it once the caller has materialized the result
    (out, () => { pairs.unpersist(blocking = false); () })
  }

  /**
   * Duplicate GROUPS from a pair list: connected components of the
   * undirected near-duplicate graph, labeled by each component's minimum
   * id — the transitive closure a curation pipeline needs when A≈B and
   * B≈C but A and C never formed a pair ("keep one per group" instead of
   * pairwise loser-dropping).
   *
   * SIZE-ADAPTIVE strategy (same rationale as the driver-side IVF
   * centroids): the near-dup edge list is ≈ dup-rate × corpus, usually
   * orders of magnitude smaller than the corpus itself.
   *
   *  - Integral-id graphs at or below `smallGraphThreshold` edges
   *    collect to the driver (bounded: 2M edges ≈ 32 MB) and resolve
   *    with union-find in milliseconds — the iterative path pays
   *    several shuffle rounds of scheduler latency for the same answer.
   *  - Larger (or non-integral-id) graphs run distributed min-label
   *    propagation: every node starts as its own label; each round
   *    joins labels across edges and keeps the minimum (the simplified
   *    form of the large-star/small-star CC algorithm, Kiveris et al.,
   *    "Connected components in MapReduce and beyond", SoCC 2014).
   *    Rounds ≈ component diameter — near-dup clusters are shallow
   *    (stars around a template), so this converges in 2–4 rounds;
   *    `maxIter` bounds pathological chains. Each round is one shuffle
   *    of the EDGE list (≪ corpus); each round's label frame is
   *    `localCheckpoint`ed — iterative self-joins otherwise stack every
   *    previous round into one exponentially-growing logical plan (on a
   *    multi-node cluster, swap for `checkpoint()` on reliable storage).
   */
  def duplicateGroups(pairs: DataFrame, maxIter: Int = 20,
      smallGraphThreshold: Long = 2000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both directions via one explode — a self-union would evaluate the
    // (possibly expensive) pair pipeline twice before the persist lands
    val rawEdges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = rawEdges.count()
    val idType = pairs.schema("id_a").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val result =
      if (integralIds && nEdges <= smallGraphThreshold)
        unionFindGroups(rawEdges, idType)
      else distributedGroups(rawEdges, nEdges, maxIter)
    rawEdges.unpersist(blocking = false)
    result
  }

  /** Driver-side component labeling for small integral-id graphs:
    * union-find with path compression, then min-id per component. */
  private def unionFindGroups(
      rawEdges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = rawEdges.sparkSession
    import spark.implicits._
    val arr = rawEdges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    arr.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are already component minima (unions always point the larger
    // root at the smaller), so find(x) IS the min-id label
    val rows = parent.keys.toSeq.map(id => (id, find(id))).sortBy(_._1)
    rows.toDF("id", "group_id")
      .select(col("id").cast(idType).as("id"), col("group_id").cast(idType).as("group_id"))
  }

  /** Distributed min-label propagation (see [[duplicateGroups]] doc). */
  private def distributedGroups(rawEdges: DataFrame, nEdges: Long, maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // size-aware parallelism: iterating at the session's full shuffle
    // width pays per-round scheduler cost for nothing — one partition
    // per ~500k edges, capped by the session default for huge graphs
    val defaultParts = rawEdges.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(defaultParts.toLong, nEdges / 500000L + 1L)).toInt
    val edges = rawEdges.repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("group_id", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      // min label over self + neighbors; the previous label rides along
      // so convergence detection is one aggregate on the SAME frame
      // (not a second join-and-count job per round)
      val fromNbrs = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("group_id").as("nbr_min"))
      val next = labels.withColumnRenamed("group_id", "old")
        .join(fromNbrs, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr_min"), col("old"))).as("group_id"))
        .localCheckpoint(true)
      val nChanged = next.where(col("group_id") =!= col("old")).count()
      labels = next.select("id", "group_id")
      changed = nChanged > 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    labels.select(col("id"), col("group_id"))
  }

  /**
   * Per-document duplicated-span statistics: for each document, how many
   * of its distinct word `n`-gram spans also occur in at least one OTHER
   * document (the span-level duplication signal of Lee et al.,
   * "Deduplicating Training Data Makes Language Models Better", ACL 2022 —
   * their suffix-array ExactSubstr pass re-expressed as an inverted
   * n-gram index, the shape Spark can shuffle).
   *
   * Scale: two shuffles, no pair generation anywhere. (1) distinct
   * spans explode to postings keyed by xxhash64(span) — 8-byte shuffle
   * rows; the per-span document count is a map-side-combined aggregate
   * (each document contributes a span once, so `count(*)` IS the
   * document frequency). (2) spans with count ≥ 2 join back to the
   * postings (shuffle join on the same hash key) and a per-document
   * count aggregates the shared spans. Unlike the pair operators no
   * bucket can explode: a span shared by a million documents costs one
   * counter, not 10¹² pairs.
   */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // Empty/whitespace-only docs shingle to null — coalesce to an empty
    // array so they surface as a defined (n_spans=0, dup_span_frac=0.0)
    // row instead of nulls (and so the DuckDB oracle, whose string_split
    // CTE yields no spans for empty text, agrees).
    val sh = df.select(col(idCol).as("id"),
        coalesce(array_distinct(shingles(col(textCol), n)),
          array().cast("array<string>")).as("sh"))
      .withColumn("n_spans", size(col("sh")))
    val postings = sh.select(col("id"), col("n_spans"), explode(col("sh")).as("__span"))
      .select(col("id"), col("n_spans"), xxhash64(col("__span")).as("span"))
    val shared = postings.groupBy("span")
      .agg(count(lit(1)).as("span_docs"))
      .where(col("span_docs") >= 2)
      .select("span")
    val perDoc = postings.join(shared, "span")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    sh.select(col("id"), col("n_spans"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_span_frac",
        round(when(col("n_spans") <= 0, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_spans")), 4))
  }

  /**
   * Duplicated-span REMOVAL — the enforcement half of
   * [[duplicatedSpanStats]]: cut every token covered by a word n-gram
   * that appears in `minDocs`+ DISTINCT documents, and rebuild the text
   * from the surviving tokens in order. This is the ExactSubstr
   * discipline (Lee et al., "Deduplicating Training Data Makes
   * Language Models Better", ACL 2022) at word-n-gram granularity:
   * boilerplate fragments shorter than a line (the line-dedup pass
   * misses them) vanish from EVERY document instead of dropping whole
   * documents. Tokens are raw (case-sensitive) whitespace words;
   * documents with fewer than `n` tokens carry no spans and pass
   * through untouched.
   *
   * Output: (idCol, clean_text, n_removed) — one row per input
   * document, `n_removed` counting cut tokens.
   *
   * Scale: spans explode to one row per n-gram START (the
   * [[TextAnalysis.removeBoilerplateLines]] shape one level finer);
   * the doc-frequency aggregate is map-side combined and keyed on the
   * span hash. Covered positions never explode to rows: the matched
   * span STARTS aggregate per document into one array row
   * (duplication-doc-sized — one row per touched document), and the
   * rebuild is a single narrow projection — kept positions via
   * `array_except` (hash-set, O(tokens)) and O(1) `element_at` token
   * lookup — after ONE id-keyed join of the tokenized corpus against
   * that small frame. No token-level posexplode, no collect_list
   * reassembly sort, no persist: the whole operator is one DAG whose
   * only corpus-sized shuffles are the span aggregate and the final
   * join (which AQE turns into a broadcast when the touched frame is
   * small). Untouched documents pass through the same join as NULL
   * matches and emit their whitespace-normalized text unchanged.
   * (The r11 touched-docs-only rebuild measured 89.6s at 2M docs /
   * 50% touch but 5.2s at sf0.1 — the exploded covered-position
   * persist and fourfold tokenization dominated fixture scale; this
   * form removes both.)
   */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 2): DataFrame =
    spanRemovalPlan(df, idCol, textCol, n, minDocs, persistTokens = false)._1

  /**
   * [[removeDuplicatedSpans]] with the tokenized corpus projection
   * persisted so it is computed ONCE across the span-frequency and
   * rebuild subtrees (instead of twice), plus a cleanup handle the
   * caller MUST invoke after consuming the result — the
   * [[minhashNearDuplicatesWithCleanup]] discipline. Worth it when
   * tokenization dominates (very long documents) and executor storage
   * can hold the token arrays.
   */
  def removeDuplicatedSpansWithCleanup(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minDocs: Int = 2): (DataFrame, () => Unit) =
    spanRemovalPlan(df, idCol, textCol, n, minDocs, persistTokens = true)

  private def spanRemovalPlan(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int, persistTokens: Boolean): (DataFrame, () => Unit) = {
    require(n >= 1 && minDocs >= 2)
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val base0 = df.select(col(idCol), toks.as("__t"))
      .withColumn("__nt", size(col("__t")))
    val base =
      if (persistTokens) base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    // Per-doc span-hash array for every n-gram start; docs with < n
    // tokens emit none. The span key hashes the token-array SLICE
    // directly (xxhash64 over array<string>) — no n-gram string
    // concatenation (string building ran twice over the corpus at
    // force scale and dominated CPU).
    val spanArr = transform(sequence(lit(0), col("__nt") - n),
      i => xxhash64(slice(col("__t"), i + 1, lit(n))))
    val withSpans = base.where(col("__nt") >= n)
    // Doc frequency WITHOUT a distinct aggregate: spans dedupe
    // per-document NARROWLY (array_distinct), after which a plain
    // count ≡ countDistinct(doc) — one exchange keyed by span with
    // effective map-side combine on hot (boilerplate) spans, instead
    // of countDistinct's two-level (span, id)-then-(span) shuffle
    // that carried every occurrence to the wire.
    val shared = withSpans
      .select(explode(array_distinct(spanArr)).as("span"))
      .groupBy("span").agg(count(lit(1)).as("d"))
      .where(col("d") >= minDocs).select("span")
    val spans = withSpans
      .select(col(idCol), posexplode(spanArr).as(Seq("pos", "span")))
    // one row per TOUCHED document: its sorted distinct covered positions
    val coveredPerDoc = spans.join(shared, "span")
      .groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("__starts"))
      .select(col(idCol),
        array_sort(array_distinct(flatten(transform(col("__starts"),
          p => sequence(p, p + (n - 1)))))).as("__cov"))
    // Rebuild joins the RAW (id, text) projection — not the token
    // arrays — so when coveredPerDoc is too big for an AQE broadcast
    // and the corpus must shuffle, the shuffle carries compact strings
    // instead of array<string> rows (~40% fewer bytes), and the rebuild
    // side tokenizes once AFTER the join. Narrow per-row rebuild: kept
    // positions via array_except (hash-set, O(tokens)), O(1) element_at
    // token lookup; CASE branches evaluate lazily, so the touched arm
    // never sees a NULL __cov.
    // (persistTokens reuses the cached token arrays instead — the
    // tokenize-once promise of the WithCleanup variant)
    val joined =
      if (persistTokens)
        base.select(col(idCol), col("__t")).join(coveredPerDoc, Seq(idCol), "left")
      else
        df.select(col(idCol), col(textCol))
          .join(coveredPerDoc, Seq(idCol), "left")
          .select(col(idCol), toks.as("__t"), col("__cov"))
    val keptPos = array_except(sequence(lit(0), size(col("__t")) - 1), col("__cov"))
    val out = joined
      .select(col(idCol),
        when(col("__cov").isNull, array_join(col("__t"), " "))
          .otherwise(array_join(
            transform(keptPos, p => element_at(col("__t"), p + 1)), " "))
          .as("clean_text"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"))
    (out, () => { if (persistTokens) { base.unpersist(); () } })
  }

  // ------------------------------------------------------------- simhash

  /** Attach a 64-bit SimHash to each document. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String, seed: Long = 42L): DataFrame =
    df.select(col(idCol).as("doc_id"), simhash64(tokens(col(textCol)), seed).as("simhash"))

  /**
   * SimHash near-duplicate pairs with Hamming distance ≤ `maxDistance`.
   * Recall guarantee via pigeonhole banding: split the 64-bit hash into
   * `maxDistance + 1` chunks; any pair within the distance must agree on
   * at least one chunk exactly — bucket-join on (chunk index, chunk value)
   * then verify with the exact popcount. Hashing, banding and the verify
   * run per [[ExactGroups]] group; a group's (A, A) pair has distance 0.
   */
  def simhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val groups = ExactGroups(df, idCol, col(textCol).as("__text"))
    val banded = groups.frame
      .select(col("gid"), col("g"), simhash64(tokens(col("__text")), seed).as("simhash"))
      .select(col("gid"), col("g"), col("simhash"), simhashChunks(maxDistance).as("c"))
      .select(col("gid"), col("g"), col("simhash"), col("c.chunk"), col("c.value"))
    groups.expandPairs(
      ExactGroups.pairs(banded, Seq("chunk", "value"), Seq("simhash"), maxBucketSize)
        .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"),
          hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
        .where(col("hamming") <= maxDistance)
        .distinct())
  }

  /** One (chunk, value) row per pigeonhole chunk of `simhash`. */
  private def simhashChunks(maxDistance: Int): Column = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    explode(array((0 until chunks).map { i =>
      struct(lit(i).as("chunk"),
        shiftrightunsigned(col("simhash"), i * bits).bitwiseAND(lit((1L << bits) - 1)).as("value"))
    }: _*))
  }

  /** The pre-r19 UNGROUPED simhash pair pipeline, kept as the
    * differential-testing reference for [[simhashNearDuplicates]].
    * Not on any query path. */
  private[graft] def simhashNearDuplicatesUngrouped(
      df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val banded = withSimhash(df, idCol, textCol, seed)
      .select(col("doc_id"), col("simhash"), simhashChunks(maxDistance).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.value"))
    val grouped = banded.groupBy("chunk", "value")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxBucketSize)
    grouped
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .where(col("hamming") <= maxDistance)
      .distinct()
  }

  // ----------------------------------------------------- n-gram jaccard

  /**
   * Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
   * via an inverted shingle index (explode → self-join on shingle →
   * per-pair intersection counts). Quadratic only within shingle groups;
   * `maxPostings` caps degenerate shingles (stop-shingles) the same way
   * a text index drops stop words, on the member count Σg of each list.
   *
   * The index and the intersection counts are at [[ExactGroups]] grain.
   * A capped list drops a shingle for every member of a group, so a
   * within-group pair's jaccard falls below 1.0 exactly when the
   * ungrouped kernel's does, and the (A, A) pair reproduces it.
   */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxPostings: Int = 500): DataFrame = {
    val groups = ExactGroups(df, idCol, col(textCol).as("__text"))
    val gsh = groups.frame.select(col("gid"), col("g"),
        array_distinct(shingles(col("__text"), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // One shuffle: group the inverted index by shingle, cap the posting
    // list (stop-shingle guard), and generate pairs inside each list —
    // instead of window-count + self-join (two wide shuffles of the
    // full posting table). The group key is xxhash64 of the shingle, not
    // the string: shuffle rows shrink from ~n-gram-length bytes to 8 and
    // grouping compares longs (measured ~35% off the posting shuffle).
    // A 64-bit collision would merge two shingles' posting lists —
    // P ≈ m²/2⁶⁵ for m distinct shingles, negligible below ~10⁸ shingles
    // per corpus; pass a wider custom hash here before going past that.
    val postings = gsh.select(col("gid"), col("g"), col("n_sh"), explode(col("sh")).as("__shingle"))
      .select(col("gid"), col("g"), col("n_sh"), xxhash64(col("__shingle")).as("shingle"))
    // Length filter (guaranteed-safe prune, not a heuristic): with
    // na <= nb, J <= |A∩B|/nb <= na/nb, so J >= t forces
    // t*nb <= na (and symmetrically t*na <= nb). Pairs with
    // mismatched shingle-set sizes drop BEFORE the intersection
    // count aggregation ever sees them.
    groups.expandPairs(
      ExactGroups.pairs(postings, Seq("shingle"), Seq("n_sh"), maxPostings,
          col("a.n_sh") >= col("b.n_sh") * threshold,
          col("b.n_sh") >= col("a.n_sh") * threshold)
        .groupBy(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .where(col("jaccard") >= threshold)
        .select("gid_a", "gid_b", "jaccard"))
  }

  /** The pre-r19 UNGROUPED kernel, kept as the differential-testing
    * reference for [[ngramJaccardPairs]] (DedupNgramSpec asserts
    * set-identical output on duplicate-heavy, cap-engaging, and
    * null-id corpora). Not on any query path. */
  private[graft] def ngramJaccardPairsUngrouped(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxPostings: Int = 500): DataFrame = {
    val sh = df.select(col(idCol).as("id"), array_distinct(shingles(col(textCol), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val postings = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("__shingle"))
      .select(col("id"), col("n_sh"), xxhash64(col("__shingle")).as("shingle"))
    val lists = postings.groupBy("shingle")
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ps"))
      .where(size(col("ps")).between(2, maxPostings))
    lists
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .where(col("a.id") < col("b.id") &&
        col("a.n_sh") >= col("b.n_sh") * threshold &&
        col("b.n_sh") >= col("a.n_sh") * threshold)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
