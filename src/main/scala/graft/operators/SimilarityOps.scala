package graft.operators

import graft.Tables
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>` column). Baseline: brute-force cosine top-k for a
  * bounded query set (broadcast the queries, scan the corpus once).
  * Scale path: random-hyperplane LSH buckets so the corpus-side work is
  * a bucket-equi-join instead of queries×corpus.
  */
object SimilarityOps {

  /** Bucket-population cap for the embedding-LSH candidate joins, the
    * counterpart of the dedup family's band/chunk cap: a corpus with
    * mass-duplicated vectors (common in scraped data) concentrates them
    * into ONE bucket per table and the candidate join goes quadratic.
    * Unlike shingle buckets, sign buckets are only 2^nPlanes per table, so
    * an absolute cap would fire on perfectly healthy data — the cap is
    * relative to the EXPECTED uniform population instead:
    * `max(BucketCapFloor, ceil(BucketCapMult × N / 2^nPlanes))`. Measured
    * real-bucket skew on the testdata is ≤ 2.4× the mean (max/avg 207/125
    * at sf0.1), so 4× passes healthy corpora untouched while a duplicated
    * mass above ~3/16 of the corpus is dropped from the candidate join.
    * Over-cap buckets' members are near-exact duplicate clusters:
    * [[vectorExactDedup]] collapses those at linear cost (the same
    * contract as exact md5 dedup backstopping the text LSH caps), and at
    * scale `nPlanes` should grow with log₂(corpus/target-bucket-size)
    * anyway, which shrinks every population including the capped ones.
    */
  val BucketCapMult = 4.0
  val BucketCapFloor = 32L

  /** The scale recipe the scaladocs reference, as code: nPlanes sized so
    * the EXPECTED bucket population stays near `targetBucket` —
    * `log₂(n / targetBucket)` — which keeps the per-table bucket join
    * linear in corpus size (pairs/bucket ≈ targetBucket²/2, buckets ∝ n).
    * At a fixed nPlanes the join volume grows as n²/2^planes instead;
    * ScalingBench probes the planesFor-scaled configuration. Recall
    * trade: raising b = nPlanes lowers per-table hit probability q^b, so
    * nTables must rise to hold the same (1 − q^b)^L miss bound — the
    * production 4-plane configs are the oracle-gated operating points at
    * test scale, this function is the knob that moves with the corpus.
    */
  def planesFor(n: Long, targetBucket: Long = 32L): Int =
    math.min(62, math.max(4,
      math.ceil(math.log((n.toDouble / targetBucket).max(1.0)) / math.log(2.0)).toInt))

  /** The IVF-family counterpart of [[planesFor]]: a codebook SIZED to the
    * corpus — ⌈n / targetList⌉ lists — so the expected inverted-list
    * population stays near `targetList` as the corpus grows and
    * [[semanticDedup]]'s within-list pairwise is O(n · targetList)
    * instead of Σ|list|² at a fixed list count. The label codebook's
    * cardinality is a property of the DATA (10 here), not a knob: at 100×
    * data each label list grows 100×, pairwise cost 10,000× — this
    * function is the knob that moves with the corpus (SemDeDup's own
    * scaling argument: grow the cluster count, keep list sizes bounded).
    * Clamped to [2, 2²⁰]: the codebook is broadcast for assignment, so it
    * must stay executor-sized — at very large n pick `targetList` so k
    * lands near √n (the classic IVF split of work between the probe and
    * the list scan) rather than growing k without bound.
    */
  def kFor(n: Long, targetList: Long = 1000L): Int =
    math.min(1 << 20,
      math.max(2, math.ceil(n.toDouble / targetList.toDouble).toInt))

  /** The population cap as a broadcast 1-row frame computed from the
    * corpus inside the plan (same BNLJ-against-one-row shape as the
    * dedup df cap).
    */
  private[operators] def bucketCapFrame(emb: DataFrame, nPlanes: Int): DataFrame =
    // math.pow, not 1L << nPlanes: a Long shift at nPlanes >= 63 overflows
    // negative and the cap would silently degrade to the floor (and
    // planesFor is clamped to 62 for the same reason)
    emb.agg(greatest(lit(BucketCapFloor),
      ceil(count(lit(1)) * lit(BucketCapMult / math.pow(2.0, nPlanes))).cast("long"))
      .as("cap"))

  /** Drop (tbl, bucket) groups above the population cap — one window pass
    * on the SAME key the candidate join shuffles on, so the guard adds no
    * extra exchange.
    */
  private def popCapped(banded: DataFrame, capDf: DataFrame): DataFrame =
    banded
      .withColumn("pop",
        count(lit(1)).over(Window.partitionBy(col("tbl"), col("bucket"))))
      .join(broadcast(capDf), col("pop") <= col("cap"))
      .drop("pop", "cap")

  /** Exact-duplicate vector collapse: group by the embedding value itself,
    * keep the lowest vec_id — the linear-cost backstop for the capped LSH
    * paths, exactly as [[DedupOps.exactDedup]] backstops the text caps.
    * One shuffle with map-side partial agg; at scale, group by
    * `xxhash64(embedding)` instead to shrink the shuffle key (documented
    * trade: ~2⁻⁶⁴ collision odds).
    */
  def vectorExactDedup(spark: SparkSession, dir: String): DataFrame =
    vectorExactDedupDF(Tables.embeddings(spark, dir))

  def vectorExactDedupDF(emb: DataFrame): DataFrame =
    emb
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy(col("canonical_id"))

  /** Brute-force cosine top-k: the query side is a small, explicitly
    * bounded set → broadcast; the corpus is scanned exactly once and never
    * shuffled until the per-query top-k aggregation. Scores rounded to 4
    * decimals before ranking so ranking is reproducible across engines.
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5): DataFrame =
    bruteForceRanked(spark, dir, nQueries, k)
      .orderBy(col("query_id"), col("rk"))

  /** [[bruteForceTopK]] unsorted: left hash-partitioned on `query_id` by
    * its top-k window, for consumers that re-partition on the query id
    * anyway (q226's fusion).
    */
  private[graft] def bruteForceRanked(spark: SparkSession, dir: String,
      nQueries: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cachedBfScored(spark, dir, nQueries).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        col("rk"))
  }

  /** The exact query×corpus cosine grid `(query_id, vec_id, cos)`,
    * session-cached: `k` only moves the top-k cut, so the brute-force
    * baseline that SEVEN registry queries re-derive (q31 itself, q33's
    * exact side, q101/q190's recall referees, q145's rank-A side at
    * k=20, q115's negative band, q226's dense list) shuffles this one
    * persisted nQueries·|corpus|-row relation instead of re-scanning
    * the corpus through the fused cosine per action (guide §2.4). The
    * embedding columns are dropped before persisting — the grid is
    * 3 narrow columns, never vector payloads (guide §2.3).
    */
  private val bfScoredCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  private def cachedBfScored(spark: SparkSession, dir: String,
      nQueries: Int): DataFrame =
    SessionCaches.cached(bfScoredCache, (spark, dir, nQueries))({
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(Vectors.cosine(col("qv"), col("embedding")), 4).as("cos"))
        .persist()
    })

  /** Hard-negative mining (q115): for each query vector, the top-k
    * candidates whose cosine falls in the [lo, hi) band — similar enough
    * to be confusable, dissimilar enough to be true negatives. This is
    * the contrastive-training data miner (the triplet/InfoNCE negative
    * sampler); the band is applied to the 4dp-ROUNDED score so the
    * boundary is reproducible across engines (the q32 threshold rule).
    *
    * Plan: identical shape to [[bruteForceTopK]] — broadcast query side,
    * one corpus scan through the fused codegen cosine, band filter
    * BEFORE the per-query top-k shuffle (the band prunes ~95% of rows,
    * so the window input is small). At 100 TB swap the scan for any of
    * the ANN index paths (IVF/PQ) with the band as a post-filter —
    * mining composes with whatever index already exists.
    */
  def hardNegatives(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, lo: Double = 0.20, hi: Double = 0.45): DataFrame = {
    // the band is a filter over the same session-cached cosine grid the
    // brute-force family ranks (q115 shares q31's scan, guide §2.4)
    val scored = cachedBfScored(spark, dir, nQueries)
      .filter(col("cos") >= lo && col("cos") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  private[graft] def hardNegativesOn(emb: DataFrame, nQueries: Int,
      k: Int, lo: Double, hi: Double): DataFrame = {
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
      .filter(col("cos") >= lo && col("cos") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** LSH-bucketed ANN with AND-OR amplification: `nTables` independent
    * sign-bucket tables of `nPlanes` planes each (distinct plane seeds per
    * table); a corpus vector is a candidate when it shares a bucket with
    * the query in ANY table. Candidates then get exact cosine + per-query
    * top-k. Per-neighbor miss probability is (1 − q^b)^L where
    * q = 1 − θ/π — with b=4, L=32 that is ≈1% at cos 0.3, which is what
    * lets the recall gate (q33) hold ≥ 0.8 per query even on this
    * near-uniform synthetic corpus. At 100 TB, scale `nPlanes` with
    * log₂(corpus/target-bucket-size) and keep L for recall: the per-table
    * bucket join replaces the queries×corpus scan, which is the point —
    * brute force is a non-starter there.
    */
  def lshTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5, nPlanes: Int = 4,
      nTables: Int = 32): DataFrame =
    lshTopKDF(Tables.embeddings(spark, dir), nQueries, k, nPlanes, nTables)

  def lshTopKDF(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
      nPlanes: Int = 4, nTables: Int = 32): DataFrame = {
    val candidates = lshTopKCandidates(emb, nQueries, nPlanes, nTables)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Candidate stage of [[lshTopKDF]], exposed for the adversarial
    * boundedness spec. The CORPUS side of the bucket join is
    * population-capped ([[BucketCapMult]]); the query side is not — a
    * query whose bucket is over-cap in one table still probes its buckets
    * in the other tables, so the cap costs recall only for neighbors that
    * hide exclusively in degenerate buckets (mass-duplicate clusters,
    * which [[vectorExactDedup]] is for).
    */
  private[operators] def lshTopKCandidates(emb: DataFrame, nQueries: Int,
      nPlanes: Int, nTables: Int): DataFrame = {
    val tableBuckets = (0 until nTables).map { t =>
      // distinct deterministic hyperplanes per table: seed offset by table id
      struct(lit(t).as("tbl"),
        Vectors.lshBucket(col("embedding"), nPlanes, seed = 42L + t).as("bucket"))
    }
    val banded = emb
      .select(col("vec_id"), col("embedding"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.tbl"), col("tb.bucket"))
    val corpus = popCapped(banded, bucketCapFrame(emb, nPlanes))
    val queries = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    corpus.join(queries,
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("embedding"))
      .distinct()
  }

  /** q33 gate: recall@k of [[lshTopK]] against the exact [[bruteForceTopK]]
    * top-k, per query. Emits 1 when recall ≥ minRecall — the oracle expects
    * 1 for every query id, so an ANN recall regression is a hard hash
    * mismatch while still tolerating individual boundary-tie swaps.
    */
  def lshRecallGate(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, minRecall: Double = 0.8): DataFrame = {
    val exact = bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = lshTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact")
          >= minRecall).cast("int").as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** Brute-force top-k via the typed [[graft.functions.TopKAggregator]]
    * instead of a window sort: the bounded buffer merges map-side, so no
    * per-group full sort and fixed memory per group — the shape that wins
    * when groups are huge (SURVEY.md §7.3). Result-identical to
    * [[bruteForceTopK]] (same ordering contract), so it shares its oracle.
    */
  def topKViaAggregator(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5): DataFrame = {
    import spark.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        struct(col("vec_id").as("id"),
          round(Vectors.cosine(col("qv"), col("embedding")), 4).as("score")).as("s"))
      .as[(Long, ScoredId)]
    val agg = new TopKAggregator(k).toColumn
    scored.groupByKey(_._1).mapValues(_._2).agg(agg.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast("int").as("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Session-cached [[labelCentroids]] — the coarse codebook is a
    * corpus-scale aggregation with MANY consumers (assignment crossJoin,
    * probe selection, residual join, centroid pseudo-queries …; q88
    * alone reads it four times per action, and exchange reuse does not
    * fire across separate broadcasts), so every (session, dir) pays the
    * corpus pass exactly once.
    */
  private val labelCentroidsCache =
    SessionCaches.newCache[(SparkSession, String)]()

  private[operators] def labelCentroidsCached(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(labelCentroidsCache, (spark, dir))(
      labelCentroids(Tables.embeddings(spark, dir)).persist())

  /** Per-label centroid vectors (label, cv): per-dim mean via posexplode →
    * groupBy (rounded at 6dp for cross-engine stability) — the coarse
    * codebook shared by [[centroidAssign]] and the IVF path ([[ivfTopK]]).
    */
  private[operators] def labelCentroids(emb: DataFrame): DataFrame = {
    val dims = emb.select(col("label"), col("vec_id"),
      posexplode(col("embedding")).as(Seq("d", "x")))
    val cent = dims.groupBy(col("label"), col("d"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
    cent.groupBy(col("label").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
  }

  /** Deterministic corpus-sized coarse codebook — [[kFor]]'s companion:
    * the k lowest-`md5(vec_id || "_" || seed)` vectors become the
    * centroids (a seeded uniform sample, i.e. the k-means init step; at
    * scale, run Lloyd iterations over it with [[ivfAssign]] + a per-list
    * mean — that moves the centroids but not any plan shape here). The
    * sampling hash is md5 over the same string both engines build — not
    * xxhash64, which DuckDB lacks — so the sized pipeline is cell-exact
    * replicable in SQL (the q80 gate). The selection is a distributed
    * TakeOrdered top-k, never a full sort; the window that numbers the
    * centroids runs over only k rows. Output schema matches
    * [[labelCentroids]] (`(clabel, cv)`, cv in double), so every IVF
    * consumer takes either codebook unchanged.
    */
  private[operators] def sampledCentroids(emb: DataFrame, k: Int,
      seed: Long = 7L): DataFrame = {
    val picked = emb
      .select(col("vec_id"), col("embedding"),
        md5(concat(col("vec_id").cast("string"), lit("_"),
          lit(seed.toString))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
    val w = Window.orderBy(col("h"), col("vec_id"))
    picked.withColumn("clabel", row_number().over(w).cast("long"))
      .select(col("clabel"), col("embedding").cast("array<double>").as("cv"))
  }

  /** One Lloyd refinement step over a codebook: re-assign every vector to
    * its argmax-cosine centroid ([[ivfAssign]]), then recompute each
    * centroid as the per-dimension mean of its assigned vectors (6dp,
    * the [[labelCentroids]] rounding, so chained steps stay cross-engine
    * stable). A list that loses every member disappears — standard Lloyd
    * without re-seeding; [[kFor]] callers re-seed by re-sampling if k
    * must be held. Shapes: the corpus is shuffled once per step
    * (posexplode → per-(list, dim) partial agg); the codebook stays a
    * broadcast — iteration count is a constant, so the whole refinement
    * is O(iters · n) with no driver-side state.
    */
  private[operators] def lloydStep(emb: DataFrame, cvec: DataFrame): DataFrame = {
    val assigned = ivfAssign(emb, cvec)
    assigned.select(col("ivf_list"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("ivf_list"), col("d"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .groupBy(col("ivf_list").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
  }

  /** k-means codebook refinement (q76): `iters` Lloyd steps from the
    * label codebook, then a per-cluster summary of the refined
    * clustering — member count and mean member→centroid cosine (the
    * spherical k-means objective, 4dp). This is how the IVF/SemDeDup
    * codebook is actually built at scale (SemDeDup clusters with k-means;
    * the label/sampled codebooks are its init step): each iteration is
    * one corpus shuffle, the codebook never leaves broadcast range, and
    * the iteration count is a fixed constant — no convergence loop on
    * the driver deciding from collected data.
    *
    * Gate: the ENTIRE chain — init codebook, `iters` × (argmax
    * re-assignment + 6dp mean update), final assignment + 4dp objective —
    * is replicated in DuckDB SQL and compared cell-exact (the q70
    * contract; recall-style claims are not available on structure-free
    * synthetic embeddings).
    */
  /** Session cache for the refined codebook: k rows, but its lineage is
    * `iters` full-corpus shuffles and it has two consumers with DIFFERENT
    * broadcast modes (the BHJ summary join hashes it, ivfAssign's BNLJ
    * crossJoin broadcasts it identity-mode), so ReuseExchange cannot
    * deduplicate them — uncached, every action ran the whole Lloyd chain
    * twice. Registry-routed like every session persist.
    */
  private val kmCodebookCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  def kMeansRefine(spark: SparkSession, dir: String,
      iters: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cvec = SessionCaches.cached(kmCodebookCache, (spark, dir, iters)) {
      var cv = labelCentroids(emb)
      for (_ <- 1 to iters) cv = lloydStep(emb, cv)
      cv.persist()
    }
    kMeansSummary(emb, cvec)
  }

  /** Same contract for [[kMeansRefineSized]]'s refined codebook, keyed by
    * the list count as well.
    */
  private val kmCodebookSizedCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  /** [[kMeansRefine]] seeded from the [[kFor]]-sized md5 sample instead
    * of the label codebook — the ACTUAL 100 TB codebook build (SemDeDup /
    * IVF cluster with k-means from a uniform sample; labels don't exist
    * at scale), and the q81 oracle gate: the ENTIRE chain — self-sized
    * md5 sample, `iters` × (argmax re-assignment at 4dp + 6dp mean
    * update), final assignment + per-cluster spherical objective — is
    * replicated in DuckDB SQL cell-exact, the same unrolled
    * lloydAsgCte/lloydCentCte bodies as q76 seeded with q80's sample
    * CTE. Plan shape is identical to [[kMeansRefine]]: one corpus
    * shuffle per iteration, codebook always broadcast, no driver
    * convergence loop.
    */
  def kMeansRefineSized(spark: SparkSession, dir: String,
      targetList: Long = 1000L, iters: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val kLists = kFor(emb.count(), targetList)
    val cvec = SessionCaches.cached(
      kmCodebookSizedCache, (spark, dir, iters, kLists)) {
      var cv = sampledCentroids(emb, kLists)
      for (_ <- 1 to iters) cv = lloydStep(emb, cv)
      cv.persist()
    }
    kMeansSummary(emb, cvec)
  }

  /** Final assignment + per-cluster summary (member count, mean
    * member→centroid cosine at 4dp — the spherical k-means objective)
    * over a refined codebook; shared by both refinement operating points.
    */
  private def kMeansSummary(emb: DataFrame, cvec: DataFrame): DataFrame =
    ivfAssign(emb, cvec)
      .join(broadcast(cvec), col("ivf_list") === col("clabel"))
      .withColumn("cos", round(Vectors.cosine(col("embedding"), col("cv")), 4))
      .groupBy(col("ivf_list"))
      .agg(count(lit(1)).as("n_members"), round(avg(col("cos")), 4).as("avg_cos"))
      .orderBy(col("ivf_list"))

  /** Per-label centroids + nearest-centroid assignment (one k-means-style
    * assignment step over the labeled embeddings): assignment = argmax
    * cosine over the broadcast centroids.
    */
  def centroidAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cvec = labelCentroidsCached(spark, dir)
    // struct-min argmax (r18, the ivfAssign rewrite): collapse the k
    // candidates per vector map-side instead of shuffling corpus×k
    // rows into a rank-1 window
    e.crossJoin(broadcast(cvec))
      .withColumn("cos", round(Vectors.cosine(col("embedding"), col("cv")), 4))
      .groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("clabel"),
        struct((-col("cos")).as("nc"), col("clabel"))).as("assigned_label"))
      .groupBy(col("label"), col("assigned_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned_label"))
  }

  /** Corpus → inverted lists: argmax-cosine centroid assignment over the
    * broadcast codebook, one row per vector — shared by [[ivfTopK]] and
    * the SemDeDup-style [[semanticDedup]].
    *
    * r18 (guide §2.3 "aggregate before you shuffle"): the argmax used
    * to be a rank-1 window over the corpus×k crossJoin — shuffling
    * k·|corpus| rows (embedding payload included) by vec_id and
    * sorting each group just to keep one row. `min_by` over
    * `struct(-ccos, clabel)` is the same winner — negation is an exact
    * order-reversing bijection on rounded non-NaN doubles
    * (Double.compare treats −0.0 < 0.0 consistently on both sides of
    * the negation), ties fall to the smaller clabel exactly like the
    * old `(ccos DESC, clabel ASC)` rank. NaN is the one exception:
    * negation maps it to itself, and Spark orders NaN above every
    * number, so a NaN score (only a NaN element yields one — a zero
    * norm scores 0.0) loses to every real score where the old rank
    * would have picked it, and an all-NaN vector ties on every
    * candidate and takes the smallest clabel (EdgeCaseSpec pins both,
    * for [[centroidAssign]] too). It is a DeclarativeAggregate:
    * map-side partial aggregation collapses each vector's k candidate
    * rows inside the scan partition, so the one shuffle moves |corpus|
    * rows, ÷k bytes, and the per-group sort disappears entirely.
    */
  private[operators] def ivfAssign(emb: DataFrame, cvec: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cvec))
      .withColumn("ccos", round(Vectors.cosine(col("embedding"), col("cv")), 4))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("embedding"), col("clabel")),
        struct((-col("ccos")).as("nc"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.clabel").as("ivf_list"))

  /** IVF list-balance report (q194): list count, corpus size, min/max
    * list sizes and the integer imbalance ratio (max·lists·1000 div
    * vecs = 1000·max/mean) of the inverted index — the load-skew
    * diagnostic for ANN serving: a 10× imbalance means the hot list
    * bounds probe latency regardless of nprobe, and re-clustering (q76)
    * or splitting is due. One assignment pass, one k-row rollup.
    */
  def ivfListBalance(spark: SparkSession, dir: String): DataFrame =
    ivfAssign(Tables.embeddings(spark, dir),
        labelCentroidsCached(spark, dir))
      .groupBy(col("ivf_list")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_lists"), sum(col("sz")).as("n_vecs"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"))
      .select(col("n_lists"), col("n_vecs"), col("min_size"),
        col("max_size"),
        expr("(max_size * n_lists * 1000) div n_vecs")
          .as("imbalance_x1000"))

  /** IVF-style ANN top-k — the OTHER classic scale path next to LSH
    * ([[lshTopK]]): a coarse quantizer (the label centroids) partitions
    * the corpus into inverted lists; each query scores only the lists of
    * its `nProbe` nearest centroids instead of the whole corpus. Shapes:
    * the codebook is tiny → broadcast twice (corpus assignment + query
    * probe selection); the only corpus shuffle is the equi-join on the
    * assigned centroid id. Expected scan fraction ≈ nProbe/k per query —
    * at 100 TB, k grows with corpus size ([[kFor]] is that knob as code;
    * [[ivfTopKSized]] runs it) and the inverted lists become the
    * partitioning key, so a query touches a bounded slice of the corpus
    * regardless of n.
    *
    * Gate (q70): the ENTIRE pipeline — centroid codebook, argmax
    * assignment, probe selection, probed top-k — is replicated in DuckDB
    * SQL and compared cell-exact. A recall-vs-exact gate (the q33
    * contract) is deliberately NOT used here: the synthetic embeddings
    * carry no label-cosine structure (measured within-label avg cos
    * 0.002 vs cross-label 0.0006), so centroid probing on THIS corpus is
    * an honest uniform sample (recall ≈ nProbe/k — measured 15/40 at
    * nProbe=2 of 10). On real clustered embeddings the same mechanism
    * concentrates recall; claiming that here would gate a property the
    * data cannot exhibit.
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, nProbe: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopKOn(emb, labelCentroidsCached(spark, dir), nQueries, k, nProbe)
  }

  /** ANN recall@k evaluation (q101): per query, how many of the probed
    * IVF index's top-k ([[ivfTopK]]) appear in the exact brute-force
    * top-k ([[bruteForceTopK]]) — THE metric an ANN deployment monitors
    * (every index knob trades recall for probe cost; this operator is
    * the measurement side of that trade).
    *
    * Scale shape: both inputs are already per-query top-k relations
    * (nQueries·k rows — broadcast scale regardless of corpus size), so
    * the intersection is a broadcast left_semi join and the per-query
    * count a tiny aggregate; the corpus-scale work happens once inside
    * the two inputs, whose plans are their own operators' contract. The
    * left join from the distinct query list keeps 0-overlap queries in
    * the output (a recall report that silently drops its failures is
    * not a recall report).
    *
    * Parity: n_hits is an integer; recall is ONE division by the
    * constant k, rounded 4dp — no sum ordering anywhere.
    */
  def annRecall(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5): DataFrame = {
    val bf = bruteForceTopK(spark, dir, nQueries, k)
    val iv = ivfTopK(spark, dir, nQueries, k)
    val hits = iv
      .join(broadcast(bf.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    bf.select(col("query_id")).distinct()
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / lit(k.toDouble), 4))
      .orderBy(col("query_id"))
  }

  /** Binary (sign-bit) quantization + Hamming top-k (q102): each 64-dim
    * vector compresses to TWO longs (bit i of the low/high word = sign
    * of component i / i+32), and neighbors rank by Hamming distance
    * `bit_count(lo ⊕ lo') + bit_count(hi ⊕ hi')` — the cheapest
    * re-rankable ANN code there is (32× smaller than float32, distance
    * in ~4 instructions), the binary-quantization path modern vector
    * stores ship next to PQ.
    *
    * Scale shape: packing is a row-local map (64-element fold, one pass,
    * same bounded-HOF budget as [[PcaOps]]); the packed corpus is 16
    * bytes/vector + id, so the scored scan moves integers only, the
    * query side is explicitly broadcast, and the per-query top-k is the
    * standard window — corpus scanned once, shuffled only for the final
    * nQueries·k rows. At 100 TB the packed representation IS the index:
    * a full Hamming scan reads 1/32nd of the raw bytes, and the codes
    * compose with any bucketing upstream.
    *
    * Parity: pure integer end to end (no FP anywhere — sign bits, XOR,
    * popcount); ranking (hamming ASC, vec_id) is total, so LIMIT k is
    * deterministic on both engines.
    */
  /** IVF probe-recall curve (q190): aggregate recall@k at nprobe ∈
    * {1, 2, 4} against the exact brute-force top-k — the operating-
    * point curve behind every IVF deployment decision (q101 measures
    * ONE point; this sweeps the probe knob so the recall-vs-scan-cost
    * trade is visible as data). One brute-force pass is shared by all
    * points; each point re-probes the same cached centroid index, so
    * the added cost per point is the probed-lists scan only.
    *
    * Parity: total hits are integers; recall is one division by the
    * constant nQueries·k, rounded 4dp.
    */
  def probeRecallCurve(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5,
      probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val bf = bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    probes.map { np =>
      ivfTopK(spark, dir, nQueries, k, np)
        .select(col("query_id"), col("neighbor_id"))
        .join(broadcast(bf), Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).as("nprobe"), col("n_hits"),
          round(col("n_hits").cast("double") /
            lit((nQueries * k).toDouble), 4).as("recall_at_k"))
    }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
  }

  def binaryHammingTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5): DataFrame =
    binaryHammingTopKDF(Tables.embeddings(spark, dir), nQueries, k)

  private[graft] def binaryHammingTopKDF(emb: DataFrame, nQueries: Int = 8,
      k: Int = 5): DataFrame = {
    def packBits(lo: Int): Column = expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, i) -> acc | IF(element_at(embedding, i + $lo + 1) >
         |    CAST(0 AS FLOAT), shiftleft(1L, i), 0L))""".stripMargin)
    val coded = emb.select(col("vec_id"),
      packBits(0).as("b_lo"), packBits(32).as("b_hi"))
    val queries = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("b_lo").as("q_lo"), col("b_hi").as("q_hi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    coded
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(expr("b_lo ^ q_lo")) + bit_count(expr("b_hi ^ q_hi")))
          .cast("int"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Rank-correlation report between two ANN rankings (q145): Kendall
    * tau over the COMMON neighbors of the exact cosine top-k (q31) and
    * the 64-bit sign-sketch Hamming top-k (q102), per query — the
    * index-quality diagnostic that says how much ordering the binary
    * compression loses, not just how much recall (q101's question).
    *
    * All counting is integer (concordant/discordant pairs over common
    * items under a total order); tau is one division + 4dp round. The
    * pair stage is k²-bounded per query — never corpus-sized.
    */
  def rankCorrelation(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 20): DataFrame = {
    val a = bruteForceTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("ra"))
    val b = binaryHammingTopK(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("rb"))
    // common feeds THREE consumers (both self-join sides + the n_common
    // denominator); un-materialized, each one re-runs BOTH top-k
    // pipelines (exact + Hamming) — 3 corpus passes each. nQueries·k
    // rows at most.
    val common = a.join(b, Seq("query_id", "neighbor_id"))
      .localCheckpoint(eager = false)
    val p = common.as("x").join(common.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.neighbor_id") < col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        ((col("x.ra") - col("y.ra")) * (col("x.rb") - col("y.rb")) > 0)
          .as("conc"))
    p.groupBy(col("query_id"))
      .agg(sum(when(col("conc"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("conc"), 0L).otherwise(1L)).as("discordant"))
      .join(common.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common")), "query_id")
      .filter(col("n_common") >= 2)
      .select(col("query_id"), col("n_common"), col("concordant"),
        col("discordant"),
        round((col("concordant") - col("discordant")).cast("double") /
          (col("n_common") * (col("n_common") - 1) / 2).cast("double"), 4)
          .as("tau"))
      .orderBy(col("query_id"))
  }

  /** [[ivfTopK]] with the corpus-sized [[sampledCentroids]] codebook —
    * the 100 TB configuration ([[kFor]] picks `kLists`): probe cost per
    * query is nProbe · n/kLists, bounded as the corpus grows because the
    * list count grows with it. The label-codebook [[ivfTopK]] stays the
    * oracle-gated operating point (q70 replicates its full pipeline in
    * SQL); this variant is spec- and ScalingBench-gated.
    */
  def ivfTopKSized(spark: SparkSession, dir: String, kLists: Int,
      nQueries: Int = 8, k: Int = 5, nProbe: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopKOn(emb, sampledCentroids(emb, kLists), nQueries, k, nProbe)
  }

  /** [[ivfTopKSized]] at the [[kFor]] operating point, as one call —
    * the configuration that actually runs at 100 TB (kLists grows with
    * the corpus so probe cost per query stays bounded), and the q80
    * oracle gate: the ENTIRE sized pipeline — md5-seeded centroid
    * sample, argmax assignment, probe selection, probed top-k — is
    * replicated in DuckDB SQL cell-exact, exactly as q70 gates the
    * label-codebook operating point. The count here is one aggregation
    * used only to size the knob; the SQL sizes itself with the same
    * `greatest(2, ceil(n / targetList))` formula.
    */
  def ivfTopKAuto(spark: SparkSession, dir: String,
      targetList: Long = 1000L, nQueries: Int = 8, k: Int = 5,
      nProbe: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopKOn(emb, sampledCentroids(emb, kFor(emb.count(), targetList)),
      nQueries, k, nProbe)
  }

  private[operators] def ivfTopKOn(emb: DataFrame, cvec: DataFrame,
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val assigned = ivfAssign(emb, cvec)
    // queries → probe lists: the nProbe nearest centroids each
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("clabel"))
    val probes = queries.crossJoin(broadcast(cvec))
      .withColumn("ccos", round(Vectors.cosine(col("qv"), col("cv")), 4))
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nProbe)
      .select(col("query_id"), col("qv"), col("clabel").as("ivf_list"))
    // probe join: corpus side touched only where its list is probed.
    // probes is nQueries·nProbe rows → broadcast, so the corpus-sized
    // assignment never shuffles here at all (without the hint the tiny
    // derived frame defeats size estimation and this lands as a
    // SortMergeJoin that shuffles the WHOLE corpus on ivf_list — caught
    // by the q80 plan pin); only the probed survivors shuffle, for the
    // per-query top-k window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("ivf_list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }


  /** SemDeDup-style semantic dedup (q75): partition the corpus into the
    * IVF inverted lists (the k-means-cluster stand-in), then drop every
    * vector that has a smaller-id neighbor at cosine ≥ `threshold` WITHIN
    * its list. Pairwise cost is per-list (Σ|list|²/2, never corpus²) —
    * SemDeDup's own scaling argument: grow the cluster count with the
    * corpus so list sizes stay bounded ([[kFor]] + [[semanticDedupSized]]
    * are that argument as code); cross-list near-dups are the method's
    * documented recall loss, not a bug here. Output: every vector with
    * its list and kept/dropped verdict, cell-exact vs the oracle's
    * replication of assignment + within-list pairing.
    */
  /** Session-scoped cache for the persisted IVF assignment — read three
    * times per [[semanticDedup]] evaluation (both pair sides + the
    * kept/dropped join) and the subtree is a corpus-scale crossJoin +
    * argmax window. Routed through [[SessionCaches]] so
    * `clearSessionCaches` releases it (a bare per-call persist is the
    * leak class the registry exists to prevent).
    */
  private val ivfAssignCache = SessionCaches.newCache[(SparkSession, String)]()

  /** Same contract for [[semanticDedupSized]]'s assignment, keyed by the
    * codebook size as well (different k ⇒ different assignment plan).
    */
  private val ivfAssignSizedCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** Inverted-list population cap for the within-list pairwise stage, the
    * IVF counterpart of the LSH [[BucketCapMult]] guard: relative to the
    * EXPECTED uniform list population n/k — `max(32, ceil(4n/k))` — so
    * healthy assignments (measured list skew ≤ ~2× the mean on the
    * testdata's 10 near-uniform lists) pass untouched, while a
    * mass-duplicated cluster that swallows a list cannot send the
    * pairwise join quadratic. `k` must be the CODEBOOK cardinality, not
    * `countDistinct(ivf_list)` of the assignment: in the degenerate case
    * (everything assigned to one list) the assigned-distinct count is 1
    * and a cap derived from it would never fire — exactly when it must.
    */
  val ListCapMult = 4.0
  val ListCapFloor = 32L

  /** Assignment + list populations + the in/over-cap verdict. `kDf` is a
    * 1-row `(k)` frame carrying the codebook cardinality. Populations are
    * a k-row broadcast aggregate, NOT a window over ivf_list: the capped
    * frame is consumed three times (both pair sides + the verdict join)
    * and exchange reuse does not fire across separate reads of the cached
    * assignment, so a window formulation re-shuffled the full corpus once
    * per consumer (measured: 6 ivf_list exchanges at sf0.001) — the
    * broadcast tag costs the corpus no shuffle at all; the pairwise join
    * keeps the only corpus-scale ivf_list exchange. `listCap` overrides
    * the corpus-relative default (spec use only).
    */
  private[operators] def semanticCapped(assigned: DataFrame, kDf: DataFrame,
      listCap: Long = DedupOps.CapFromDf): DataFrame = {
    val capDf =
      if (listCap == DedupOps.CapFromDf)
        assigned.agg(count(lit(1)).as("n")).crossJoin(broadcast(kDf))
          .select(greatest(lit(ListCapFloor),
            ceil(col("n") * lit(ListCapMult) / col("k"))).cast("long").as("cap"))
      else assigned.sparkSession.range(1).select(lit(listCap).as("cap"))
    val pops = assigned.groupBy(col("ivf_list")).agg(count(lit(1)).as("pop"))
    assigned
      .join(broadcast(pops), Seq("ivf_list"))
      .crossJoin(broadcast(capDf))
      .withColumn("in_cap", col("pop") <= col("cap"))
      .select(col("vec_id"), col("embedding"), col("ivf_list"), col("in_cap"))
  }

  /** Within-list candidate pairs over the in-cap lists only — exposed for
    * the adversarial boundedness spec (the pre-cosine volume is the thing
    * the cap bounds: ≤ cap²/2 per list, O(n · cap) total).
    */
  private[operators] def semanticListPairs(capped: DataFrame): DataFrame = {
    val inCap = capped.filter(col("in_cap"))
    inCap.select(col("ivf_list"), col("vec_id").as("id_a"),
        col("embedding").as("va"))
      .join(inCap.select(col("ivf_list"), col("vec_id").as("id_b"),
        col("embedding").as("vb")), Seq("ivf_list"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Core of both semantic-dedup entries. Over-cap lists skip the
    * pairwise stage and fall back to exact-duplicate collapse (q69's
    * linear contract — a list that outgrew 4× the expected population is
    * a mass-duplicate cluster in practice): only non-minimal exact copies
    * are dropped there, and the forgone near-dup recall inside a capped
    * list is the same documented trade as the LSH bucket caps. At the
    * corpus-relative default no testdata list is anywhere near the cap,
    * so the oracle-gated output is unchanged (pop ≈ n/k, cap = 4× that).
    */
  private[operators] def semanticDedupOn(assigned: DataFrame, kDf: DataFrame,
      threshold: Double, listCap: Long = DedupOps.CapFromDf): DataFrame = {
    val capped = semanticCapped(assigned, kDf, listCap)
    val pairDrops = semanticListPairs(capped)
      .filter(round(Vectors.cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("id_b").as("vec_id"))
    val exactDrops = capped.filter(!col("in_cap"))
      .withColumn("keep_id", min(col("vec_id"))
        .over(Window.partitionBy(col("ivf_list"), col("embedding"))))
      .filter(col("vec_id") =!= col("keep_id"))
      .select(col("vec_id"))
    val drops = pairDrops.union(exactDrops).distinct()
    capped.join(drops.withColumn("dropped", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("ivf_list"),
        col("dropped").isNull.cast("int").as("kept"))
      .orderBy(col("vec_id"))
  }

  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = SessionCaches.cached(ivfAssignCache, (spark, dir))(
      ivfAssign(emb, labelCentroidsCached(spark, dir)).persist())
    // k = the label codebook's cardinality, as a plan (one cheap column
    // scan), never a driver-side collect
    semanticDedupOn(assigned,
      emb.agg(countDistinct(col("label")).as("k")), threshold)
  }

  /** [[semanticDedup]] with the corpus-sized [[sampledCentroids]]
    * codebook — the scale configuration: callers size `kLists` with
    * [[kFor]], which holds expected list population at `targetList` and
    * the pairwise stage at O(n · targetList) as the corpus grows. The
    * label-codebook entry stays the oracle-gated q75 operating point;
    * this one is gated by SimilarityScaleSpec (same verdicts as an
    * uncapped run on healthy data) and ScalingBench (slope ~1 where the
    * fixed-k codebook shows its quadratic).
    */
  def semanticDedupSized(spark: SparkSession, dir: String, kLists: Int,
      threshold: Double = 0.35): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = SessionCaches.cached(ivfAssignSizedCache, (spark, dir, kLists))(
      ivfAssign(emb, sampledCentroids(emb, kLists)).persist())
    semanticDedupOn(assigned,
      spark.range(1).select(lit(kLists.toLong).as("k")), threshold)
  }

  /** Product-quantization ANN top-k (q77) — the STORAGE-side scale path
    * next to LSH (hashing) and IVF (partitioning): each 64-dim vector is
    * quantized to `m` = 8 subspace codes (argmin-L2 against a per-subspace
    * codebook), and queries score the corpus through a broadcast
    * lookup table of query-subvector × codebook-centroid dot products —
    * the classic asymmetric-distance computation. At 100 TB the corpus
    * is carried as m small ints per vector (~8 bytes vs 256 for floats):
    * the scan, the LUT join, and the (query, vec) partial-sum aggregation
    * never touch raw embeddings, and the codebook/LUT stay broadcast.
    * Shapes: codes = one argmin window per (vec, subspace) over the
    * broadcast codebook; scoring = codes ⋈ broadcast LUT → one shuffle
    * for the per-(query, vec) sum; reconstructed norms ride the same
    * aggregation (cnorm2 summed next to the partial dots), so the codes
    * relation is consumed once — no persist needed.
    *
    * Score = ADC cosine: Σ_s dot(q_s, c_{s,code}) / (|q| · |v̂|), v̂ the
    * reconstruction — approximate by construction; the gate is the q70
    * contract (the ENTIRE pipeline — subspace split, 6dp codebooks,
    * argmin encode at 6dp with code tiebreak, LUT scoring at 4dp —
    * replicated in DuckDB SQL, cell-exact), not a recall claim these
    * structure-free embeddings cannot exhibit. The label-derived
    * codebook (10 codes/subspace) is the oracle operating point; at
    * scale the codebook comes from [[kFor]]-sized sampling exactly as
    * the IVF family's.
    */
  /** Session cache for the PQ codebook: m·#labels rows, lineage one full
    * corpus pass, two consumers (the encode join and the LUT build) whose
    * broadcasts don't dedupe — the same shape as [[kmCodebookCache]].
    */
  private val pqCodebookCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** Same contract for [[pqTopKSized]]'s codebook, keyed by the code
    * count as well (different kCodes ⇒ different codebook plan).
    */
  private[operators] val pqCodebookSizedCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  /** The m per-vector subvectors, shared by the codebook builds, the
    * encode pass, and the LUT build. Corpus-sized and deliberately NOT
    * persisted — at the design point it is larger than the parquet it
    * came from.
    */
  private[operators] def pqSubvectors(emb: DataFrame, m: Int): DataFrame = {
    val dim = 64
    require(m >= 1 && dim % m == 0,
      s"pq subspace count m must divide dim=$dim (got m=$m) — a non-divisor " +
        "would silently truncate the trailing dimensions from encode and ADC")
    val w = dim / m
    emb.select(col("vec_id"), col("label"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("embedding"), s * w + 1, w).cast("array<double>").as("sv"))): _*))
          .as("sub"))
      .select(col("vec_id"), col("label"), col("sub.s"), col("sub.sv"))
  }

  /** The per-(subspace, label) codebook (6dp centroid means — the
    * labelCentroids rounding — with squared norms for reconstruction),
    * session-cached: the remaining corpus-scale work per action is the
    * one encode pass. Shared by [[pqTopK]], [[pqTopKFused]], and the
    * fused-encode spec hook.
    */
  private def pqLabelCodebook(spark: SparkSession, dir: String,
      m: Int): DataFrame =
    SessionCaches.cached(pqCodebookCache, (spark, dir, m))(
      pqSubvectors(Tables.embeddings(spark, dir), m)
        .select(col("label"), col("s"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("label"), col("s"), col("d"))
        .agg(round(avg(col("x")), 6).as("c"))
        .groupBy(col("s"), col("label").as("code"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          t => t.getField("c")).as("cv"))
        .withColumn("cnorm2", Vectors.dotNative(col("cv"), col("cv")))
        .persist())

  /** The codebook as one broadcastable row of flat arrays in (s, code)
    * order — [[graft.functions.expressions.PqAdcScores]]'s input layout.
    */
  private def pqFlatModel(cb: DataFrame): DataFrame =
    cb.groupBy()
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("s"), col("code"), col("cv")))),
          t => t.getField("cv"))).as("cb_flat"),
        transform(
          array_sort(collect_list(struct(col("s"), col("code"), col("cnorm2")))),
          t => t.getField("cnorm2")).as("cnorm2_flat"))

  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5, m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    pqTopKOn(emb, pqSubvectors(emb, m), pqLabelCodebook(spark, dir, m),
      nQueries, k)
  }

  /** [[pqTopK]] with a [[kFor]]-sized sampled codebook per subspace — the
    * 100 TB operating point (code count grows with the corpus instead of
    * being pinned to the 10 labels): the per-subspace codes are the
    * subvectors of the md5-sampled [[sampledCentroids]] vectors (the
    * k-means init step; Lloyd-refine per subspace at scale exactly as the
    * IVF family's). Codebook rows = m · kCodes — still broadcast-sized at
    * any realistic kCodes — and every ADC volume bound scales as
    * codes = n·m, LUT = nQueries·m·kCodes (spec-pinned). Gate: the same
    * full-pipeline DuckDB replication contract as q77 is available via
    * the md5 sample; this variant is spec- and ScalingBench-gated with
    * q77 as the oracle-gated operating point.
    */
  def pqTopKSized(spark: SparkSession, dir: String, kCodes: Int,
      nQueries: Int = 8, k: Int = 5, m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cb = SessionCaches.cached(
      pqCodebookSizedCache, (spark, dir, m, kCodes))(
      pqSizedCodebook(emb, kCodes, m).persist())
    pqTopKOn(emb, pqSubvectors(emb, m), cb, nQueries, k)
  }

  /** IVF-PQ top-k (q88) — the canonical production ANN index (the
    * FAISS-style composition): the coarse quantizer ([[labelCentroids]],
    * the q70 codebook) partitions the corpus into inverted lists; each
    * vector stores only the PQ codes of its RESIDUAL (v − c_list); a
    * query scores only its `nProbe` probed lists via
    * `dot(q, v̂) = dot(q, c_list) + dot(q, r̂)` with the reconstruction
    * norm `|v̂|² = |c_list|² + 2·dot(c_list, r̂) + |r̂|²`. At 100 TB the
    * corpus rides as (list id + m codes) per vector, every codebook/LUT
    * is broadcast, and a query touches nProbe/k of the data — this is
    * the architecture production vector stores actually ship.
    *
    * Plan: residuals are row-local (zip_with after the broadcast
    * assignment join); encode + BOTH ADC sums run in the fused
    * [[graft.functions.expressions.PqAdcScores]] expression — the real
    * queries and the k coarse centroids ride the SAME flat LUT as
    * nQ + k pseudo-queries, so one pass yields `dot(q_s, r̂_s)` sums for
    * every query AND the `dot(c_list, r̂)` norm correction — then the
    * probe join is broadcast and the only corpus shuffle is the final
    * per-query top-k (the q86 contract, composed). All sums index-
    * ordered on both engines; the oracle replays the whole thing with
    * the ordered-list formulation.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      kTop: Int = 5, nProbe: Int = 2, m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cvec = labelCentroidsCached(spark, dir) // coarse codebook (clabel, cv)
    val assigned = ivfAssign(emb, cvec)     // (vec_id, embedding, ivf_list)
    // residual corpus: r = v − c_list, row-local against the broadcast
    // coarse codebook
    val resid = assigned
      .join(broadcast(cvec), col("ivf_list") === col("clabel"))
      .withColumn("r", zip_with(col("embedding").cast("array<double>"),
        col("cv"), (x, c) => x - c))
      .select(col("vec_id"), col("ivf_list"), col("r"))
    // residual PQ codebook: per-(subspace, label) means of residual
    // subvectors (6dp — the q77 recipe on residuals). label here is the
    // data attribute, exactly as in pqTopK.
    val rsubs = resid
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("r"), s * (64 / m) + 1, 64 / m).as("sv"))): _*)).as("sub"))
      .select(col("vec_id"), col("label"), col("sub.s"), col("sub.sv"))
    val rcb = SessionCaches.cached(ivfPqCodebookCache, (spark, dir, m))(
      rsubs.select(col("label"), col("s"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("label"), col("s"), col("d"))
        .agg(round(avg(col("x")), 6).as("c"))
        .groupBy(col("s"), col("label").as("code"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          t => t.getField("c")).as("cv"))
        .withColumn("cnorm2", Vectors.dotNative(col("cv"), col("cv")))
        .persist())
    val kCodes = (rcb.count() / m).toInt
    val kCoarse = cvec.count().toInt
    val cbRow = pqFlatModel(rcb)
    // pseudo-query LUT: the nQ real queries (qkey = RANK over qv_id —
    // equal to vec_id only for dense 0..nQ−1 ids) followed by the k
    // coarse centroids (qkey = nQ + rank of clabel) — one flat array
    // drives both the scoring sums and the norm correction. nQ is the
    // ACTUAL query count, not the `vec_id < nQueries` filter bound: with
    // sparse ids the two differ, and slot offsets built from the bound
    // would read past the flat array (null scores — the r7 ADVICE find)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qv_id"), col("embedding").cast("array<double>").as("qv"))
    val nQ = queries.count().toInt
    val wClabel = Window.orderBy(col("clabel"))
    val centKeyed = cvec
      .withColumn("crank", row_number().over(wClabel) - 1)
      .select((col("crank") + lit(nQ)).as("qkey"), col("cv").as("qv"),
        col("clabel"))
    val wQ = Window.orderBy(col("qv_id"))
    val qKeyed = queries
      .withColumn("qkey", row_number().over(wQ) - 1)
    val pseudo = qKeyed.select(col("qkey"), col("qv"))
      .unionByName(centKeyed.select(col("qkey"), col("qv")))
    val lutRow = pseudo
      .select(col("qkey"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("qv"), s * (64 / m) + 1, 64 / m).as("qsv"))): _*)).as("sub"))
      .select(col("qkey"), col("sub.s"), col("sub.qsv"))
      .join(broadcast(rcb), Seq("s"))
      .select(col("qkey"), col("s"), col("code"),
        Vectors.dotNative(col("qsv"), col("cv")).as("qdot"))
      .groupBy()
      .agg(transform(array_sort(collect_list(
        struct(col("qkey"), col("s"), col("code"), col("qdot")))),
        t => t.getField("qdot")).as("lut_flat"))
    // probes: per query, the nProbe best lists, carrying the raw
    // query·centroid dot, the centroid norm, the centroid rank, AND the
    // query's LUT slot (qkey) — slots are assigned by rank over qv_id,
    // so indexing the ADC array with the raw vec_id would only work for
    // dense 0..nQ-1 ids; the rank mapping is id-layout-independent
    val wProbe = Window.partitionBy(col("qv_id"))
      .orderBy(col("ccos").desc, col("clabel"))
    val probes = qKeyed
      .crossJoin(broadcast(
        cvec.withColumn("crank", row_number().over(wClabel) - 1)))
      .withColumn("ccos", round(Vectors.cosine(col("qv"), col("cv")), 4))
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nProbe)
      .select(col("qv_id").as("query_id"), col("qkey"),
        col("clabel").as("ivf_list"), col("crank"),
        Vectors.dotNative(col("qv"), col("cv")).as("qc"),
        Vectors.dotNative(col("cv"), col("cv")).as("cnorm2l"),
        sqrt(Vectors.dotNative(col("qv"), col("qv"))).as("qnorm"))
    // fused residual encode + all pseudo-query ADC sums, one corpus pass
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    resid.crossJoin(broadcast(cbRow)).crossJoin(broadcast(lutRow))
      .withColumn("sc", Vectors.pqAdcScores(col("r"), col("cb_flat"),
        col("cnorm2_flat"), col("lut_flat"), m, kCodes))
      .join(broadcast(probes), Seq("ivf_list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adcq", element_at(col("sc"), col("qkey").cast("int") + 1))
      .withColumn("adcc",
        element_at(col("sc"), col("crank").cast("int") + lit(nQ) + 1))
      .withColumn("rnorm2", element_at(col("sc"), lit(nQ + kCoarse + 1)))
      .withColumn("score", round((col("qc") + col("adcq")) /
        (col("qnorm") * sqrt(col("cnorm2l") + lit(2.0) * col("adcc")
          + col("rnorm2"))), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kTop)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  private val ivfPqCodebookCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** Fused-scorer PQ top-k (q86): the same codebook, encode semantics
    * (6dp expanded-form argmin, smaller-code tiebreak), and ADC scoring
    * as [[pqTopK]], but with encode + scoring fused into one row-local
    * codegen expression ([[graft.functions.expressions.PqAdcScores]])
    * against plan-time broadcast flat arrays. The relational pipeline
    * pays two corpus-scale shuffles — the encode window over n·m·k rows
    * and the (query, vec) ADC aggregation over n·m·nQ rows; here the
    * ONLY shuffle is the final per-query top-k over n·nQ rows (map-side
    * group-limited), which is the plan you want at 100 TB. The ADC sum
    * runs in subspace index order on both engines (the q86 oracle
    * aggregates `ORDER BY s` into a list and dots it with a ones
    * vector) — the shuffled-sum rounding hazard class is designed out,
    * not survived. The spec pins the fused encode's codes bit-equal to
    * the relational window encode.
    */
  def pqTopKFused(spark: SparkSession, dir: String, nQueries: Int = 8,
      kTop: Int = 5, m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // the SAME cached codebook as pqTopK (identical key) — the fused
    // path changes the scorer, never the model
    val cb = pqLabelCodebook(spark, dir, m)
    val kCodes = (cb.count() / m).toInt
    val cbRow = pqFlatModel(cb)
    // the ACTUAL query count — `vec_id < nQueries` is a filter bound,
    // equal to the count only for dense ids; slot offsets must use the
    // count (the ivfPqTopK r7 lesson applied to the fused path too)
    val nQ = emb.filter(col("vec_id") < nQueries).count().toInt
    // LUT in (query, s, code) order — query subvectors against every code
    val lutRow = pqSubvectors(emb.filter(col("vec_id") < nQueries), m)
      .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qsv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        Vectors.dotNative(col("qsv"), col("cv")).as("qdot"))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("query_id"), col("s"), col("code"),
          col("qdot")))),
        t => t.getField("qdot")).as("lut_flat"))
    val qRow = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        sqrt(Vectors.dotNative(col("embedding"), col("embedding"))).as("qnorm"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("vec_id"), col("qnorm")))),
          t => t.getField("vec_id")).as("qid_arr"),
        transform(array_sort(collect_list(struct(col("vec_id"), col("qnorm")))),
          t => t.getField("qnorm")).as("qnorm_arr"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    emb.crossJoin(broadcast(cbRow)).crossJoin(broadcast(lutRow))
      .crossJoin(broadcast(qRow))
      .withColumn("sc", Vectors.pqAdcScores(col("embedding"), col("cb_flat"),
        col("cnorm2_flat"), col("lut_flat"), m, kCodes))
      .select(col("vec_id"), col("qid_arr"), col("qnorm_arr"),
        element_at(col("sc"), nQ + 1).as("vnorm2"),
        posexplode(slice(col("sc"), 1, nQ)).as(Seq("qi", "adc")))
      .withColumn("query_id",
        element_at(col("qid_arr"), col("qi") + 1).cast("long"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(col("adc") /
        (element_at(col("qnorm_arr"), col("qi") + 1) * sqrt(col("vnorm2"))), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kTop)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The fused scorer's per-vector code assignments (the trailing m
    * slots of [[graft.functions.expressions.PqAdcScores]]'s output as
    * 0-based indices in (s, code) order) — exposed for the
    * fused≡relational encode spec.
    */
  private[graft] def pqFusedCodes(spark: SparkSession, dir: String,
      m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cb = pqLabelCodebook(spark, dir, m)
    val kCodes = (cb.count() / m).toInt
    // a 1-query dummy LUT of zeros (nQ = 0 is not representable: the lut
    // length must be a positive multiple of m·k), so the output layout
    // is [adc_0, vnorm2, code_0 … code_{m−1}] — codes start at slot 3
    val zeroLut = array((0 until m * kCodes).map(_ => lit(0.0)): _*)
    emb.crossJoin(broadcast(pqFlatModel(cb)))
      .withColumn("sc", Vectors.pqAdcScores(col("embedding"), col("cb_flat"),
        col("cnorm2_flat"), zeroLut, m, kCodes))
      .select(col("vec_id"), slice(col("sc"), 3, m).as("code_idx"))
  }

  /** [[pqTopKSized]] at the [[kFor]] operating point, as one call — and
    * the q85 oracle gate: with the md5 sample the ENTIRE sized ADC
    * pipeline (self-sized codebook slices, argmin encode, LUT scoring)
    * replays in DuckDB cell-exact, closing the oracle coverage of all
    * three sized ANN families (IVF q80, k-means q81, PQ q85).
    */
  def pqTopKAuto(spark: SparkSession, dir: String,
      targetList: Long = 1000L, nQueries: Int = 8, k: Int = 5,
      m: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    pqTopKSized(spark, dir, kFor(emb.count(), targetList), nQueries, k, m)
  }

  /** The sampled per-subspace codebook (`(s, code, cv, cnorm2)`,
    * m · kCodes rows) behind [[pqTopKSized]] — the subvector slices of
    * the [[sampledCentroids]] vectors.
    */
  private[operators] def pqSizedCodebook(emb: DataFrame, kCodes: Int,
      m: Int): DataFrame = {
    val w = 64 / m
    sampledCentroids(emb, kCodes)
      .select(col("clabel").as("code"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("cv"), s * w + 1, w).as("sv"))): _*)).as("sub"))
      .select(col("sub.s").as("s"), col("code"), col("sub.sv").as("cv"))
      .withColumn("cnorm2", Vectors.dotNative(col("cv"), col("cv")))
  }

  /** Encode + ADC scoring against a per-subspace codebook
    * (`(s, code, cv, cnorm2)`) — shared by the label ([[pqTopK]]) and
    * sampled ([[pqTopKSized]]) operating points so a rounding or
    * tiebreak tweak cannot diverge between them.
    */
  private[operators] def pqTopKOn(emb: DataFrame, subs: DataFrame, cb: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    // encode: argmin L2 per (vec, subspace), expanded-form distance so the
    // oracle's float path is identical term by term; 6dp + code tiebreak
    // struct-min argmin (r18, the ivfAssign rewrite): the (dist ASC,
    // code ASC) winner per (vec, subspace) via a map-side-combinable
    // min_by instead of shuffling the codes-fanout into a rank window
    val codes = subs.join(broadcast(cb), Seq("s"))
      .withColumn("dist", round(
        Vectors.dotNative(col("sv"), col("sv")) - lit(2.0) * Vectors.dotNative(col("sv"), col("cv"))
          + col("cnorm2"), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(struct(col("code"), col("cnorm2")),
        struct(col("dist"), col("code"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.code").as("code"),
        col("m.cnorm2").as("cnorm2"))
    // ADC lookup table: query subvector × every codebook centroid
    // (nQueries · m · codes rows — broadcast-sized by construction)
    val lut = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qsv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        Vectors.dotNative(col("qsv"), col("cv")).as("qdot"))
    val qnorms = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        sqrt(Vectors.dotNative(col("embedding"), col("embedding"))).as("qnorm"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdot")).as("adc"), sum(col("cnorm2")).as("vnorm2"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qnorms), Seq("query_id"))
      .withColumn("score",
        round(col("adc") / (col("qnorm") * sqrt(col("vnorm2"))), 4))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Scalar (int8) quantization of the embedding column (q82) — the 4×
    * storage path next to PQ's 32× ([[pqTopK]]) and the float baseline:
    * per-dimension affine codes `c_d = round((x_d − mn_d) / s_d)` with
    * `s_d = (mx_d − mn_d)/255`, scored asymmetrically (float query ×
    * dequantized corpus) — the standard SQ8 recipe vector stores ship.
    * At 100 TB the corpus rides as 64 bytes/vector instead of 256, the
    * (mn, s) table is 64 rows → broadcast, and scoring is one corpus
    * scan, so the only shuffles are the one stats pass (per-dim min/max,
    * 64 groups) and the per-query top-k window over scored survivors.
    *
    * Parity (q70 contract): min/max are ORDER-INDEPENDENT — unlike a
    * mean-based codebook there is no accumulation-order hazard anywhere
    * before the final cosine, which runs the fused loop in index order
    * on both engines. The affine chain (subtract, divide, round-to-code,
    * clamp, `mn + c·s`) is element-wise exact-deterministic double
    * arithmetic, so the ENTIRE pipeline replays in DuckDB cell-exact
    * with no intermediate rounding at all; the score rounds at 4dp.
    */
  /** One-row per-dimension stats frame: `mns`/`scs` as 64-element arrays
    * (min and (max−min)/255 per dim), index-aligned with the embedding.
    */
  private[operators] def sqStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .select(col("d"), col("mn"), ((col("mx") - col("mn")) / lit(255.0)).as("s"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          t => t.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("d"), col("s")))),
          t => t.getField("s")).as("scs"))

  /** Corpus + int8 codes + dequantized vectors, row-local against the
    * broadcast stats row: `c` is the integral code array (every value in
    * [0, 255] — the array<byte> storage contract, spec-pinned), `vq` the
    * reconstruction `mn_d + c_d·s_d`. A constant dimension (s = 0)
    * quantizes to code 0 and reconstructs exactly.
    */
  private[operators] def sqEncoded(emb: DataFrame): DataFrame =
    emb.crossJoin(broadcast(sqStats(emb)))
      .withColumn("c", zip_with(
        zip_with(col("embedding").cast("array<double>"), col("mns"),
          (x, m) => x - m),
        col("scs"),
        (y, s) => when(s === lit(0.0), lit(0.0))
          .otherwise(least(lit(255.0), round(y / s, 0)))))
      .withColumn("vq", zip_with(
        zip_with(col("c"), col("scs"), (c, s) => c * s),
        col("mns"), (p, m) => m + p))
      .drop("mns", "scs")

  /** Asymmetric SQ8 top-k: float queries against the dequantized corpus,
    * the [[bruteForceTopK]] shape (broadcast queries, one corpus scan,
    * per-query top-k window) over the quantized storage.
    */
  def sqTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    sqEncoded(emb).select(col("vec_id"), col("vq"))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("score", round(Vectors.cosine(col("qv"), col("vq")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Random-projection dimensionality reduction (q79) — the
    * Johnson-Lindenstrauss-style 64 → `dOut` compression a pipeline runs
    * before storing or pre-filtering embeddings: project through a ±1
    * sign matrix and rescale by 1/√dOut, then report original vs
    * projected cosine for a bounded pair sample. The sign matrix is
    * derived from md5("i_j") — not a seeded PRNG — because md5 is the
    * one hash both engines share bit-for-bit, which makes the ENTIRE
    * pipeline (matrix, projection at 6dp, both cosines at 4dp)
    * cell-exact replicable in DuckDB, the q70 contract. No JL tolerance
    * claim is gated (the bound is probabilistic per matrix; with a fixed
    * matrix the distortion is just a measured fact) — the spec pins the
    * measured mean distortion instead.
    *
    * Parity note (the r5 hash_match lesson): each projected coordinate
    * MUST be a row-local, index-ordered sum. The first cut computed it
    * as a shuffled `groupBy(vec_id, j).agg(sum(x·sgn))` — a 64-term
    * double sum whose accumulation order was partial-agg dependent,
    * while DuckDB summed in scan order; double addition is not
    * associative, so a last-ulp difference at a `.0000005` boundary
    * flipped the 6dp rounding and with it 4dp `cos_proj` cells. Now the
    * sign rows are plan-time array literals and
    * `p_j = round(dotNative(embedding, sgnRow_j)/√dOut, 6)` runs on the
    * codegen fused loop — the same index-ordered accumulation as the
    * oracle's `list_inner_product` — which also deletes the posexplode
    * and both projection shuffles: zero exchanges before the pair stage.
    */
  /** Sign row j of the projection matrix: sgn(i, j) = +1 iff the first
    * hex digit of md5("i_j") is < '8' (i.e. the high nibble of byte 0 is
    * in 0..7). Computed on the driver at plan-build time — 64 hashes per
    * row, a plan constant exactly like the LSH hyperplanes — and
    * injected as an array literal; the DuckDB oracle regenerates the
    * identical matrix in SQL from `md5(i || '_' || j)`.
    */
  private[graft] def rpSignRow(j: Int, dIn: Int = 64): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dIn) { i =>
      val b0 = md.digest(s"${i}_${j}".getBytes("UTF-8"))(0)
      if (((b0 & 0xf0) >>> 4) < 8) 1.0 else -1.0
    }
  }

  def rpCosinePairs(spark: SparkSession, dir: String, dOut: Int = 16,
      maxId: Long = 40): DataFrame = {
    // the pair report is O(maxId²) BY DESIGN — a bounded diagnostic
    // sample, not a scale path (the LSH family is the scale path). The
    // same bound-or-bucket guard as the LSH caps keeps a caller from
    // silently turning the sample into an n² corpus report.
    require(maxId >= 2 && maxId <= 256,
      s"rpCosinePairs emits a full O(maxId²) pair report — a diagnostic " +
        s"sample capped at 256 vectors (got $maxId); use lshNearDup / " +
        "lshTopK for corpus-scale similarity")
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"))
    val scale = lit(math.sqrt(dOut.toDouble))
    val proj = emb.select(col("vec_id"), col("embedding"),
      array((0 until dOut).map(j =>
        round(Vectors.dotNative(col("embedding"), lit(rpSignRow(j))) / scale, 6)): _*)
        .as("pv"))
    val l = proj.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("pv").as("pa"))
    val r = proj.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("pv").as("pb"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Vectors.cosine(col("va"), col("vb")), 4).as("cos_orig"),
        round(Vectors.cosine(col("pa"), col("pb")), 4).as("cos_proj"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding near-dup pairs via multi-table LSH bucketing — the scale
    * path for [[cosineNearDup]]: candidates are same-(table, bucket) pairs
    * across `nTables` independent hyperplane sets, then exact cosine
    * verification. With 64 tables × 4 planes the per-pair miss at
    * cos 0.35 is (1 − q⁴)⁶⁴ ≈ 5e-5 (q = 1 − θ/π), so the output equals
    * the exact pair set on this data and shares q32's oracle — the same
    * complete-recall-candidates + exact-verify contract as the MinHash
    * dedup path. At scale the bucket join replaces the all-pairs cross
    * product; raise nPlanes with corpus size to keep buckets small.
    */
  def lshNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.35, maxId: Long = 200, nPlanes: Int = 4,
      nTables: Int = 64): DataFrame =
    lshNearDupDF(Tables.embeddings(spark, dir).filter(col("vec_id") < maxId),
      threshold, nPlanes, nTables)

  def lshNearDupDF(emb0: DataFrame, threshold: Double = 0.35,
      nPlanes: Int = 4, nTables: Int = 64): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    lshNearDupCandidates(emb, nPlanes, nTables)
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .withColumn("cos", round(Vectors.cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Candidate stage of [[lshNearDupDF]], exposed for the adversarial
    * boundedness spec. Both sides of the self-join are population-capped
    * (there is no query side to preserve here): a mass-duplicated cluster
    * concentrates into one bucket per table, every one of them over-cap,
    * so its quadratic pair set never materializes — those vectors are
    * [[vectorExactDedup]]'s job, mirroring the dedup family's
    * band/chunk-cap ↔ exact-md5 division of labor. `bucketCap` overrides
    * the corpus-relative default (spec use only).
    */
  private[operators] def lshNearDupCandidates(emb: DataFrame,
      nPlanes: Int = 4, nTables: Int = 64,
      bucketCap: Long = DedupOps.CapFromDf): DataFrame = {
    val tableBuckets = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        Vectors.lshBucket(col("embedding"), nPlanes, seed = 1042L + t).as("bucket"))
    }
    val banded = emb.select(col("vec_id"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl"), col("tb.bucket"))
    val capDf =
      if (bucketCap == DedupOps.CapFromDf) bucketCapFrame(emb, nPlanes)
      else emb.sparkSession.range(1).select(lit(bucketCap).as("cap"))
    // materialized (lazy checkpoint): the self-join reads the capped
    // band relation twice, and each un-materialized read re-hashes the
    // corpus through all nTables hyperplane sets + the population
    // window. Rows are (vec_id, tbl, bucket) — metadata-scale.
    val bounded = popCapped(banded, capDf).localCheckpoint(eager = false)
    bounded.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
      .join(bounded.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Embedding near-duplicate pairs (cosine ≥ threshold) over a bounded
    * id range — the oracle-checkable exact variant.
    */
  def cosineNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.35, maxId: Long = 200): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"))
    val l = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val r = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cos", round(Vectors.cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DBSCAN density clustering (q335) in cosine space: core points are
    * vectors whose eps-neighborhood — INCLUDING the point itself, the
    * textbook/sklearn convention, so minPts values port unchanged —
    * has ≥ `minPts` members (cosine ≥ `threshold`, 4dp),
    * clusters are connected components of the core-core eps-graph
    * (label = component-min core id, the q53 device), border points
    * attach to the smallest cluster label among their core neighbors
    * (the deterministic replacement for scan-order assignment in the
    * original algorithm), everything else is noise. The output is the
    * per-cluster census plus one `cluster_id = -1` noise row — the
    * density readout that kmeans/IVF partitioning (q76/q81) cannot
    * give: DBSCAN finds arbitrarily-shaped dense regions and REFUSES
    * to assign outliers, which is exactly the embedding-space health
    * question ("is this batch dense blobs + junk, or uniform mush?").
    *
    * Scale shape: the eps-graph rides the SAME complete-recall
    * multi-table LSH bucketing as q64 (never the all-pairs product),
    * widened for the lower threshold — at cos 0.30 with 96 tables × 3
    * planes the per-pair miss is (1−q³)⁹⁶ ≈ 1e-10, so the candidate
    * set equals the exact pair set on this data and the oracle replays
    * the exact join. Degree/core/border are one aggregation each on
    * the pair relation; the CC runs on the core-core subgraph in
    * O(log n) large-star/small-star rounds. At 100 TB: raise nPlanes
    * with corpus size (bucket economics), shard the CC as-is, and the
    * `maxId` diagnostic bound falls away — nothing downstream of the
    * bucketing is quadratic.
    */
  def dbscanClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.30, minPts: Int = 3, maxId: Long = 200,
      nPlanes: Int = 3, nTables: Int = 96): DataFrame =
    dbscanOn(Tables.embeddings(spark, dir).filter(col("vec_id") < maxId),
      threshold, minPts, nPlanes, nTables,
      pairs0 = Some(cachedEpsPairs(spark, dir, threshold, nPlanes,
        nTables, maxId)))

  /** The verified eps-graph pair list `(id_a, id_b, cos ≥ threshold)`
    * over the bounded id range, session-cached: q335 (DBSCAN) and q340
    * (percolation sweep) run on the SAME graph — identical threshold
    * floor, plane/table config, and id bound — so the multi-table LSH
    * candidate build + exact verification (the dominant cost of both)
    * runs once per session instead of once per query (guide §2.4: the
    * [[GraphOps]] cachedCoPairs economics applied to the eps-graph;
    * a production deployment stores this pair relation as the standing
    * near-dup index). Keyed on every parameter that shapes the rows
    * (threshold in basis points — Double keys and hash-equality don't
    * mix). The `*On` spec entry points bypass the cache as usual.
    */
  private val epsPairsCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int, Int, Long)]()

  private def cachedEpsPairs(spark: SparkSession, dir: String,
      threshold: Double, nPlanes: Int, nTables: Int,
      maxId: Long): DataFrame =
    SessionCaches.cached(epsPairsCache,
      (spark, dir, math.round(threshold * 10000).toInt, nPlanes, nTables,
        maxId))(
      lshNearDupDF(
        Tables.embeddings(spark, dir).filter(col("vec_id") < maxId),
        threshold, nPlanes, nTables).persist())

  private[graft] def dbscanOn(emb0: DataFrame, threshold: Double,
      minPts: Int, nPlanes: Int, nTables: Int,
      pairs0: Option[DataFrame] = None): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    // read by degree, core-edge, and border passes — materialize once
    // (or reuse the session-cached pair relation when the dir path
    // hands one in; the persisted frame serves all three consumers)
    val pairs = pairs0.getOrElse(
      lshNearDupDF(emb, threshold, nPlanes, nTables).localCheckpoint())
      .select(col("id_a"), col("id_b"))
    val sym = pairs.select(col("id_a").as("v"), col("id_b").as("n"))
      .unionByName(pairs.select(col("id_b").as("v"), col("id_a").as("n")))
    // textbook core definition: |N_eps(p)| INCLUDES p itself, so a
    // point with deg eps-neighbors is core iff deg + 1 >= minPts —
    // minPts values port unchanged from sklearn/ELKI
    val core = sym.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") + 1 >= minPts).select(col("v")).localCheckpoint()
    val coreEdges = pairs
      .join(core.withColumnRenamed("v", "id_a"), Seq("id_a"), "left_semi")
      .join(core.withColumnRenamed("v", "id_b"), Seq("id_b"), "left_semi")
    // a core point with no core neighbor still seeds its own cluster
    val coreLab = core
      .join(DedupOps.connectedComponents(coreEdges)
        .withColumnRenamed("id", "v"), Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("cluster_id"),
        lit(1L).as("is_core"))
    val borderLab = sym
      .join(coreLab.select(col("v").as("n"), col("cluster_id")), Seq("n"))
      .join(core, Seq("v"), "left_anti")
      .groupBy(col("v")).agg(min(col("cluster_id")).as("cluster_id"))
      .select(col("v"), col("cluster_id"), lit(0L).as("is_core"))
    val assigned = coreLab.unionByName(borderLab).localCheckpoint()
    val clusters = assigned.groupBy(col("cluster_id"))
      .agg(sum(col("is_core")).as("n_core"),
        (count(lit(1)) - sum(col("is_core"))).as("n_border"),
        count(lit(1)).as("n_total"))
    val noise = emb.agg(count(lit(1)).as("n_all"))
      .crossJoin(broadcast(assigned.agg(count(lit(1)).as("n_asg"))))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        lit(0L).as("n_border"),
        (col("n_all") - col("n_asg")).as("n_total"))
    clusters.unionByName(noise).orderBy(col("cluster_id"))
  }

  /** Epsilon-percolation sweep (q340): component structure of the
    * cosine eps-graph at a THRESHOLD GRID — edges, covered nodes,
    * component count, and giant-component share per cut. This is the
    * percolation diagnostic that SIZES similarity thresholds: set the
    * dedup/clustering cut below the percolation point and everything
    * fuses into one giant cluster (q335's first parameterization
    * measured exactly that — one component at 0.25); above it, the
    * graph shatters into singletons. The q184 threshold sweep answers
    * this for text Jaccard; this is the embedding-space twin.
    *
    * Scale shape: ONE complete-recall LSH candidate build at the
    * loosest threshold (the q335/q64 contract), cos retained on the
    * pair rows; each grid point is a filter + the O(log n)
    * large-star/small-star CC on the shrinking edge set. Grid size is
    * a constant; the corpus contributes one bucketed candidate pass.
    */
  def epsPercolation(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.30, 0.33, 0.35, 0.40),
      maxId: Long = 200, nPlanes: Int = 3, nTables: Int = 96)
      : DataFrame =
    epsPercolationOn(
      Tables.embeddings(spark, dir).filter(col("vec_id") < maxId),
      thresholds, nPlanes, nTables,
      pairs0 = Some(cachedEpsPairs(spark, dir, thresholds.min, nPlanes,
        nTables, maxId)))

  private[graft] def epsPercolationOn(emb0: DataFrame,
      thresholds: Seq[Double], nPlanes: Int, nTables: Int,
      pairs0: Option[DataFrame] = None): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    val pairs = pairs0.getOrElse(
      lshNearDupDF(emb, thresholds.min, nPlanes, nTables)
        .localCheckpoint())
    val nAll = emb.agg(count(lit(1)).as("n_all"))
    // ONE CC fixpoint for the whole monotone grid (VERDICT r14 item
    // 5): the grid previously ran one serial large-star/small-star
    // fixpoint PER threshold — at near-dup-pair scale CC cost is
    // round/job count, not bytes. The edge sets are nested, so tag
    // every pair with each tier it survives (cos ≥ t_k) and NAMESPACE
    // the node ids (node = id·|grid| + k): tiers can never connect,
    // min-labels stay per-tier component minima (min over id·n+k for
    // fixed k = (min id)·n+k), and a single fixpoint — whose round
    // count is the LOOSEST tier's depth, which bounded every serial
    // run anyway — labels all grid points at once. Output is
    // hash-identical to the per-tier runs. Cost trade: edge rows
    // replicate ×(tiers that keep them) — bounded by the constant
    // grid size and pair-list (metadata) scale, the right trade until
    // a giant grid makes contraction-seeding worth its bookkeeping
    // (see SCALING.md; the first attempt here measured contraction
    // SLOWER at this scale — 10.1 s vs 7.9 s — because label
    // composition adds more jobs than the saved fixpoints cost).
    import emb.sparkSession.implicits._
    val ts = thresholds.sorted
    val nT = ts.size
    val tiers = ts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, math.round(t * 10000).toInt) }
      .toDF("k", "t", "t_bp")
    val tagged = pairs.crossJoin(broadcast(tiers))
      .filter(col("cos") >= col("t"))
      .localCheckpoint() // read by the CC seed and the edge census
    val lab = DedupOps.connectedComponents(tagged
      .select((col("id_a") * nT + col("k")).as("id_a"),
        (col("id_b") * nT + col("k")).as("id_b")))
    val tierComp = lab
      .groupBy(pmod(col("id"), lit(nT.toLong)).as("k"), col("label"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_nodes"),
        max(col("sz")).as("giant"))
    val tierEdges = tagged.groupBy(col("k"))
      .agg(count(lit(1)).as("n_edges"))
    tiers.join(tierEdges, Seq("k"), "left")
      .join(tierComp, Seq("k"), "left")
      .crossJoin(broadcast(nAll))
      .select(col("t_bp"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_components"), lit(0L)).as("n_components"),
        expr("coalesce(giant, 0L) * 1000000 div n_all").as("giant_ppm"))
      .orderBy(col("t_bp"))
  }

  /** IVF index maintenance (q92): upsert a new vector batch into an
    * EXISTING index without retraining — the operation a 100 TB ANN
    * deployment runs on every ingest cycle (retraining the coarse
    * quantizer per batch would re-shuffle the whole corpus; production
    * indexes retrain only when drift demands it). The batch is assigned
    * to the frozen codebook (broadcast, one batch-sized pass — the
    * corpus is NOT touched), and the per-list report joins the stored
    * list sizes with the new-member stats:
    *
    *  - `growth` = n_new / (n_base + n_new) — a list growing
    *    disproportionately is the re-split candidate;
    *  - `min/max_cos_new` — the assignment-fit envelope (min/max are
    *    order-INDEPENDENT over the 4dp-rounded assignment cosines, the
    *    memory-recipe alternative to ordered sums): a falling min says
    *    new data lands far from every centroid, i.e. retrain time.
    *
    * Gate: codebook trained on the base partition only (`vec_id % 5 ≠
    * 0`), batch = the rest; DuckDB replays codebook, both assignments,
    * and the stats join cell-exact (q70 contract). The base-side list
    * sizes come from the stored index in production; the gate
    * materializes them with [[ivfAssign]] for replayability.
    */
  private val upsertCodebookCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  def ivfUpsert(spark: SparkSession, dir: String,
      batchMod: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % batchMod =!= 0)
    val batch = emb.filter(col("vec_id") % batchMod === 0)
    // the base codebook has two broadcast consumers (batch assignment +
    // stored-list materialization) and exchange reuse does not fire
    // across separate broadcasts — same rationale as labelCentroidsCached
    val cvec = SessionCaches.cached(upsertCodebookCache,
      (spark, dir, batchMod))(labelCentroids(base).persist())
    // struct-min argmax, not a rank-1 window (r18 — the ivfAssign
    // rewrite, same equivalence argument): map-side partial agg
    // collapses the k candidates per vector before the one shuffle
    val newAsg = batch.crossJoin(broadcast(cvec))
      .withColumn("ccos",
        round(Vectors.cosine(col("embedding"), col("cv")), 4))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("clabel"), col("ccos")),
        struct((-col("ccos")).as("nc"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("ivf_list"),
        col("m.ccos").as("ccos"))
    val baseCounts = ivfAssign(base, cvec)
      .groupBy(col("ivf_list")).agg(count(lit(1)).as("n_base"))
    val newStats = newAsg.groupBy(col("ivf_list"))
      .agg(count(lit(1)).as("n_new"),
        min(col("ccos")).as("min_cos_new"),
        max(col("ccos")).as("max_cos_new"))
    baseCounts.join(newStats, Seq("ivf_list"), "full_outer")
      .select(col("ivf_list"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("min_cos_new"), col("max_cos_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          (coalesce(col("n_base"), lit(0L)) +
            coalesce(col("n_new"), lit(0L))).cast("double"), 4).as("growth"))
      .orderBy(col("ivf_list"))
  }

  /** Truncated-prefix rerank funnel (q94): coarse-score every corpus
    * vector on the first `prefixDims` dimensions, shortlist the top
    * `shortlist` per query, then rerank the shortlist with the exact
    * full-dimension cosine — the Matryoshka-representation retrieval
    * pattern (Kusupati et al., NeurIPS 2022: prefixes of trained
    * embeddings are usable low-dim embeddings). At 100 TB the prefix
    * lives as its OWN parquet column, so the coarse scan reads
    * `prefixDims/dim` of the vector bytes (here 1/4) with column
    * pruning doing the work, and the exact pass touches only
    * `shortlist · nQueries` rows re-fetched by id. The funnel is
    * deliberately approximate (a true neighbor outside the prefix
    * shortlist is missed); the gate replays the SAME funnel, so the
    * approximation is deterministic, and the spec pins the recall
    * relation against brute force.
    */
  def truncatedRerank(spark: SparkSession, dir: String, nQueries: Int = 8,
      prefixDims: Int = 16, shortlist: Int = 20, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val coarse = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("pcos", round(Vectors.cosine(
        slice(col("qv"), 1, prefixDims),
        slice(col("embedding"), 1, prefixDims)), 4))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    coarse.withColumn("prk", row_number().over(wShort))
      .filter(col("prk") <= shortlist)
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Graded retrieval quality — nDCG@10 by label relevance (q207): per
    * query, rank the corpus by exact cosine, mark neighbors sharing the
    * query's label as relevant, and score the top-10 with
    * position-discounted gain against the ideal ordering — the metric
    * that (unlike q101's recall) rewards putting relevant hits HIGH,
    * not merely somewhere in the cut. Labels stand in for graded
    * judgments the way q168's cohesion uses them.
    *
    * Parity: the whole computation is INTEGER once ranks exist —
    * discounts are the literal millionths table 1e6/log2(rk+1)
    * (hardcoded on BOTH engines, so no cross-engine log), DCG/IDCG are
    * integer sums of table entries, and nDCG is the one division,
    * rounded 6dp. IDCG truncates at min(10, n_relevant) via the
    * cumulative table; a query with zero relevant corpus vectors
    * reports 0 (a report that drops its failures is not a report —
    * the q101 rule).
    *
    * Scale shape: one broadcast-query corpus scan (the q31 plan) into a
    * per-query top-10 window; the label marginals ride a broadcast
    * |labels|-row aggregate. Nothing after the scan is corpus-scale.
    */
  /** Mean-reciprocal-rank inputs by label relevance (q218): per query,
    * the rank of the FIRST relevant neighbor in the exact cosine
    * ordering and its reciprocal in integer millionths (`1e6 div rank`
    * — floor division, deterministic on any engine; 0 when no relevant
    * neighbor exists, kept per the q101 report-your-failures rule).
    * Completes the retrieval-eval triad: q101 recall@k (is it in the
    * cut), q207 nDCG (is it HIGH), this (how deep is the first hit —
    * the metric QA-style retrieval actually pages on).
    *
    * Scale shape: the q31 broadcast-query corpus scan into a per-query
    * rank window; the first-relevant pick is a min() partial agg.
    */
  def mrrByLabel(spark: SparkSession, dir: String,
      nQueries: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val firstRel = scored.withColumn("rk", row_number().over(w))
      .filter(col("label") === col("qlabel"))
      .groupBy(col("query_id"))
      .agg(min(col("rk")).cast("long").as("first_rel_rank"))
    queries.select(col("query_id"))
      .join(broadcast(firstRel), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
        when(col("first_rel_rank").isNull, lit(0L))
          .otherwise(expr("1000000 div first_rel_rank")).as("recip_e6"))
      .orderBy(col("query_id"))
  }

  def ndcgByLabel(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    require(k <= 10, "discount table covers ranks 1..10")
    val emb = Tables.embeddings(spark, dir)
    val discount = array(Seq(1000000L, 630930L, 500000L, 430677L,
      386853L, 356207L, 333333L, 315465L, 301030L, 289065L).map(lit): _*)
    val idcgCum = array(Seq(1000000L, 1630930L, 2130930L, 2561607L,
      2948460L, 3304667L, 3638000L, 3953465L, 4254495L, 4543560L)
      .map(lit): _*)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val scored = emb.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Vectors.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val dcg = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("query_id"))
      .agg(sum(when(col("label") === col("qlabel"),
        element_at(discount, col("rk").cast("int"))).otherwise(0L))
        .as("dcg_e6"))
    // total relevant per query = corpus count of its label minus itself
    val labelCounts = emb.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
    queries
      .join(broadcast(labelCounts), col("qlabel") === col("label"), "left")
      .select(col("query_id"),
        (coalesce(col("n_lab"), lit(1L)) - 1L).as("n_rel"))
      .join(broadcast(dcg), Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"),
        when(col("n_rel") <= 0L, lit(0.0)).otherwise(
          round(coalesce(col("dcg_e6"), lit(0L)).cast("double") /
            element_at(idcgCum, least(col("n_rel"), lit(k.toLong)).cast("int"))
              .cast("double"), 6)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** q246's operating point — shared by [[mmrRerank]] and the generated
    * DuckDB oracle (SimilarityOracles interpolates these), so the
    * greedy-round count and λ cannot silently diverge between engines.
    */
  private[graft] val MmrNQueries = 3
  private[graft] val MmrNCand = 25
  private[graft] val MmrK = 5
  private[graft] val MmrLamX10 = 7L

  /** Maximal-marginal-relevance rerank (q246): diversify each query's
    * cosine top-`nCand` shortlist by greedily picking, `kSel` times,
    * the candidate maximizing λ·sim(q,c) − (1−λ)·max_{s∈selected}
    * sim(c,s) — the standard redundancy-suppressing rerank between
    * retrieval and display (or between ANN recall and training-batch
    * assembly). Every score lives on the integer ten-thousandths grid:
    * similarities are 4dp-rounded AT the cosine stage boundary (the
    * q31 contract) then scaled to BIGINT, λ enters as the integer pair
    * (7, 3)/10 — so the argmax compares only integers, tie-broken on
    * vec_id, and each greedy round is exactly reproducible in the
    * oracle's materialized-CTE replay (the q173/q225 rule).
    *
    * Scale shape: the ONLY corpus-scale work is the candidate stage
    * (one scan, broadcast queries — the q31 plan); the greedy rounds
    * run on bounded frames (nQueries·nCand rows, nQueries·nCand²
    * pairs), localCheckpointed per round so the iteration never grows
    * a lineage. At 100 TB nothing here changes: MMR cost is set by k
    * and the shortlist, not the corpus.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrRerankOn(Tables.embeddings(spark, dir), MmrNQueries, MmrNCand,
      MmrK, MmrLamX10)

  private[graft] def mmrRerankOn(emb: DataFrame, nQueries: Int,
      nCand: Int, kSel: Int, lamX10: Long): DataFrame = {
    val lamC = 10L - lamX10
    def gridM(a: Column, b: Column): Column =
      round(round(Vectors.cosine(a, b), 4) * 10000, 0).cast("long")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qm").desc, col("vec_id"))
    val cand = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("qm", gridM(col("qv"), col("embedding")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nCand)
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qm"))
      .localCheckpoint()
    val slim = cand.select(col("query_id"), col("vec_id"), col("embedding"))
    val pair = slim.toDF("query_id", "ca", "va")
      .join(slim.toDF("query_id", "cb", "vb"), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .withColumn("pm", gridM(col("va"), col("vb")))
      .select(col("query_id"), col("ca"), col("cb"), col("pm"))
      .localCheckpoint()
    var selected = cand.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), col("qm"),
        lit(0L).as("ms"), lit(1).as("mmr_rank"))
      .localCheckpoint()
    for (r <- 2 to kSel) {
      val ms = pair
        .join(selected.select(col("query_id"), col("vec_id").as("cb")),
          Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca"))
        .agg(max(col("pm")).as("ms"))
        .withColumnRenamed("ca", "vec_id")
      val wr = Window.partitionBy(col("query_id"))
        .orderBy((lit(lamX10) * col("qm") - lit(lamC) * col("ms")).desc,
          col("vec_id"))
      val pick = cand
        .join(selected.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .join(ms, Seq("query_id", "vec_id"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), col("qm"), col("ms"),
          lit(r).as("mmr_rank"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected.select(col("query_id"), col("vec_id"), col("mmr_rank"),
      col("qm").as("relevance_m"), col("ms").as("penalty_m"),
      (lit(lamX10) * col("qm") - lit(lamC) * col("ms")).as("mmr_m"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** Triplet mining (q253): for each anchor vector, the hardest
    * positive-negative pair — nearest SAME-label neighbor (the
    * positive) and nearest DIFFERENT-label neighbor (the hard
    * negative), with the margin between them — the batch-assembly
    * primitive behind contrastive/metric-learning training, and a
    * label-separation diagnostic (a negative margin = this anchor's
    * nearest neighbor crosses the label boundary).
    *
    * Scale shape: one corpus scan against broadcast anchors (the q31
    * plan); both argmaxes are per-anchor row_number windows over the
    * scored frame, partitioned by anchor — never a corpus self-join.
    * Scores on the integer ten-thousandths grid (4dp cosine stage
    * boundary), ties on min vec_id.
    */
  def tripletMine(spark: SparkSession, dir: String,
      nAnchors: Int = 8): DataFrame =
    tripletMineOn(Tables.embeddings(spark, dir), nAnchors)

  private[graft] def tripletMineOn(emb: DataFrame,
      nAnchors: Int): DataFrame = {
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("av"))
    val scored = emb.join(broadcast(anchors),
        col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"), col("vec_id"),
        col("label"),
        round(round(Vectors.cosine(col("av"), col("embedding")), 4)
          * 10000, 0).cast("long").as("m"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("m").desc, col("vec_id"))
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("a_label").as("label"),
        col("vec_id").as("pos_id"), col("m").as("pos_m"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("vec_id").as("neg_id"),
        col("m").as("neg_m"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("label"), col("pos_id"),
        col("pos_m"), col("neg_id"), col("neg_m"),
        (col("pos_m") - col("neg_m")).as("margin_m"),
        (col("pos_m") > col("neg_m")).cast("int").as("separated"))
      .orderBy(col("anchor_id"))
  }

  /** Deterministic k-means|| over-sampling initialization (q324,
    * VERDICT r13 item 5). The published scale init (Bahmani et al.,
    * "Scalable k-means++", VLDB 2012): start from one seed, run a
    * constant number of rounds where every point joins the candidate
    * set with probability `min(1, l·d²(x,C)/φ(C))` (l = 2k
    * oversampling), then weight each candidate by the population it
    * attracts and reduce to k. Re-expressed on the deterministic
    * integer grid so DuckDB replays it cell-exact:
    *
    *  - distances ride the 4dp cosine grid: `d2 = (10000 − cos_bp)²`
    *    with `cos_bp = CAST(round(cos·10⁴, 0) AS BIGINT)` — spherical
    *    k-means distance, integer once the grid is fixed;
    *  - the per-(point, round) Bernoulli coin is md5-derived:
    *    `u_ppm ∈ [0, 10⁶)` from the first 5 hex chars;
    *  - the draw `u_ppm/10⁶ < l·d2/φ` cross-multiplies to
    *    `u_ppm·φ < l·d2·10⁶` on decimal(38,0) (no float division —
    *    `φ = Σ d2` passes 2^63 long before 100 TB, PARITY 13);
    *  - the weighted reduction takes the k HEAVIEST candidates
    *    (weight desc, vec_id asc) — deterministic and SQL-replayable
    *    where the paper's weighted k-means++ would be a sequential
    *    driver-side loop over the candidate set.
    *
    * Scale shape: `rounds` corpus passes, each a broadcast-BNLJ
    * against the candidate set (O(rounds·l) rows — codebook scale,
    * never corpus) + one map-side-combinable min; φ is a 1-row
    * aggregate; the final vote is one more broadcast pass. The only
    * partitionless window runs over the candidate frame. Candidates
    * are localCheckpointed per round: each round's set feeds both the
    * next round's distances and the final vote.
    */
  private[operators] def kMeansParallelInit(emb: DataFrame, k: Int,
      rounds: Int = 3, seed: Long = 7L): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    var cand = e
      .withColumn("h", md5(concat(col("vec_id").cast("string"),
        lit(s"_kpp_$seed"))))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      val d2 = e.crossJoin(broadcast(cand))
        .withColumn("dbp", lit(10000L) -
          round(Vectors.cosine(col("v"), col("cv")) * 10000, 0)
            .cast("long"))
        .groupBy(col("vec_id"), col("v"))
        .agg(min(col("dbp") * col("dbp")).as("d2"))
      val phi = d2.agg(sum(col("d2").cast("decimal(38,0)")).as("phi"))
      val sampled = d2.crossJoin(broadcast(phi))
        .withColumn("u_ppm", pmod(
          conv(substring(md5(concat(col("vec_id").cast("string"),
            lit(s"_r${r}_$seed"))), 1, 5), 16, 10).cast("long"),
          lit(1000000L)))
        .filter(col("u_ppm").cast("decimal(38,0)") * col("phi") <
          lit(2L * k).cast("decimal(38,0)") * col("d2") * lit(1000000L))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      cand = cand.unionByName(sampled).dropDuplicates("cid")
        .localCheckpoint()
    }
    // struct-min argmax, not a rank-1 window (r18 — the ivfAssign
    // rewrite): the nearest-candidate vote per vector collapses
    // map-side; only |corpus| (vec, winner) rows shuffle
    val votes = e.crossJoin(broadcast(cand))
      .withColumn("cos_bp",
        round(Vectors.cosine(col("v"), col("cv")) * 10000, 0).cast("long"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"),
        struct((-col("cos_bp")).as("nc"), col("cid"))).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("wt"))
    val picked = cand.join(broadcast(votes), Seq("cid"), "left")
      .withColumn("wt0", coalesce(col("wt"), lit(0L)))
    val wPick = Window.orderBy(col("wt0").desc, col("cid"))
    picked.withColumn("clabel", row_number().over(wPick).cast("long"))
      .filter(col("clabel") <= k)
      .select(col("clabel"), col("cv"))
  }

  /** Codebook-init A/B (q324): the [[kMeansParallelInit]] codebook vs
    * the md5-uniform [[sampledCentroids]] codebook, BOTH followed by
    * the same 2 Lloyd rounds the production build runs (VERDICT r14
    * item 4: the published k-means|| protocol is over-sampling init +
    * Lloyd, never init alone — Bahmani et al. §1: "k-means|| ...
    * followed by Lloyd's iterations"), then profiled on the two
    * metrics an IVF deployment actually watches — the q194
    * list-balance ratio (1000·max/mean member count: the hot-list
    * probe-latency bound) and the q101 recall protocol (hits of the
    * nProbe=2 probed top-5 against exact brute force over the 8-query
    * panel). Both halves replay in DuckDB CTE-for-CTE (the q76 Lloyd
    * CTEs unrolled after each init chain).
    */
  /** Session cache for the q324 codebooks: the ||-init chain is
    * `rounds` corpus passes with per-round checkpoints and the sampled
    * init one sort — both deterministic per (session, dir, k), and the
    * comparison query is re-planned per Bench rep. Same contract as
    * [[kmCodebookCache]]; registry-routed session persists.
    */
  private val kppCodebookCache =
    SessionCaches.newCache[(SparkSession, String, Int, String)]()

  def q324InitCompare(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val k = kFor(emb.count(), 100L)
    val bf = bruteForceTopK(spark, dir, 8, 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    def profile(name: String, cvec0: => DataFrame): DataFrame = {
      // two consumers (balance assignment, probe chain) — materialize
      // once per session. localCheckpoint, NOT persist: a persisted
      // sampled codebook registers its logical plan in the session
      // CacheManager, and q80's plan contains the IDENTICAL scent
      // subtree — plan-match substitution would swap q80's window into
      // an InMemoryRelation whenever this cache is warm, making its
      // executed plan (and the strict plan-lint allowlist) depend on
      // suite ordering. The checkpoint's LogicalRDD matches nothing.
      val cvec = SessionCaches.cached(
        kppCodebookCache, (spark, dir, k, name))(cvec0.localCheckpoint())
      val bal = ivfAssign(emb, cvec)
        .groupBy(col("ivf_list")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_lists"), sum(col("sz")).as("n_vecs"),
          max(col("sz")).as("max_size"))
        .select(lit(name).as("init"), col("n_lists"), col("n_vecs"),
          col("max_size"),
          expr("(max_size * n_lists * 1000) div n_vecs")
            .as("imbalance_x1000"))
      val hits = ivfTopKOn(emb, cvec, 8, 5, 2)
        .join(broadcast(bf), Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("sum_hits"))
      bal.crossJoin(broadcast(hits))
    }
    // the SAME refinement after both inits — the A/B isolates the init
    def refined(cv0: DataFrame): DataFrame =
      (1 to 2).foldLeft(cv0)((cv, _) => lloydStep(emb, cv))
    profile("kmeans_par", refined(kMeansParallelInit(emb, k)))
      .unionByName(profile("sampled", refined(sampledCentroids(emb, k))))
      .orderBy(col("init"))
  }
}
