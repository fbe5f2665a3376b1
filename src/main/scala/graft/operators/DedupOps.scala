package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, over the
  * `documents` table. Four families: exact (hash-groupBy), MinHash+LSH,
  * SimHash, and n-gram Jaccard. Scale stance: every near-dup variant is
  * candidate-generation-by-bucketing (shuffle on bucket keys, partial aggs)
  * followed by exact verification on the candidate pairs only — never an
  * all-pairs cartesian. The approximate variants (MinHash, SimHash) emit
  * exactly-verified pairs, so their outputs are gated against the same
  * DuckDB exact-Jaccard oracle as [[ngramJaccardPairs]]: a recall loss in
  * candidate generation shows up as a hard row-set mismatch.
  */
object DedupOps {

  /** Exact dedup: group by content fingerprint, keep the lowest doc_id as
    * canonical. One shuffle on a 128-bit key; at 100 TB the md5 groupBy is
    * the standard exact-dedup plan (map-side partial agg collapses
    * duplicates before the exchange).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(Text.fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  /** Stop-shingle document-frequency cap: shingles appearing in more than
    * `clamp(ceil(2% · n_docs), DfCapFloor, DfCapCeil)` documents are
    * dropped from both the postings and the per-doc set sizes. Hot shingles
    * are what makes a postings self-join quadratic, and they carry no
    * near-dup signal. Three-part design, each part load-bearing at a
    * different scale:
    *  - the fraction keeps the cap meaningful as the corpus grows;
    *  - the floor keeps tiny corpora from capping at df 1-2;
    *  - the CEILING bounds the join cost: every surviving shingle
    *    contributes at most cap² candidate pairs, so total join work is
    *    O(#shingles · cap²) — linear in corpus size. A purely
    *    fraction-based cap admits shingles with df ≈ frac·N, whose pair
    *    contributions grow as N² (ScalingBench measured slope 1.7 on an
    *    8× corpus before the ceiling existed).
    */
  val DfCapFloor = 50L
  val DfCapCeil = 200L

  /** Sentinel for bucket-cap parameters: follow the corpus-relative
    * effective df cap (the [[effectiveDfCap]] clamp). A degenerate corpus —
    * thousands of identical or near-empty documents — puts them all in one
    * LSH bucket (MinHash band bucket / SimHash chunk value) and the
    * candidate self-join goes quadratic (pop² pairs per bucket). Buckets
    * above the cap are dropped: their members are near-exact duplicate
    * clusters, which the exact md5 path ([[exactDedup]]) already collapses
    * at linear cost. Tying the bucket cap to the SAME clamp as the shingle
    * df cap (rather than a separate constant) keeps the two guards
    * consistent: a cluster small enough to survive the df cap can never
    * have its band buckets dropped by a smaller bucket cap — the round-2
    * static 50 violated exactly that when the df cap exceeded 50.
    */
  val CapFromDf = -1L

  /** The corpus-relative df-cap clamp as a 1-row frame, computed inside
    * the plan and broadcast (the comparison is non-equi, so it plans as a
    * BroadcastNestedLoopJoin against a single row — O(left side), not
    * all-pairs; PlanSpec pins the shape).
    */
  /** ceil(2% · n) in EXACT integer form — `(2n + 99) div 100`, equal to
    * `ceil(n / 50)` on all non-negative n (2n+99 is odd, so the two
    * floor-divisions never straddle a multiple of 100). The former
    * float form `ceil(n * 0.02)` disagrees where the double product
    * lands an ulp above an integer (n = 1150 → 23.000…04 → 24); with
    * the integer form, the engine knob and the q352 advisor row share
    * provably identical math on every n (VERDICT r15 item 5).
    */
  private[operators] def effectiveDfCap(docs: DataFrame): DataFrame =
    docs.agg(expr(s"least(${DfCapCeil}L, greatest(${DfCapFloor}L," +
      " (count(1) * 2 + 99) div 100)) AS cap"))

  private def capFrame(docs: DataFrame, bucketCap: Long): DataFrame =
    if (bucketCap == CapFromDf) effectiveDfCap(docs)
    else docs.sparkSession.range(1).select(lit(bucketCap).as("cap"))

  /** Distinct word-3-gram rows (doc_id, tok), no df cap — the shared
    * shingle stage consumed (df-capped) by the dedup family and (uncapped)
    * by [[ContaminationOps]]. One copy so tokenization/arity can't
    * silently diverge between the pipelines and their shared oracle CTEs.
    * Shingle rows come from posexplode + lead windows (whole-stage
    * codegen) — a per-row higher-order-function shingle transform is
    * interpreted and re-evaluated per use by CollapseProject (benched 80×
    * slower at sf0.1).
    */
  private[operators] def distinctShingleRows(docs: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(wDoc))
      .withColumn("t2", lead(col("tok"), 2).over(wDoc))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("tok"))
      .dropDuplicates("doc_id", "tok")
  }

  /** Df-capped postings (doc_id, tok) + per-doc set size `n` (see
    * [[DfCapFloor]]). Persisted: read at least twice by every caller
    * (df counts + join) and recomputing it means re-running the full
    * tokenize + window pipeline. One-shot query runs (Verify/Bench) are
    * fine; long-lived callers may unpersist or use the session caches.
    */
  private[operators] def filteredShingleRows(docs: DataFrame): DataFrame =
    filteredFromRaw(distinctShingleRows(docs).persist(), docs)

  private def filteredFromRaw(raw: DataFrame, docs: DataFrame): DataFrame = {
    val cap = effectiveDfCap(docs)
    // shuffle-key narrowing: every downstream shuffle/join on the shingle
    // key (df aggregation, postings self-join, candidate verification)
    // carries xxhash64 longs (8 bytes) instead of ~20-80-byte 3-gram
    // strings — the q66 hashedKeys trade applied to the whole postings
    // family, with the same ~2⁻⁶⁴ per-pair collision odds. Outputs expose
    // only doc ids and Jaccard values, never the key, and every consumer
    // is still gated against the string-keyed DuckDB oracles (identical
    // results absent a collision). Local honesty note: an interleaved
    // same-JVM A/B at sf0.1 put the join section at 1.08s
    // hashed vs 1.12s string — parity locally, where tokenization
    // dominates; the narrowing is for shuffle BYTES at cluster scale,
    // where the three key-bearing exchanges dominate. The uncapped STRING
    // relation (`raw`) stays as-is — ContaminationOps joins it against
    // benchmark shingle text.
    val hashed = raw.select(col("doc_id"), xxhash64(col("tok")).as("tok"))
    val rare = hashed.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .join(broadcast(cap), col("df") <= col("cap"))
      .select(col("tok"))
    // persist the final relation too: callers read it 2-3 times (signature
    // build + both verification sides) and each read would otherwise rerun
    // the df-count aggregation, the rare join, and the size window
    hashed.join(rare, "tok")
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .persist()
  }

  /** Session-scoped cache of the persisted postings relation per (session,
    * table dir): within one session, q28/q29/q30/q53/q59 all consume the
    * SAME df-capped postings — recomputing (and re-persisting) it per
    * query is pure waste, exactly like re-scanning a shared dimension.
    * The DataFrame-parameterized entry points bypass the cache (no
    * identity to key on). Cache machinery lives in [[SessionCaches]] so
    * eviction covers every operator family's maps, not just this file's.
    */
  private val postingsCache = SessionCaches.newCache[(SparkSession, String)]()

  private def cached[K <: Product](m: SessionCaches.Cache[K], k: K)(
      build: => DataFrame): DataFrame = SessionCaches.cached(m, k)(build)

  private val shinglesCache = SessionCaches.newCache[(SparkSession, String)]()

  /** The uncapped distinct-shingle relation, session-cached: consumed
    * df-capped by the dedup family and uncapped by ContaminationOps
    * (q61/q65), so it is shared one level below the postings cache.
    */
  private[operators] def cachedDistinctShingles(spark: SparkSession,
      dir: String): DataFrame =
    cached(shinglesCache, (spark, dir))(
      distinctShingleRows(Tables.documents(spark, dir)).persist())

  private def cachedShingleRows(spark: SparkSession, dir: String): DataFrame =
    cached(postingsCache, (spark, dir))(
      filteredFromRaw(cachedDistinctShingles(spark, dir),
        Tables.documents(spark, dir)))

  private val ngramHashCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** Distinct per-doc (doc_id, md5(n-gram)) rows, session-cached per
    * n-gram width — the corpus pass shared by the word-n-gram family
    * (q119 n=16; q121/q124/q127 n=8). First consumer pays the build
    * (the persist economics of the 3-gram postings cache, SCALING.md);
    * the rest read the persisted frame.
    */
  private[operators] def cachedNgramHashes(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    cached(ngramHashCache, (spark, dir, n))(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(Text.wordShingles(col("text"), n)).as("g"))
        .select(col("doc_id"), md5(col("g")).as("h"))
        .persist())

  /** Unpersist and forget every cached relation of this session (ALL
    * operator families' maps, via the [[SessionCaches]] registry) — for
    * callers (ScalingBench) that need each run to measure the full
    * pipeline rather than a cache hit. See [[SessionCaches.clear]] for
    * why neither `catalog.clearCache()` alone nor map-dropping alone is
    * sufficient.
    */
  def clearSessionCaches(spark: SparkSession): Unit = SessionCaches.clear(spark)

  /** Exact Jaccard verification of candidate pairs against the df-capped
    * shingle postings: intersection sizes come from an equi-join keyed on
    * (doc, shingle) — work is proportional to the candidates' postings,
    * never all-pairs.
    */
  private def verifyCandidates(cand: DataFrame, toks: DataFrame,
      threshold: Double): DataFrame = {
    val a = toks.select(col("doc_id").as("id_a"), col("tok"), col("n").as("n_a"))
    val b = toks.select(col("doc_id").as("id_b"), col("tok"), col("n").as("n_b"))
    cand.join(a, "id_a")
      .join(b, Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash parameters: 128 permutations in 32 bands × 4 rows. For the
    * near-dup pairs this corpus actually contains (exact Jaccard ≥ 0.8,
    * measured at every SF) the per-pair miss probability is
    * (1 − 0.8⁴)³² ≈ 5e-8 — candidate recall is deterministically complete,
    * which is what lets [[minhashNearDup]] share the exact-Jaccard oracle.
    * Permutation constants are fixed seeded values < 2³¹−1 so `a*h + b`
    * never overflows a long.
    */
  private val MinhashPerms = 128
  private val Bands = 32
  private val RowsPerBand = MinhashPerms / Bands
  private val HashPrime = 2147483647L // 2^31 - 1

  private val (permA, permB) = {
    val rnd = new java.util.SplittableRandom(42L)
    (Array.fill(MinhashPerms)(1L + rnd.nextLong(HashPrime - 1)),
      Array.fill(MinhashPerms)(rnd.nextLong(HashPrime)))
  }

  def minhashNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    minhashFromToks(cachedShingleRows(spark, dir), threshold,
      effectiveDfCap(Tables.documents(spark, dir)))

  /** MinHash + LSH near-dup pairs, built the shuffle-friendly way:
    * df-capped shingle postings → codegen'd hash per (doc, shingle) row →
    * ONE groupBy(doc_id) computing all 128 permutation-mins (whole-stage
    * codegen, map-side partial agg) → band buckets (population-capped, see
    * [[CapFromDf]]) → bucket self-join for candidates → exact Jaccard
    * verification on the candidate pairs only.
    *
    * Signatures are computed over the same df-capped shingle sets the
    * verification uses, so the banding probability applies to the exact
    * Jaccard being thresholded — and the output is the exact pair set
    * whenever candidate recall is complete (see [[MinhashPerms]]).
    *
    * NB an earlier per-row higher-order-function version benched 240s at
    * sf0.1: Catalyst collapses projections, so the shingle pipeline was
    * re-evaluated inside every perm lambda, interpreted. The explode+agg
    * shape keeps everything in codegen, and it scales — the only shuffles
    * are (doc_id) and (band, bucket), both partial-agg reduced.
    */
  def minhashNearDupDF(docs: DataFrame, threshold: Double = 0.5,
      bucketCap: Long = CapFromDf): DataFrame =
    minhashFromToks(filteredShingleRows(docs), threshold,
      capFrame(docs, bucketCap))

  private def minhashFromToks(toks: DataFrame, threshold: Double,
      capDf: DataFrame): DataFrame =
    verifyCandidates(minhashBandCandidates(toks, capDf), toks, threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** Candidate stage of [[minhashNearDupDF]], exposed for the adversarial
    * boundedness spec. Note a structural invariant: with the bucket cap
    * tied to the shingle df cap (the default), band-bucket population
    * can't exceed the cap anyway (same-bucket docs share each band's
    * argmin shingle, whose df is capped) — the explicit guard covers
    * hash-collision buckets and caller-supplied caps.
    */
  private[operators] def minhashBandCandidates(toks: DataFrame,
      capDf: DataFrame): DataFrame = {
    val session = toks.sparkSession
    import session.implicits._
    // all 128 running minima live in ONE typed aggregation buffer (see
    // MinhashSigAggregator) — 128 separate min(pmod(...)) aggregates are
    // semantically identical but their giant codegen'd update method cost
    // more to compile than to run at bench scale
    val hashed = toks.select(col("doc_id"),
        pmod(xxhash64(col("tok")), lit(HashPrime)).as("h"))
      .as[(Long, Long)]
    val sigAgg = new graft.functions.MinhashSigAggregator(
      permA, permB, HashPrime).toColumn.name("sig")
    val grouped = hashed.groupByKey(_._1).agg(sigAgg).toDF("doc_id", "sig")
    val banded = grouped
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band"),
            xxhash64(concat_ws(",",
              slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    // hot-bucket guard: one window pass on the same (band, bucket) shuffle
    // key the self-join uses anyway; the cap is a broadcast 1-row frame
    // (BNLJ against a single row — same pinned shape as the df cap).
    // NOT materialized: the round-17 A/B measured a lazy checkpoint
    // here SLOWER (q29 1.02 → 1.46 s) — AQE exchange reuse already
    // shares the one (band, bucket) exchange between both self-join
    // sides, so the checkpoint only added a materialization barrier.
    val bounded = banded
      .withColumn("pop", count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .join(broadcast(capDf), col("pop") <= col("cap"))
      .drop("pop", "cap")
    bounded.select(col("doc_id").as("id_a"), col("band"), col("bucket"))
      .join(bounded.select(col("doc_id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** 64-bit SimHash of the token multiset: per bit position, sum +1/-1
    * votes from each token's hash, take the sign. Near-dups = small
    * hamming distance; candidates via the standard 4×16-bit chunk trick
    * (pairs within hamming ≤ 3 must share at least one exact chunk).
    */
  def simhash(text: Column): Column = {
    // hash each token ONCE, then vote bits off the precomputed longs —
    // hashing inside the per-bit lambda would re-hash every token 64×
    val hashes = transform(Text.tokens(text), t => xxhash64(t))
    val counts = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)))
    aggregate(zip_with(counts, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Per-doc 64-bit simhash signatures via the explode+agg shape (same
    * result as the Column-API [[simhash]], same rationale as
    * [[minhashNearDupDF]]): token rows → 64 codegen'd sign-vote sums per
    * doc → bits OR'd back into the signature.
    */
  private[operators] def simhashSignatures(docs: DataFrame): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bitAggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val sig = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    perTok.groupBy(col("doc_id"))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), sig.as("sh"))
  }

  def simhashNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    verifyCandidates(
      simhashChunkCandidates(Tables.documents(spark, dir), maxHamming),
      cachedShingleRows(spark, dir), 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs: signature chunk equi-join (population-capped,
    * see [[CapFromDf]]) proposes candidates with hamming ≤ maxHamming —
    * guaranteed recall for those by pigeonhole over the 4 × 16-bit chunks
    * (the classic Charikar/Manku-style config; 16-bit chunks stay
    * discriminative even when corpus templates correlate signature bits,
    * where 8-bit chunks measured populations of 1460 docs at sf0.1) —
    * then exact df-capped-Jaccard verification emits the final pairs.
    *
    * SimHash's similarity notion (hamming on the token-multiset signature)
    * only PARTIALLY overlaps Jaccard ≥ 0.5: true near-dup pairs in this
    * corpus measure hamming up to 12, so hamming ≤ 3 recall vs the exact
    * pair set is 0.60–0.75 across SFs — inherent to the operator, not a
    * bug. That is why q30's oracle gate is [[simhashRecallGate]]'s summary
    * (DuckDB-exact pair count + subset-exactness + recall floor), not pair
    * set equality like MinHash.
    */
  def simhashNearDupDF(docs: DataFrame, maxHamming: Int = 3,
      threshold: Double = 0.5, bucketCap: Long = CapFromDf): DataFrame =
    verifyCandidates(simhashChunkCandidates(docs, maxHamming, bucketCap),
      filteredShingleRows(docs), threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** Candidate stage of [[simhashNearDupDF]], exposed for the adversarial
    * boundedness spec. Unlike the MinHash path, signatures here are built
    * over ALL tokens (no df cap upstream), so the chunk-population cap is
    * the only thing standing between a degenerate corpus (thousands of
    * identical docs → one chunk value) and a quadratic self-join.
    */
  private[operators] def simhashChunkCandidates(docs: DataFrame,
      maxHamming: Int = 3, bucketCap: Long = CapFromDf): DataFrame = {
    val sigs = simhashSignatures(docs)
    val chunks = sigs.select(col("doc_id"), col("sh"), explode(array(
      (0 to 3).map(i => struct(lit(i).as("chunk_no"),
        shiftright(col("sh"), 16 * i).bitwiseAND(lit(0xFFFFL)).as("chunk"))): _*)).as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk_no"), col("c.chunk"))
    // hot-chunk guard, mirroring the band-bucket cap. Materialized (lazy
    // checkpoint) for the same reason as the minhash band relation: the
    // self-join reads it twice, and each un-materialized read re-runs
    // the full 64-bit signature aggregation over the token rows. Rows
    // are (doc_id, sh, chunk_no, chunk) — metadata-scale.
    val bounded = chunks
      .withColumn("pop", count(lit(1)).over(Window.partitionBy(col("chunk_no"), col("chunk"))))
      .join(broadcast(capFrame(docs, bucketCap)), col("pop") <= col("cap"))
      .drop("pop", "cap")
      .localCheckpoint(eager = false)
    val l = bounded.alias("l")
    val r = bounded.alias("r")
    l.join(r, col("l.chunk_no") === col("r.chunk_no") &&
        col("l.chunk") === col("r.chunk") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"))
  }

  /** q30 gate: one summary row pinning the SimHash pipeline against the
    * exact pair set. `n_exact_pairs` is cell-exact vs DuckDB's postings
    * CTE; `subset_ok` = every SimHash-found pair is an exact pair with an
    * identical 4-dp Jaccard (verification consistency); `recall_ok` =
    * SimHash finds at least `minRecall` of the exact pairs (measured
    * 0.60–0.75 across SFs — see [[simhashNearDupDF]] for why 1.0 is not
    * the target). All three collapse to single values, so any regression
    * is a hard hash mismatch.
    */
  def simhashRecallGate(spark: SparkSession, dir: String,
      minRecall: Double = 0.5): DataFrame = {
    // both pair relations feed TWO consumers (their count + the subset
    // anti-join); materialized so each near-dup pipeline runs once per
    // action, not twice — pair lists are metadata-scale
    val exact = ngramJaccardPairs(spark, dir).localCheckpoint(eager = false)
    val found = simhashNearDup(spark, dir).localCheckpoint(eager = false)
    val nExact = exact.agg(count(lit(1)).as("n_exact_pairs"))
    val nFound = found.agg(count(lit(1)).as("n_found"))
    val nExtra = found.join(exact, Seq("id_a", "id_b", "jaccard"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    nExact.crossJoin(broadcast(nFound)).crossJoin(broadcast(nExtra))
      .select(col("n_exact_pairs"),
        (col("n_extra") === 0).cast("int").as("subset_ok"),
        (col("n_found").cast("double") >= col("n_exact_pairs") * minRecall)
          .cast("int").as("recall_ok"))
  }

  /** Near-dup cluster resolution: connected components over a dedup
    * pair graph via ALTERNATING LARGE-STAR / SMALL-STAR (the
    * MapReduce-CC algorithm of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14) — each doc gets the minimum
    * doc_id reachable through near-dup edges, the canonical "keep" id.
    *
    * Round-12 upgrade (VERDICT r11 item 9): the previous min-label
    * propagation converges in O(diameter) rounds — fine for shallow
    * shingle-dup graphs, but a planted 10k-long chain provably stalls
    * any fixed iteration budget (the spec demonstrates the moving
    * front). Star contraction halves component HEIGHT structurally
    * every alternation, converging in O(log n) rounds on any graph —
    * the upper bound that holds when a 100× adversarial input shows
    * up. Labels are identical (component min), so the q53/q122/q238
    * oracle hashes are unchanged.
    *
    * Per round, each star step is one groupBy-min over edge-cardinality
    * rows plus one join back — map-side-partial, shuffle on the node
    * key, no driver-side data. Edges keep the (u > v) orientation the
    * steps guarantee: large-star hangs every bigger neighbor of u onto
    * u's min; small-star re-hangs u's smaller neighbors (and u) onto
    * it. Convergence = edge set unchanged, tested with one
    * order-independent aggregate per round (count + XOR of the pair
    * hash — the q118 fingerprint trick; a false-equal needs a 2⁻⁶⁴
    * collision AND an equal count on a set the step can only shrink
    * toward the fixpoint). `localCheckpoint` per round keeps the plan
    * tree O(1) (the measured 130k-plan-line lesson of the old loop).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // the edge list is tiny (near-dup pairs) but deriving it may be
    // expensive (shingle join) — materialize once via localCheckpoint,
    // or every round's jobs recompute the whole upstream
    val base = edges.select(col("id_a").as("a"), col("id_b").as("b"))
      .localCheckpoint()
    // nodes BEFORE dropping self-pairs: a self-loop-only node is still
    // a (singleton) component and must keep its own label
    val nodes = base.select(col("a").as("id"))
      .union(base.select(col("b").as("id"))).distinct()
      .localCheckpoint()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))
    // large-star: m(u) = min(Γ(u) ∪ {u}); hang every neighbor v > u
    // onto m — output keeps v > m
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      s.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")).distinct()
    }
    // small-star (input oriented a > b): m(u) = min of u's smaller
    // neighbors; re-hang them and u itself onto m
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("a")).agg(min(col("b")).as("m"))
      e.join(mins, "a").filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .distinct()
    }
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = base.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    var cur = checksum(e)
    var prev: (Long, Long) = null
    var i = 0
    while (cur != prev && i < maxIter) {
      // lazy checkpoint: the checksum action right below is the first
      // consumer and materializes it — one job per round instead of
      // the eager checkpoint's two (r17; CC cost at pair-list scale is
      // round/job count, not bytes — guide §1.2 "fewer passes")
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      prev = cur
      cur = checksum(next)
      e = next
      i += 1
    }
    // refusing to return silently-wrong labels beats a quiet cap
    require(cur == prev,
      s"connectedComponents did not converge within $maxIter rounds")
    // fixpoint edges are stars (v, componentMin): labels read straight
    // off them; roots and isolated nodes label themselves
    nodes
      .join(e.select(col("a").as("id"), col("b").as("label")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint()
  }

  /** Span-level duplication stats (the substring-dedup signal of
    * RefinedWeb/CCNet-style pipelines): for each doc, the fraction of its
    * distinct `spanLen`-token windows that also occur in ANOTHER document.
    * Docs at or above `minDupFrac` are the boilerplate/mirror suspects
    * that document-level near-dup misses (partial copies, stitched pages).
    * Shape: window spans via posexplode + lead chain (codegen) →
    * per-(doc, span) dedup → span document-frequency → per-doc ratio.
    * With `hashedKeys=false` (the oracle-gated default) the df aggregation
    * and join key on the full span STRING — exactness is what lets the
    * query share an oracle. `hashedKeys=true` is the 100 TB path: the
    * shuffle keys become `xxhash64(span)` (8 bytes vs ~80 per key, applied
    * BEFORE both span shuffles), accepting ~2⁻⁶⁴ collision odds —
    * ScalingBench probes this variant alongside the exact one. Never
    * all-pairs either way.
    */
  def spanDupStats(spark: SparkSession, dir: String, spanLen: Int = 10,
      minDupFrac: Double = 0.3, hashedKeys: Boolean = false): DataFrame = {
    // session-cached like the shingle relations: the spans frame is
    // corpus-scale and read three times per evaluation (the hashed
    // projection sits on top of the SAME cached string spans, so both
    // variants share one cache entry)
    val spans = cached(spansCache, (spark, dir, spanLen))(
      spanRows(Tables.documents(spark, dir), spanLen).persist())
    spanStatsFromSpans(spanKeyed(spans, hashedKeys), minDupFrac)
  }

  private def spanKeyed(spans: DataFrame, hashedKeys: Boolean): DataFrame =
    if (!hashedKeys) spans
    else spans.select(col("doc_id"), xxhash64(col("span")).as("span"))

  private val spansCache = SessionCaches.newCache[(SparkSession, String, Int)]()

  def spanDupStatsDF(docs: DataFrame, spanLen: Int = 10,
      minDupFrac: Double = 0.3): DataFrame =
    // per-call persist, session-lifetime caveat as filteredShingleRows
    spanStatsFromSpans(spanRows(docs, spanLen).persist(), minDupFrac)

  private def spanRows(docs: DataFrame, spanLen: Int): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    // codegen n-gram builder — the window-lead form this replaces
    // shuffled the exploded corpus by doc_id just to read ahead
    docs
      .select(col("doc_id"),
        explode(Text.tokenNgramsNative(Text.tokens(col("text")), spanLen))
          .as("span"))
      .dropDuplicates("doc_id", "span")
  }

  private def spanStatsFromSpans(spans: DataFrame, minDupFrac: Double): DataFrame = {
    val dupSpans = spans.groupBy(col("span"))
      .agg(count(lit(1)).as("docs_with_span"))
      .filter(col("docs_with_span") >= 2)
      .select(col("span"))
    val perDoc = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(dupSpans, "span")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    perDoc.join(dupPerDoc, Seq("doc_id"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 4))
      .filter(col("dup_frac") >= minDupFrac)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"), col("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Span-level dedup APPLY (q87) — the rewrite step behind
    * [[spanDupStats]]'s diagnosis (the Lee-et-al-style "deduplicate
    * repeated substrings" pass a pretraining corpus runs): every token
    * covered by a cross-document duplicated span occurrence is dropped
    * from every NON-canonical document (canonical = the smallest doc_id
    * containing the span, which keeps exactly one copy of the repeated
    * material corpus-wide), and each document is rebuilt from its
    * surviving tokens with before/after token counts. Within-doc
    * repetition in the canonical owner is deliberately kept — that is
    * q62's signal, not cross-doc duplication.
    *
    * Shapes: the span-occurrence aggregation shuffles on the span string
    * (the exact, oracle-gated path — swap `xxhash64(span)` keys at 100 TB
    * exactly as [[spanDupStats]]'s `hashedKeys` documents) and the
    * covered-position sets come back as one per-affected-doc aggregation;
    * span CONSTRUCTION is the codegen [[graft.functions.expressions
    * .TokenNgrams]] fused loop and document REBUILD a row-local index
    * filter — the r6 rewrite deleted the explode + window +
    * (spanLen−1)-lead span pass and the explode + anti-join +
    * collect_list rebuild, i.e. two corpus-wide shuffle/sort stages.
    * Measured at sf0.1: warm 2.74 s (window form) → 3.24 s (first
    * attempt as an interpreted HOF — Catalyst HOFs are CodegenFallback,
    * the lesson TokenNgrams encodes) → 2.20 s codegen (−20% vs window,
    * with two fewer shuffles — the gap that widens when shuffles hit a
    * real network). Never all-pairs. All string/integer ops — cell-exact
    * oracle, no FP anywhere.
    */
  def spanScrub(spark: SparkSession, dir: String,
      spanLen: Int = 10): DataFrame =
    spanScrubDF(Tables.documents(spark, dir), spanLen)

  def spanScrubDF(docs: DataFrame, spanLen: Int = 10): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    val base = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    // spans row-locally via the codegen n-gram builder (fused loop; the
    // HOF form is interpreted and the window-lead form shuffles): span
    // at 0-based pos i = tokens [i, i+spanLen)
    val occ = base
      .select(col("doc_id"), posexplode(
        Text.tokenNgramsNative(col("toks"), spanLen))
        .as(Seq("pos", "span")))
    val dupOwners = occ.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("span"), col("owner"))
    // per-doc covered-position set (duplicated occurrences only — small)
    val covered = occ.join(dupOwners, "span")
      .filter(col("doc_id") =!= col("owner"))
      .groupBy(col("doc_id"))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + lit(spanLen - 1))))).as("cov"))
    val kept = when(col("cov").isNull, col("toks"))
      .otherwise(transform(
        filter(sequence(lit(0), size(col("toks")) - 1),
          i => !array_contains(col("cov"), i)),
        i => element_at(col("toks"), i + 1)))
    base.join(covered, Seq("doc_id"), "left")
      .withColumn("kept", kept)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** q53: cluster ids over the (oracle-expressible) n-gram Jaccard edges.
    * Cached per (session, dir): q59's keep-list is a consumer of exactly
    * this result, and the CC fixpoint behind it is a driver-side loop
    * worth running once per session.
    */
  private val clustersCache = SessionCaches.newCache[(SparkSession, String)]()

  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    // the projection sits on connectedComponents' checkpointed (lineage-
    // truncated) result, so repeated consumer reads are trivial
    cached(clustersCache, (spark, dir))(
      connectedComponents(ngramJaccardPairs(spark, dir))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id")))

  /** Near-dup cluster language purity (q204): per cluster size, how
    * many q53 clusters are language-uniform — the dedup-quality audit
    * (a near-dup cluster spanning languages usually means the shingle
    * threshold is clustering boilerplate, not content). Rides the
    * cached cluster assignment; two tiny rollups on top.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val mem = nearDupClusters(spark, dir)
    val langs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    mem.join(langs, "doc_id")
      .groupBy(col("cluster_id"), col("lang")).agg(count(lit(1)).as("c"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_langs"))
      .groupBy(col("n_docs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("n_langs") === 1L, 1L).otherwise(0L))
          .as("n_pure_lang"))
      .orderBy(col("cluster_size"))
  }

  /** Non-canonical near-dup cluster members — the shared drop-list behind
    * q59's keep-list and q65's curation (one definition so canonical-member
    * selection cannot silently diverge between them).
    */
  def nonCanonicalIds(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(spark, dir)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))

  /** q59: the dedup keep-list — every document minus non-canonical cluster
    * members (left_anti against docs whose cluster label differs from
    * their own id). This is the artifact a training pipeline consumes.
    */
  def dedupKeepList(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .join(nonCanonicalIds(spark, dir), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** Same session-scoped sharing one level up: the exact pair set (q28's
    * output) is ALSO the verification target of q30's gate and the edge
    * list of q53/q59 — cache the persisted pairs per (session, dir,
    * threshold). Pair sets are tiny (near-dup pairs), so the persist is
    * effectively free while the postings self-join behind it is the most
    * expensive step in the family.
    */
  private val pairsCache = SessionCaches.newCache[(SparkSession, String, Double)]()

  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    cached(pairsCache, (spark, dir, threshold))(
      pairsFromToks(cachedShingleRows(spark, dir), threshold).persist())

  /** Exact 3-gram-shingle Jaccard over the full corpus — the
    * oracle-checkable near-dup baseline. Df-capped postings self-join +
    * group: pairs only materialize when they share a (rare) shingle, and
    * word 3-grams are discriminative enough that the join stays
    * near-linear (word *unigrams* on a small vocabulary degrade to
    * all-pairs — 282k pairs vs 25 on this corpus at sf0.01). This full
    * self-join is the exact baseline; the corpus-scale paths are
    * [[minhashNearDupDF]] / [[simhashNearDupDF]], which verify against the
    * same postings but only on bucketed candidates.
    */
  def ngramJaccardPairsDF(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    pairsFromToks(filteredShingleRows(docs), threshold)

  /** Cross-source duplicate attribution (q251): the near-dup pairs of
    * q28 rolled up by UNORDERED source pair — the "who copies whom"
    * matrix a curation pipeline reads before deciding which source to
    * drop from a mixture (a diagonal cell is within-source redundancy;
    * an off-diagonal cell is syndication/mirroring between sources).
    *
    * Scale shape: rides the session-cached q28 pair relation (the
    * df-capped postings self-join — no new corpus-scale work); the
    * source lookup broadcasts; the rollup key space is |sources|².
    */
  def dupAttribution(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    ngramJaccardPairs(spark, dir, threshold)
      .join(broadcast(src.toDF("doc_id", "source_a")),
        col("id_a") === col("doc_id")).drop("doc_id")
      .join(broadcast(src.toDF("doc_id", "source_b")),
        col("id_b") === col("doc_id")).drop("doc_id")
      .select(least(col("source_a"), col("source_b")).as("src_a"),
        greatest(col("source_a"), col("source_b")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Duplication-inflation histogram (q100): exact-duplicate cluster
    * sizes (md5 content fingerprint) rolled up into (cluster_size →
    * n_clusters, n_docs, n_redundant) — the dedup-economics report a
    * curation pipeline reads to decide whether exact dedup is worth a
    * pass (n_redundant is exactly the row count that pass would delete).
    *
    * Scale shape: fingerprint is row-local codegen (md5 over the
    * canonical text); the cluster-size aggregate is the same single
    * corpus shuffle exact dedup itself pays (partial-agg collapses
    * per-partition duplicates first); the histogram aggregate is over
    * |distinct fingerprints| rows and the output over |distinct sizes|
    * — broadcast scale. All integers; arithmetic (`size·count`) beats a
    * second sum over the clusters relation.
    */
  def dupInflation(spark: SparkSession, dir: String): DataFrame =
    dupInflationOn(Tables.documents(spark, dir))

  /** [[dupInflation]] over an explicit `(…, text)` frame — the spec
    * surface for corpora with constructed duplicate structure (the
    * sf0.01 gate corpus has no exact dupes, so its histogram is the
    * single all-unique row; sf0.1 has size-2 clusters).
    */
  private[graft] def dupInflationOn(docs: DataFrame): DataFrame =
    docs
      .select(Text.fingerprintMd5(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
      .orderBy(col("cluster_size"))

  private def pairsFromToks(toks: DataFrame, threshold: Double): DataFrame = {
    val l = toks.alias("l")
    val r = toks.alias("r")
    l.join(r, col("l.tok") === col("r.tok") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        col("l.n").as("n_a"), col("r.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact set-similarity self-join via AllPairs/PPJoin prefix filtering
    * (q121): all document pairs with shingle-set Jaccard ≥ 0.6, found
    * WITHOUT the lossy df-cap of the q28 family — prefix filtering is
    * LOSSLESS (Bayardo et al., WWW'07): under a global rare-first order,
    * any pair with J ≥ t must share an element inside both prefixes of
    * length n − ⌈t·n⌉ + 1, so joining prefixes finds every qualifying
    * pair and the exact verify only runs on candidates.
    *
    * t is fixed at 3/5 so the prefix arithmetic stays integer-exact on
    * both engines (⌈3n/5⌉ = (3n+4) div 5). Scale shape: the prefix join
    * touches only the RAREST ~40 % of each doc's shingles (fan-out per
    * shingle = df², and the global order puts df=1 shingles first);
    * per-doc sets ride along as row-local arrays, so verification is a
    * map-side array_intersect, never a postings re-join.
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String,
      n: Int = 8, hashedPayload: Boolean = true): DataFrame =
    prefixJaccardJoinFromSh(
      maybeHashPayload(cachedNgramHashes(spark, dir, n), hashedPayload))

  /** Payload re-key for the q121/q124 family (DEFAULT since round 8):
    * `xxhash64(h)` LONGS (8 bytes) instead of md5-hex 32-char strings
    * through the rank window, prefix join and row-local set arrays. The
    * FINAL output is hash-function-independent — id pairs, intersection
    * sizes and set sizes count distinct shingles, not hash values — so
    * the md5 oracle still gates it exactly (collision odds at any
    * realistic corpus: ~n²/2⁶⁵); only the candidate SET (a lossless
    * superset either way) may differ. Measured in ScalingBench
    * (`q121_prefix_hashed`): 4.3 s vs 11.4 s at the 8× synth corpus,
    * slope −0.17 vs 1.53 — and pinned ≡ the md5 path by spec
    * (PrefixJoinSpec).
    */
  private def maybeHashPayload(sh: DataFrame, hashed: Boolean): DataFrame =
    if (hashed) sh.select(col("doc_id"), xxhash64(col("h")).as("h")) else sh

  private[graft] def prefixJaccardJoinOn(docs: DataFrame,
      n: Int = 8): DataFrame =
    prefixJaccardJoinFromSh(docs
      .select(col("doc_id"), explode(Text.wordShingles(col("text"), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h")))

  private def prefixJaccardJoinFromSh(sh: DataFrame): DataFrame =
    prefixVerified(sh, 3, 5)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** The AllPairs/PPJoin candidate+verify pipeline generalized to a
    * rational threshold t = p/q: prefix length `n − ceil(p·n/q) + 1`
    * (lossless for J ≥ p/q), integer-exact verification
    * `q·inter ≥ p·union`. Returns `(id_a, id_b, na, nb, inter)`.
    */
  private def prefixVerified(sh: DataFrame, p: Int, q: Int): DataFrame = {
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val ranked = sh.join(dfreq, "h")
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // pref feeds both self-join sides — materialize so the df join +
    // rank/size windows run once per action (rows are the rare-first
    // prefixes: metadata-scale)
    val pref = ranked
      .filter(col("rk") <= col("n") - expr(s"($p * n + ${q - 1}) div $q") + 1)
      .select(col("doc_id"), col("h"))
      .localCheckpoint(eager = false)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint(eager = false)
    // verification arrays only exist for docs that appear in a
    // candidate pair: semi-join first (a superset of each side's need —
    // join results unchanged), then materialize ONE candidate-bounded
    // relation instead of running the corpus-wide collect_set shuffle
    // once per side
    val candIds = cand.select(col("id_a").as("doc_id"))
      .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
    val sets = sh.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("s"), count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val sa = sets.select(col("doc_id").as("id_a"), col("s").as("sa"),
      col("n").as("na"))
    val sb = sets.select(col("doc_id").as("id_b"), col("s").as("sb"),
      col("n").as("nb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      // integer-exact threshold: J >= p/q ⟺ q·inter >= p·union — no
      // float boundary, so "LOSSLESS" holds exactly (a 4dp-rounded cut
      // would admit boundary pairs that prefix filtering never
      // guarantees candidates for); round only for display
      .filter(col("inter") * q >= (col("na") + col("nb") - col("inter")) * p)
      .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("inter"))
  }

  /** Dedup threshold sensitivity (q184): near-dup pair counts at four
    * Jaccard thresholds from ONE candidate generation at the lowest
    * (t = 1/2, lossless there, hence lossless at every higher cut) —
    * the sweep a curation team reads before committing to a dedup
    * threshold, where each point is the pair volume that t would
    * delete. All four cuts are integer cross-multiplied comparisons on
    * the same verified (inter, union) pairs; no second corpus pass.
    */
  def thresholdSweep(spark: SparkSession, dir: String,
      n: Int = 8): DataFrame =
    thresholdSweepFromSh(
      maybeHashPayload(cachedNgramHashes(spark, dir, n), hashed = true))

  private[graft] def thresholdSweepOn(docs: DataFrame,
      n: Int = 8): DataFrame =
    thresholdSweepFromSh(docs
      .select(col("doc_id"), explode(Text.wordShingles(col("text"), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h")))

  /** Shingle document-frequency profile (q193): the log2-banded df
    * distribution of the 8-gram shingle space — the tuning diagnostic
    * behind `effectiveDfCap` (how much posting mass sits in hot
    * shingles decides the cap's cost/benefit; a corpus whose mass is
    * all df=1 needs no cap, one with heavy bands is quadratic without
    * it). One df aggregate over the shared n-gram cache, band rollup.
    */
  def shingleDfProfile(spark: SparkSession, dir: String,
      n: Int = 8): DataFrame =
    cachedNgramHashes(spark, dir, n)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .select((length(bin(col("df"))) - 1).cast("long").as("log2_df_band"),
        col("df"))
      .groupBy(col("log2_df_band"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
      .orderBy(col("log2_df_band"))

  private def thresholdSweepFromSh(sh: DataFrame): DataFrame =
    prefixVerified(sh, 1, 2)
      .withColumn("u", col("na") + col("nb") - col("inter"))
      .select(expr(
        """stack(4,
             '0.5', CAST(inter * 2 >= u * 1 AS INT),
             '0.6', CAST(inter * 5 >= u * 3 AS INT),
             '0.7', CAST(inter * 10 >= u * 7 AS INT),
             '0.8', CAST(inter * 5 >= u * 4 AS INT)) AS (threshold, hit)"""))
      .groupBy(col("threshold"))
      .agg(sum(col("hit")).cast("long").as("n_pairs"))
      .orderBy(col("threshold"))

  /** Dedup-savings report (q147): the headline "what does dedup buy"
    * table — corpus size raw vs after exact-dedup canonicalization, in
    * docs, chars and whitespace tokens, with the saved fraction. Stage
    * rows so downstream dashboards diff stages, not columns.
    *
    * Scale shape: one content-hash aggregation (the q27 pass) feeding
    * both stage rows; integers except the one rounded ratio.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprintMd5(col("text")).as("fp"),
        col("n_chars"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
    val raw = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"), sum(col("n_tok")).as("n_tokens"))
    // canonical = min doc_id per content hash (the q27 rule): aggregate
    // per hash FIRST so each distinct content counts once
    val canon = docs.groupBy(col("fp"))
      .agg(min(col("n_chars")).as("c"), min(col("n_tok")).as("t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_chars"),
        sum(col("t")).as("n_tokens"))
    val r = raw.select(lit("raw").as("stage"), col("n_docs"),
      col("n_chars"), col("n_tokens"))
    val c = canon.select(lit("exact_dedup").as("stage"), col("n_docs"),
      col("n_chars"), col("n_tokens"))
    val rawTok = raw.select(col("n_tokens").as("raw_tokens"))
    c.unionByName(r)
      .crossJoin(broadcast(rawTok))
      .select(col("stage"), col("n_docs"), col("n_chars"), col("n_tokens"),
        round(lit(1.0) - col("n_tokens").cast("double") /
          col("raw_tokens").cast("double"), 6).as("saved_frac"))
      .orderBy(col("stage"))
  }

  /** Weighted-Jaccard rescoring (q144): the q121 near-dup pairs rescored
    * on token MULTISETS — Σ min(cₐ,c_b) / Σ max(cₐ,c_b) over per-token
    * occurrence counts. Set-Jaccard saturates on documents that repeat
    * the same spans; the weighted form penalizes count mismatches, so a
    * doc that quotes another once scores lower than a true near-copy —
    * the standard refinement pass after candidate generation.
    *
    * Scale shape: candidates come from the LOSSLESS q121 prefix join
    * (never all-pairs); the rescoring joins each pair against two
    * token-count vectors — candidate-bounded work. All sums are exact
    * integers; one division + 4dp round per pair.
    */
  def weightedJaccard(spark: SparkSession, dir: String): DataFrame = {
    // the candidate pair list feeds both rescoring sides — materialize
    // it so the whole q121 prefix-join pipeline runs once per action
    val pairs = prefixJaccardJoin(spark, dir).select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false)
    // token counts were evaluated once PER SIDE (two full tokenize +
    // aggregate corpus passes) with the candidate restriction applied
    // only by the later join; restrict to candidate doc ids first
    // (left_semi — a superset of each side's need, so join results are
    // unchanged) and materialize the candidate-bounded relation: one
    // corpus pass, and the checkpointed rows are pair-bounded, never
    // corpus-bounded
    val candIds = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val counts = Tables.documents(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val ca = counts.select(col("doc_id").as("id_a"), col("tok"),
      col("c").as("ca"))
    val cb = counts.select(col("doc_id").as("id_b"), col("tok"),
      col("c").as("cb"))
    // per-pair token vectors for each side, then a full outer on the
    // (pair, token) key — tokens absent on one side contribute min 0 /
    // max c; both sides are already restricted to candidate pair ids
    val au = pairs.join(ca, "id_a")
      .select(col("id_a"), col("id_b"), col("tok"), col("ca"))
    val bu = pairs.join(cb, "id_b")
      .select(col("id_a"), col("id_b"), col("tok"), col("cb"))
    au.join(bu, Seq("id_a", "id_b", "tok"), "full_outer")
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(coalesce(col("ca"), lit(0L)),
          coalesce(col("cb"), lit(0L)))).as("smin"),
        sum(greatest(coalesce(col("ca"), lit(0L)),
          coalesce(col("cb"), lit(0L)))).as("smax"))
      .select(col("id_a"), col("id_b"),
        round(col("smin").cast("double") / col("smax").cast("double"), 4)
          .as("wjaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Lossless containment join (q124): all unordered document pairs whose
    * smaller shingle set is ≥ 80 % contained in the other —
    * |A∩B| / min(|A|,|B|) ≥ 4/5 — the subset-duplicate detector Jaccard
    * misses (a paragraph quoted whole inside a long document scores low
    * J but full containment).
    *
    * Candidate rule: if |X∩Y| ≥ ⌈t·|X|⌉ then Y shares an element with
    * X's rare-first prefix of length |X| − ⌈t·|X|⌉ + 1, so joining each
    * doc's prefix against the FULL posting side covers both containment
    * directions losslessly (⌈4n/5⌉ = (4n+4) div 5, integer-exact).
    * Prefix elements are by construction each doc's globally RAREST
    * shingles, so the full-side postings met by the join are short —
    * the fan-out is df² of rare elements, like q121. Verification is
    * the same row-local array_intersect.
    */
  def containmentJoin(spark: SparkSession, dir: String,
      n: Int = 8, hashedPayload: Boolean = true): DataFrame =
    containmentJoinFromSh(
      maybeHashPayload(cachedNgramHashes(spark, dir, n), hashedPayload))

  private[graft] def containmentJoinOn(docs: DataFrame,
      n: Int = 8): DataFrame =
    containmentJoinFromSh(docs
      .select(col("doc_id"), explode(Text.wordShingles(col("text"), n)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h")))

  private def containmentJoinFromSh(sh: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val ranked = sh
      .join(sh.groupBy(col("h")).agg(count(lit(1)).as("df")), "h")
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val pref = ranked
      .filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("h"))
    val cand = pref.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("s"), count(lit(1)).as("n"))
    val sa = sets.select(col("doc_id").as("id_a"), col("s").as("sa"),
      col("n").as("na"))
    val sb = sets.select(col("doc_id").as("id_b"), col("s").as("sb"),
      col("n").as("nb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      // integer-exact threshold: C >= 4/5 ⟺ 5·inter >= 4·min(na,nb)
      // (same rationale as prefixJaccardJoinFromSh — round for display)
      .filter(col("inter") * 5 >= least(col("na"), col("nb")) * 4)
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("na"), col("nb")).cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("inter"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-source span contamination matrix (q119): for every source
    * pair, the number of DISTINCT `n`-token shingles they share — the
    * curation diagnostic for template/boilerplate leakage between
    * domains (exact-duplicate overlap is blind to it: identical spans
    * embedded in otherwise-different documents).
    *
    * Scale shape: one corpus pass builds distinct (source, shingle-md5)
    * pairs — the same materialization cost as the dedup postings build —
    * then a self equi-join on the hash. Fan-out per shingle is bounded
    * by the SOURCE count (≤ S² pair rows per hash after the per-source
    * distinct), not by document frequency, so a boilerplate span in
    * every document cannot make the join quadratic in the corpus.
    */
  def sourceSpanOverlap(spark: SparkSession, dir: String,
      n: Int = 16): DataFrame = {
    val sh = cachedNgramHashes(spark, dir, n)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("source"), col("h"))
      .distinct()
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Duplicate-cluster size histogram (q172): how many exact-dup
    * clusters exist at each multiplicity — the shape behind q147's
    * headline savings number (two clusters of 500 copies and 499
    * singletons dedup very differently from 999 pairs, at identical
    * savings). Same single content-hash shuffle as q27, then a
    * ≤|max multiplicity|-key rollup.
    */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    clusterSizeHistOn(Tables.documents(spark, dir))

  private[graft] def clusterSizeHistOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(Text.fingerprintMd5(col("text")).as("fp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Duplication × quality interaction (q222): per quality band, the
    * fraction of docs sitting in an exact-dup cluster — the curation
    * diagnostic for "do low-quality docs duplicate more?" (they
    * usually do: boilerplate is both low-entropy and mass-copied), the
    * cross of q35's score with q27's clusters that decides whether
    * dedup and quality filtering are redundant or complementary on a
    * corpus.
    *
    * Scale shape: the q27 content-hash shuffle + the q35 quality pass,
    * joined on doc_id and rolled to ≤5 band rows. The band comes from
    * the INTEGER decimillipoint score (round(quality·10⁴) recovers it
    * exactly), so banding has no FP boundary.
    */
  def dupQuality(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysisOps.qualityScore(spark, dir)
      .select(col("doc_id"), least(lit(4L),
        expr("CAST(round(quality * 10000, 0) AS BIGINT) div 2000"))
        .as("q_band"))
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprintMd5(col("text")).as("fp"))
    val cl = fp.groupBy(col("fp")).agg(count(lit(1)).as("csize"))
    fp.join(cl, "fp").join(q, "doc_id")
      .groupBy(col("q_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") >= 2L, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("q_band"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("q_band"))
  }

  /** Winnowing fingerprint profile (q205): the MOSS local-fingerprint
    * scheme (Schleimer/Wilkerson/Aiken '03) — per doc, hash every
    * positional `k`-token gram, slide a `w`-hash window, keep each
    * window's MINIMUM hash; the distinct kept set is the doc's winnowed
    * sketch. Guarantee: any shared run of ≥ w+k−1 tokens between two
    * docs shares at least one selected fingerprint — the partial-copy
    * detector that whole-doc fingerprints (q27) and random shingle
    * sampling both miss. Output: per source, sketch totals and the
    * fraction of distinct fingerprints appearing in ≥ 2 docs (the
    * intra-source boilerplate signal q206 then localizes to prefixes).
    *
    * Scale shape: the gram build is the q66 codegen fused loop; the
    * window min runs per-doc (doc_id-partitioned frame over that doc's
    * grams — never a global frame), and the rollup shuffles only the
    * DISTINCT (doc, fp) sketch rows, which winnowing bounds at ~2/(w+1)
    * of gram count. Parity: md5 gram hashes compared as hex strings
    * (lexicographic min is engine-portable), integer counts, one
    * division + 6dp round.
    */
  def winnowing(spark: SparkSession, dir: String, k: Int = 4,
      w: Int = 5): DataFrame =
    winnowingFrom(cachedWinnowSketch(spark, dir, k, w))

  /** The distinct winnowed sketch, session-cached: q205 (profile) and
    * q217 (match pairs) both start from the SAME `(doc_id, source, fp)`
    * relation, whose build (gram explode + per-doc window min) is the
    * dominant cost of each — one persisted build per session serves
    * both (guide §2.4; production MOSS-style dedup stores the sketch
    * as its standing index). The `*On` spec paths bypass as usual.
    */
  private val winnowSketchCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  private def cachedWinnowSketch(spark: SparkSession, dir: String,
      k: Int, w: Int): DataFrame =
    SessionCaches.cached(winnowSketchCache, (spark, dir, k, w))(
      winnowSketchOn(Tables.documents(spark, dir), k, w).persist())

  /** The distinct per-doc winnowed sketch `(doc_id, source, fp)` —
    * shared by the q205 profile and the q217 match pairs so the
    * selection rule cannot drift.
    */
  private[graft] def winnowSketchOn(docs: DataFrame, k: Int = 4,
      w: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), col("source"),
        posexplode(Text.tokenNgramsNative(Text.tokens(col("text")), k))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("source"), col("pos"),
        md5(col("gram")).as("h"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("n_g", count(lit(1)).over(perDoc))
      .withColumn("fp", min(col("h")).over(frame))
      // windows that are full (or the single truncated window of a
      // short doc at pos 0 — winnowing still selects its global min)
      .filter(col("pos") <= greatest(lit(0), col("n_g") - lit(w)))
      .select(col("doc_id"), col("source"), col("fp")).distinct()
  }

  /** Winnowing match pairs (q217): doc pairs sharing ≥ `minShared`
    * df-capped winnowed fingerprints — the partial-copy DETECTOR built
    * on the q205 sketch (MOSS's actual use: a shared fingerprint
    * witnesses a shared ≥k-token region, so two shared fingerprints is
    * strong overlap evidence even when whole-doc Jaccard is low —
    * the case the q28/q29 families under-weigh).
    *
    * Scale shape: the standard capped-postings funnel on an ALREADY
    * thinned relation — the winnowed sketch is ~2/(w+1) of gram count,
    * then the fp-keyed self-join is bounded by the same effectiveDfCap
    * clamp as the shingle postings (cap² per fingerprint, boilerplate
    * fps dropped). Integer counts end to end.
    */
  def winnowMatches(spark: SparkSession, dir: String, k: Int = 4,
      w: Int = 5, minShared: Long = 2L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sk = cachedWinnowSketch(spark, dir, k, w)
      .select(col("doc_id"), col("fp"))
    val rare = sk.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .join(broadcast(effectiveDfCap(docs)), col("df") <= col("cap"))
      .select(col("fp"))
    val posts = sk.join(rare, "fp")
    posts.as("a")
      .join(posts.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  private[graft] def winnowingOn(docs: DataFrame, k: Int = 4,
      w: Int = 5): DataFrame =
    winnowingFrom(winnowSketchOn(docs, k, w))

  private def winnowingFrom(sketch: DataFrame): DataFrame = {
    sketch
      .groupBy(col("source"), col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs_fp"),
        count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_selected"),
        count(lit(1)).as("n_distinct_fp"),
        sum(when(col("n_docs_fp") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      .select(col("source"), col("n_selected"), col("n_distinct_fp"),
        col("n_shared_fp"),
        round(col("n_shared_fp").cast("double") /
          col("n_distinct_fp").cast("double"), 6).as("shared_rate"))
      .orderBy(col("source"))
  }

  /** Incremental near-dup upsert (q209): the MinHash/LSH pipeline
    * restricted to CROSS pairs between a delta batch (doc_id ≡ `rem`
    * mod `mod` — the staged-ingest stand-in) and the existing base —
    * "which incoming docs near-duplicate something we already have",
    * the admission check an ingest pipeline runs per batch. Output:
    * (delta_id, base_id, jaccard ≥ threshold), exactly verified.
    *
    * Scale shape: at 100 TB the base's band buckets are a STORED index
    * (the q92 IVF-upsert pattern applied to LSH): the per-batch cost is
    * delta-sized signature computation plus a bucket equi-join into the
    * stored postings — never a base re-scan. The batch replay here
    * computes both sides from the shared cached postings (testdata has
    * no stored index) with the identical join shape; delta membership
    * only filters the verified pair set, so the oracle is the exact
    * Jaccard pair list restricted to base×delta pairs (complete banding
    * recall per [[MinhashPerms]], same argument as q29).
    */
  def minhashUpsert(spark: SparkSession, dir: String,
      threshold: Double = 0.5, mod: Int = 10, rem: Int = 7): DataFrame = {
    val isDeltaA = pmod(col("id_a"), lit(mod.toLong)) === rem
    val isDeltaB = pmod(col("id_b"), lit(mod.toLong)) === rem
    val toks = cachedShingleRows(spark, dir)
    // the delta scope cuts at the CANDIDATE stage, before exact
    // verification — base×base bucket pairs (the overwhelming majority
    // at scale) are never Jaccard-verified, only the cross pairs the
    // admission check actually asks about
    val cand = minhashBandCandidates(toks,
        effectiveDfCap(Tables.documents(spark, dir)))
      .filter(isDeltaA =!= isDeltaB)
    verifyCandidates(cand, toks, threshold)
      .select(
        when(isDeltaA, col("id_a")).otherwise(col("id_b")).as("delta_id"),
        when(isDeltaA, col("id_b")).otherwise(col("id_a")).as("base_id"),
        col("jaccard"))
      .orderBy(col("delta_id"), col("base_id"))
  }

  /** Shared-prefix boilerplate (q206): docs grouped by the md5 of their
    * first `p` tokens (whole doc when shorter) — the crawl-pipeline
    * detector for templated page heads (cookie banners, nav headers,
    * license preambles) that exact dedup misses because the tails
    * differ. Per source: doc count, prefix-group count, docs sitting in
    * a shared prefix group, and that share.
    *
    * Scale shape: one row-local prefix hash (slice + md5 — no explode,
    * the gram loop never runs), one (source, prefix) count, one
    * |sources| rollup. Integer counts, one division + 6dp.
    */
  def prefixBoilerplate(spark: SparkSession, dir: String,
      p: Int = 16): DataFrame =
    prefixBoilerplateOn(Tables.documents(spark, dir), p)

  private[graft] def prefixBoilerplateOn(docs: DataFrame,
      p: Int = 16): DataFrame =
    docs
      .select(col("source"),
        md5(concat_ws(" ", slice(Text.tokens(col("text")), 1, p)))
          .as("pfx"))
      .groupBy(col("source"), col("pfx"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_docs_shared"))
      .select(col("source"), col("n_docs"), col("n_groups"),
        col("n_docs_shared"),
        round(col("n_docs_shared").cast("double") /
          col("n_docs").cast("double"), 6).as("shared_rate"))
      .orderBy(col("source"))

  /** Suffix-order LCP panel (q354): the EXACT referee for q206's
    * fixed-prefix heuristic — the classic suffix-array device
    * (adjacent-suffix longest-common-prefix) re-expressed as a
    * partitioned window. Every token position opens a suffix
    * (truncated at `maxLcp` tokens — repeated phrases longer than the
    * cap saturate at the cap, the standard engineering trade); sorting
    * suffixes and taking the LCP of ADJACENT entries finds every
    * repeated phrase of length ≥ `minLcp` ANYWHERE in the corpus, not
    * just at document heads, with cross-document pairs split out —
    * the boilerplate-mass histogram (cookie banners, license
    * preambles, templated footers) that decides whether span-scrubbing
    * (q87) is worth running.
    *
    * Scale shape: suffix rows = total corpus tokens (×maxLcp payload —
    * the truncation knob bounds the blowup); the sort/adjacency window
    * is PARTITIONED by the suffix's first `keyTokens` tokens, never
    * global. Partitioning by a k-token prefix is EXACTLY lossless for
    * `minLcp ≥ k` UNDER THE TOKENIZER CONTRACT
    * ([[graft.functions.Text.tokens]]): no token character sorts below
    * space (0x20) — Text.tokens only collapses `\s+`, so raw control
    * bytes inside tokens would break prefix-range contiguity and the
    * k=1 vs k=2 panels could differ on such a corpus (engine ≡ oracle
    * either way — both sides use the same key; scrub control bytes
    * q87-style upstream when in doubt). Given the contract, the set of
    * suffixes sharing a k-token prefix is a CONTIGUOUS
    * range of the global (k, doc_id, pos) sort — within-range adjacency
    * equals global adjacency, and the only dropped pairs are the range
    * boundaries, whose LCP is < k by definition of the range. The
    * default is therefore the widest lossless key: 2 tokens when
    * `minLcp ≥ 2` (the 'the'-partition Zipf-skew cap — the top token of
    * a Zipfian corpus opens ~5-7% of ALL suffixes, which a 1-token key
    * lands in ONE window partition; the 2-gram ceiling is ~1%,
    * ScalingBench's planted-Zipf probe measures the drop), 1 token
    * otherwise; SuffixLcpSpec pins the two keys hash-identical on both
    * fixtures and the real corpus. Everything else is one window + one
    * enum-sized aggregate.
    */
  def suffixLcp(spark: SparkSession, dir: String, maxLcp: Int = 12,
      minLcp: Int = 3): DataFrame =
    suffixLcpOn(Tables.documents(spark, dir), maxLcp, minLcp)

  private[graft] def suffixLcpOn(docs: DataFrame, maxLcp: Int,
      minLcp: Int): DataFrame =
    suffixLcpOn(docs, maxLcp, minLcp,
      keyTokens = if (minLcp >= 2) 2 else 1)

  private[graft] def suffixLcpOn(docs: DataFrame, maxLcp: Int,
      minLcp: Int, keyTokens: Int): DataFrame = {
    require(keyTokens == 1 || keyTokens == 2,
      s"suffix window key width must be 1 or 2 tokens, got $keyTokens")
    require(keyTokens <= minLcp,
      s"a $keyTokens-token partition key drops boundary pairs with " +
        s"LCP < $keyTokens — lossless only when minLcp >= keyTokens " +
        s"(got minLcp=$minLcp)")
    // the 2nd suffix token ('' for the doc-final 1-token suffix, whose
    // pairs all have LCP <= 1 and are filtered by minLcp >= 2 anyway;
    // real tokens are never empty, so the sentinel cannot collide)
    val keyCols =
      if (keyTokens == 2)
        Seq(col("t1"), coalesce(element_at(col("s"), 2), lit("")))
      else Seq(col("t1"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*)
      .orderBy(col("k"), col("doc_id"), col("pos"))
    val sfx = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("pos", "t1")))
      .select(col("doc_id"), col("pos"), col("t1"),
        slice(col("w"), col("pos") + 1, lit(maxLcp)).as("s"))
      .withColumn("k", concat_ws(" ", col("s")))
    val adj = sfx
      .withColumn("nd", lead(col("doc_id"), 1).over(win))
      .withColumn("ns", lead(col("s"), 1).over(win))
      .filter(col("nd").isNotNull)
      // fused codegen LCP loop (TokenLcp) — the zip_with/array_position
      // HOF form is interpreted and allocates a boolean array per
      // suffix row; ExpressionsSpec pins the two ≡ on the real corpus
      .withColumn("lcp", graft.functions.Text
        .tokenLcpNative(col("s"), col("ns")))
    adj.filter(col("lcp") >= minLcp)
      .groupBy(col("lcp"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("doc_id") =!= col("nd"), 1L).otherwise(0L))
          .as("n_cross_pairs"))
      .orderBy(col("lcp"))
  }

  /** Boilerplate-divergence report (q356): the q354 referee's verdict
    * — repeated phrases live MID-document, not just at heads — turned
    * into an actionable per-source readout by composing three shipped
    * operators: q206's head-prefix grouping marks docs whose first
    * `p` tokens are shared within their source (the cheap heuristic a
    * crawl pipeline runs first), q87's span scrub ACTUALLY removes the
    * cross-document duplicated spans, and the report splits the
    * scrubbed docs into head-shared vs BODY-ONLY — the class the
    * prefix heuristic would have missed entirely, i.e. the measured
    * divergence between q206 and the suffix-LCP referee. A source
    * whose `n_body_only` ≈ `n_scrubbed` (the testdata shape) needs the
    * full scrub; a source where head-sharing dominates can run the
    * O(1)-per-doc prefix dedup instead.
    *
    * Scale shape: the prefix mark is one row-local hash + one
    * (source, prefix)-grain count window (group sizes bounded by the
    * per-source corpus); the scrub rides q87's codegen span pipeline
    * unchanged (shuffles on the span string, never all-pairs); the
    * report is one doc-grain join + one |sources| aggregate.
    */
  def boilerplateDivergence(spark: SparkSession, dir: String,
      p: Int = 16, spanLen: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source"), col("pfx"))
    val marked = docs
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(Text.tokens(col("text")), 1, p)))
          .as("pfx"))
      .withColumn("head_shared",
        count(lit(1)).over(w) >= 2)
      .select(col("doc_id"), col("source"), col("head_shared"))
    val scrub = spanScrubDF(docs, spanLen)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"))
    marked.join(scrub, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("head_shared"), 1L).otherwise(0L))
          .as("n_head_shared"),
        sum(when(col("n_kept") < col("n_tokens"), 1L).otherwise(0L))
          .as("n_scrubbed"),
        sum(when(col("n_kept") < col("n_tokens") && !col("head_shared"),
          1L).otherwise(0L)).as("n_body_only"),
        sum(col("n_tokens") - col("n_kept")).as("tokens_scrubbed"))
      .orderBy(col("source"))
  }

  /** Quality-ranked keep-list (q238): for every near-dup cluster
    * (q53's cached components), keep the member with the HIGHEST q35
    * quality score (ties by doc_id) and roll up the drops per source —
    * the curation rule production dedup actually wants: q59's
    * lowest-id keeper is arbitrary, this one keeps the best copy. The
    * spec pins that the two rules genuinely disagree on the corpus
    * (quality upgrades exist), which is the whole point of ranking.
    *
    * Scale shape: cluster membership rides the session-cached q53
    * relation; quality joins on doc_id; the keeper rank is a window
    * over cluster_id (cluster-sized partitions — bounded by the dedup
    * caps upstream); the drop set is |members − clusters| rows and
    * broadcasts back onto documents for one rollup pass. Integer
    * counts; the only FP (the quality score) is q35's own gated 4dp
    * value, used here ONLY for ordering.
    */
  def qualityKeepList(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val dropped = nearDupClusters(spark, dir)
      .join(TextAnalysisOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1)
      .select(col("doc_id").as("drop_id"))
    Tables.documents(spark, dir)
      .join(broadcast(dropped), col("doc_id") === col("drop_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("drop_id").isNull, 1)).as("n_kept"),
        count(col("drop_id")).as("n_dropped"),
        coalesce(sum(when(col("drop_id").isNotNull, col("n_chars"))),
          lit(0L)).as("dropped_chars"))
      .orderBy(col("source"))
  }

  /** Source-collision keeper matrix (q353): q238's quality keeper
    * composed at q328's cluster grain — for every near-dup cluster,
    * the keeper's source "wins" and every other member's source
    * "loses"; the matrix counts dropped docs and distinct clusters per
    * (keep_source, drop_source) cell, diagonal included (within-source
    * dedup). This is the source-level BIAS readout of a quality-ranked
    * dedup pass: a crawl source that systematically loses collisions
    * to a curated source is being (correctly or not) erased by the
    * keeper rule, and that decision should be visible as a matrix, not
    * buried in per-doc drops.
    *
    * Scale shape: rides the session-cached q53 cluster relation and
    * the q35 quality frame; the keeper rank is a window over
    * cluster-sized partitions (bounded by the dedup caps upstream);
    * the matrix is one |sources|²-bounded aggregate.
    */
  def keeperMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val ranked = nearDupClusters(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .join(TextAnalysisOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .localCheckpoint() // read by both the keeper and the drop side
    val keep = ranked.filter(col("rk") === 1)
      .select(col("cluster_id"), col("source").as("keep_source"))
    val drop = ranked.filter(col("rk") > 1)
      .select(col("cluster_id"), col("source").as("drop_source"))
    drop.join(keep, Seq("cluster_id"))
      .groupBy(col("keep_source"), col("drop_source"))
      .agg(count(lit(1)).as("n_dropped"),
        count_distinct(col("cluster_id")).as("n_clusters"))
      .orderBy(col("keep_source"), col("drop_source"))
  }

  /** Cluster-grain cross-source contamination matrix (q328): for every
    * unordered source pair, how many q53 near-dup CLUSTERS contain
    * documents of both — the cluster-level view q251's pairwise doc
    * attribution blurs (one 5-source boilerplate cluster is ONE shared
    * template, not 10 independent pairwise leaks). Rides the cached
    * cluster assignment; on top sit one grid-sized distinct and a
    * self-join of the (cluster, source) grid — cluster-count scale,
    * never corpus scale.
    */
  def clusterContamination(spark: SparkSession, dir: String): DataFrame = {
    val cs = nearDupClusters(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("cluster_id"), col("source")).distinct()
    cs.as("a").join(cs.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Greedy max-coverage data selection (q334): pick `k` documents that
    * together cover the most distinct rare shingles — the
    * facility-location/submodular-coreset selection a training-data
    * pipeline runs to build a small, maximally-diverse seed set (the
    * greedy algorithm carries the classic 1−1/e guarantee). Each round
    * selects the doc with the largest MARGINAL gain (distinct df-capped
    * shingles not yet covered; ties → smaller doc_id), then folds its
    * new shingles into the covered set. The output trace is the
    * selection order with per-round gain and the cumulative coverage
    * curve — the duplicate-aware "how fast does coverage saturate"
    * readout (a corpus of near-identical docs flatlines after round 1).
    *
    * Scale shape: `k` fixed rounds, each ONE corpus-scale pass over the
    * shared df-capped postings (two anti-joins + a doc-keyed count) and
    * a top-1 TakeOrdered — no driver-side loop over data, no collect;
    * the covered set grows by at most one doc's shingles per round and
    * is itself shuffle-joined (never broadcast-assumed). At 100 TB the
    * documented knob is stochastic-greedy: each round samples a
    * candidate pool (hash-deterministic) instead of scoring every doc —
    * same guarantee in expectation, k× cheaper.
    */
  def greedyCoverage(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame =
    greedyCoverageOn(
      cachedShingleRows(spark, dir).select(col("doc_id"), col("tok")), k)

  /** Core over an already-built distinct `(doc_id, tok)` postings
    * relation (spec entry point; tok is any long key space).
    */
  private[graft] def greedyCoverageOn(post: DataFrame,
      k: Int): DataFrame = {
    // Shrinking-RESIDUAL formulation (round-17 optimization). The
    // former loop kept `selected`/`covered` accumulators and re-derived
    // each round's gains as post ⟕̸ selected ⟕̸ covered — the covered
    // anti-join SHUFFLES the full postings relation against a GROWING
    // token list every round (k shuffles of corpus-scale rows by the
    // last round). Equivalent by induction: residual_r ≡ post minus
    // selected docs' rows minus covered tokens, so each round's gain
    // aggregate is unchanged (same counts, same (gain DESC, doc_id)
    // tie-break). The residual update removes ONE doc's rows and ONE
    // doc's residual tokens — both broadcast-sized at any corpus scale
    // — so the per-round anti-joins are map-side, never a shuffle, and
    // the relation the next round aggregates only shrinks.
    var residual = post
    val picks = Seq.newBuilder[DataFrame]
    for (r <- 1 to k) {
      val pick = residual
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1)
        .select(lit(r).as("round"), col("doc_id"), col("gain"))
        .localCheckpoint()
      picks += pick
      val newCovered = residual
        .join(pick.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("tok"))
      residual = residual
        .join(broadcast(pick.select(col("doc_id"))), Seq("doc_id"),
          "left_anti")
        .join(broadcast(newCovered), Seq("tok"), "left_anti")
        .localCheckpoint()
    }
    // cumulative coverage over the ≤k-row trace (bounded by
    // construction — the constant-grid window class)
    picks.result().reduce(_ unionByName _)
      .withColumn("covered_total",
        sum(col("gain")).over(Window.orderBy(col("round"))))
      .orderBy(col("round"))
  }

  /** Cross-source distinct-shingle overlap via HLL sketch algebra
    * (q337): for every source pair, the exact distinct-token overlap
    * and Jaccard next to a `union_within_bound` gate on the SKETCH
    * path — |A∩B| estimated as est(A) + est(B) − est(A∪B) with ONE
    * DataSketches HLL per source and pairwise `hll_union` at the
    * 20-row sketch grid. This is the sketch-algebra pattern a 100 TB
    * dedup planner actually runs: per-source sketches are built in one
    * corpus pass (mergeable, map-side partial), and every pairwise
    * union/intersection after that is METADATA-scale — no pairwise
    * corpus joins. The exact side (token-keyed join, per-token fan-out
    * bounded by the source enum²) is the test-scale referee the q42
    * contract requires; at production scale only the sketch path runs
    * and the exact columns become a sampled audit.
    *
    * Gate: |sketch∩ − exact∩| ≤ 5% of (|A|+|B|) + 1 — three stacked
    * ~1.6%-rsd estimates (lgK = 12) sit far inside it on any split.
    */
  def sketchOverlap(spark: SparkSession, dir: String): DataFrame =
    sketchOverlapFrom(cachedSourceToks(spark, dir))

  /** The distinct per-source shingle vocabulary `(source, tok)`,
    * session-cached: q337 (HLL sketch overlap) and q346 (Chapman
    * capture-recapture) run IDENTICAL builds — shingle rows ⋈ doc
    * source, distinct — and each reads it three times (per-source
    * counts, the token-keyed overlap join's two sides). One persisted
    * build serves both queries per session (guide §2.4; the
    * [[cachedDistinctShingles]] economics one join further down).
    */
  private val sourceToksCache =
    SessionCaches.newCache[(SparkSession, String)]()

  private def cachedSourceToks(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(sourceToksCache, (spark, dir))(
      cachedDistinctShingles(spark, dir)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("tok"))
        .distinct().persist())

  /** Capture-recapture vocabulary estimate (q346): treat each source
    * pair's distinct-shingle sets as two CAPTURES of one underlying
    * vocabulary and apply the Chapman estimator
    * N̂ = (n_a+1)(n_b+1) div (m+1) − 1 — the ecology kernel a corpus
    * team uses to ask "how much vocabulary exists that NO source has
    * shown us yet". `est_ratio_ppm` = N̂·10⁶ div T against the
    * observed global distinct count T: pairs of near-independent
    * sources land near 10⁶+ (the estimator sees past both), heavily
    * overlapping pairs undershoot (captures are correlated — the
    * classic violation, visible per pair). Kept non-negative so floor
    * division stays cross-engine total (PARITY 21).
    *
    * Scale shape: same economics as q337 — one pass to per-source
    * distincts, a token-keyed overlap join with enum²-bounded
    * fan-out, and a source-enum² output grid; T is one distinct count.
    */
  def chapmanEstimate(spark: SparkSession, dir: String): DataFrame =
    chapmanFrom(cachedSourceToks(spark, dir))

  private[graft] def chapmanOn(st0: DataFrame): DataFrame =
    chapmanFrom(st0.distinct().localCheckpoint())

  private def chapmanFrom(st: DataFrame): DataFrame = {
    val per = st.groupBy(col("source")).agg(count(lit(1)).as("nd"))
      .localCheckpoint()
    val ov = st.select(col("source").as("src_a"), col("tok"))
      .join(st.select(col("source").as("src_b"), col("tok")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("overlap"))
    val tot = st.select(col("tok")).distinct()
      .agg(count(lit(1)).as("t_all"))
    val grid = per.select(col("source").as("src_a"), col("nd").as("n_a"))
      .join(broadcast(per.select(col("source").as("src_b"),
        col("nd").as("n_b"))), col("src_a") < col("src_b"))
    grid.join(ov, Seq("src_a", "src_b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("overlap"), lit(0L)).as("overlap"), col("t_all"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("overlap"),
        expr("(n_a + 1) * (n_b + 1) div (overlap + 1) - 1")
          .as("chapman_est"), col("t_all"))
      .withColumn("est_ratio_ppm",
        expr("chapman_est * 1000000 div t_all"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Core over any `(source, tok)` relation (spec entry point). */
  private[graft] def sketchOverlapOn(st0: DataFrame): DataFrame =
    sketchOverlapFrom(st0.distinct().localCheckpoint())

  private def sketchOverlapFrom(st: DataFrame): DataFrame = {
    val per = st.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), hll_sketch_agg(col("tok")).as("sk"))
      .localCheckpoint()
    val ov = st.select(col("source").as("src_a"), col("tok"))
      .join(st.select(col("source").as("src_b"), col("tok")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("overlap"))
    val grid = per.select(col("source").as("src_a"),
        col("nd").as("exact_a"), col("sk").as("ska"))
      .join(broadcast(per.select(col("source").as("src_b"),
        col("nd").as("exact_b"), col("sk").as("skb"))),
        col("src_a") < col("src_b"))
    grid.join(ov, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("exact_a"), col("exact_b"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        hll_sketch_estimate(col("ska")).as("ea"),
        hll_sketch_estimate(col("skb")).as("eb"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("eu"))
      .select(col("src_a"), col("src_b"), col("exact_a"), col("exact_b"),
        col("overlap"),
        expr("overlap * 1000000 div (exact_a + exact_b - overlap)")
          .as("jaccard_ppm"),
        (abs(col("ea") + col("eb") - col("eu") - col("overlap"))
          .cast("double") <=
          lit(0.05) * (col("exact_a") + col("exact_b")).cast("double")
            + lit(1.0))
          .cast("int").as("union_within_bound"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
