package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over `documents`: BM25 scoring against the
  * corpus-built inverted index (the reference's SQL surface has no
  * retrieval operator; this is the training-data-pipeline extension a
  * quality/curation stack runs to find near-benchmark or topical docs —
  * reference context `Capstone/scripts/etl.py:583-847` ends at SQL
  * aggregation, so the index build here is new surface).
  *
  * Scale shape (the 100 TB contract):
  *  - the ONE corpus-scale shuffle is the postings build
  *    (`groupBy(doc_id, tok)`) — exactly the inverted-index
  *    materialization a production deployment runs once and reuses
  *    across query batches (it would be a bucketed table on `tok`);
  *  - the query side (query terms, per-term df, idf, corpus stats) is
  *    broadcast end-to-end — candidate generation is a broadcast hash
  *    join postings⋈terms, never a corpus⋈corpus shuffle;
  *  - per-query candidate sets are bounded by Σ df(term); a production
  *    config prunes stopword-grade terms (df cap) before scoring —
  *    this corpus's 31-token vocabulary makes every term stopword-grade,
  *    so the gate deliberately scores unpruned.
  *
  * Cross-engine parity (the q70/q83 contract): corpus stats are EXACT
  * integers (N, Σdl), so `avgdl` enters as one deterministic double
  * division; every FP constant is written as the SAME literal expression
  * on both engines (`1.2 + 1.0`, `1.0 - 0.75 + 0.75 * norm` — identical
  * IEEE op sequence, no Scala-side pre-folding: `k1 + 1` pre-computed in
  * Scala would differ from DuckDB's constant-fold by one ulp); idf
  * rounds 6dp at its stage boundary; and the per-(query, doc) score is a
  * FIXED-ORDER fold `c1 + c2 + c3` over term-rank slots (max-CASE
  * pivot), not a shuffled SUM — the q79 lesson designed out.
  */
object RetrievalOps {

  /** The q89 gate's operating point — the ONE source of truth shared by
    * [[bm25TopK]]'s defaults and the DuckDB oracle SQL (SparkEntry
    * interpolates these plus [[oracleSlotSql]] into q89), so changing
    * the default here regenerates the oracle's QUALIFY bound and its
    * fixed-order CASE slots in lockstep — they cannot silently diverge.
    */
  private[graft] val DefaultNQueries = 5
  private[graft] val DefaultNTerms = 3
  private[graft] val DefaultK = 5

  /** The oracle-side rendering of the fixed-order term-rank fold: one
    * `coalesce(max(CASE …))` slot per rank, summed in written order —
    * the same slot list [[bm25TopKOn]] folds, rendered as SQL.
    */
  private[graft] def oracleSlotSql(nTerms: Int): String =
    (1 to nTerms)
      .map(i => s"coalesce(max(CASE WHEN t_rank = $i THEN c END), 0.0)")
      .mkString("\n                       + ")

  private val postingsCache =
    SessionCaches.newCache[(SparkSession, String)]()

  /** The corpus inverted index `(doc_id, dl, tok, tf)`, session-cached
    * and persisted: the ONE corpus-scale shuffle of the retrieval
    * stack, shared by the q89 BM25 gate and the q226 RRF fusion (which
    * re-runs BM25 at k=25) — exactly the index a production deployment
    * materializes once and reuses across query batches. Registry-
    * tracked, so ScalingBench eviction still measures full pipelines.
    */
  private def cachedPostings(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.cached(postingsCache, (spark, dir))(
      postingsOf(Tables.documents(spark, dir)).persist())

  /** postings build: dl rides the groupBy key (it is functionally
    * dependent on doc_id) so no second corpus pass or join is needed
    * to recover document length at scoring time. Text is coalesced to
    * '' FIRST, so a NULL text tokenizes to [""] exactly like an empty
    * text — every document owns >= 1 posting by construction, and the
    * corpus stats derived from the index (n_docs, sum_dl) equal the
    * docs-level aggregate regardless of nulls in the data (the oracle
    * applies the same coalesce).
    */
  private def postingsOf(docs0: DataFrame): DataFrame =
    docs0
      .select(col("doc_id"),
        Text.tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        col("toks"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k: the `nQueries` lowest-id docs act as queries, each
    * represented by its `nTerms` strongest tokens (tf desc, token asc —
    * deterministic); every corpus doc is scored with Lucene-style BM25
    * (k1 = 1.2, b = 0.75, idf = ln((N − df + ½)/(df + ½) + 1)) and the
    * top `k` hits per query are returned.
    */
  def bm25TopK(spark: SparkSession, dir: String,
      nQueries: Int = DefaultNQueries, nTerms: Int = DefaultNTerms,
      k: Int = DefaultK): DataFrame =
    bm25Ranked(cachedBm25Scored(spark, dir, nQueries, nTerms), k)
      .orderBy(col("qid"), col("rk"))

  /** The full per-(query, candidate) BM25 score frame, session-cached:
    * `k` only changes the final top-k filter, so q89 (k=5), q226's
    * sparse list (k=25), and q279's feedback set (k=5) all rank the
    * SAME scored relation — previously each re-ran the whole scoring
    * pipeline (query-term pick, df, idf·tf contribution, slot fold)
    * over the postings per action. Candidate-set-bounded rows
    * (Σ df(term) per query). Guide §2.4 exchange-sharing economics;
    * the production analogue scores a query batch once and serves
    * every consumer from the scored run.
    */
  private val bm25ScoredCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  private def cachedBm25Scored(spark: SparkSession, dir: String,
      nQueries: Int, nTerms: Int): DataFrame =
    SessionCaches.cached(bm25ScoredCache, (spark, dir, nQueries, nTerms))(
      bm25ScoredOnPostings(cachedPostings(spark, dir), nQueries, nTerms)
        .persist())

  /** [[bm25TopK]] over an explicit `(doc_id, text)` frame — the spec
    * surface for adversarial corpora with known ranking structure
    * (bypasses the cache: an ad-hoc frame has no identity to key on).
    */
  private[graft] def bm25TopKOn(docs0: DataFrame, nQueries: Int = 5,
      nTerms: Int = 3, k: Int = 5): DataFrame =
    bm25OnPostings(postingsOf(docs0), nQueries, nTerms, k)

  private def bm25OnPostings(postings: DataFrame, nQueries: Int,
      nTerms: Int, k: Int): DataFrame =
    bm25Ranked(bm25ScoredOnPostings(postings, nQueries, nTerms), k)
      .orderBy(col("qid"), col("rk"))

  /** Rank/filter stage over a scored `(qid, hit_id, score)` frame,
    * unsorted: it leaves the window hash-partitioned on `qid`, which
    * [[rrfFusion]] fuses on without another exchange.
    */
  private def bm25Ranked(scored: DataFrame, k: Int): DataFrame = {
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("hit_id"))
    scored
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("qid"), col("hit_id"), col("score"), col("rk"))
  }

  /** Scoring stage: everything up to (but not including) the top-k. */
  private def bm25ScoredOnPostings(postings: DataFrame, nQueries: Int,
      nTerms: Int): DataFrame = {
    // corpus stats from the index itself: one row per doc (dl is
    // functionally dependent on doc_id, and every doc owns >= 1
    // posting — an empty text still tokenizes to [""]), so these are
    // the SAME exact integers the docs-level aggregate produced
    val stats = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    // query terms: per query doc, top-nTerms tokens (tf desc, tok asc)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("tf").desc, col("tok"))
    val queryTerms = postings.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok"), col("tf"))
      .withColumn("t_rank", row_number().over(wq))
      .filter(col("t_rank") <= nTerms)
      .select(col("qid"), col("tok"), col("t_rank"))

    // candidates: postings restricted to query terms (broadcast join);
    // df per term computed over the candidates themselves (every doc
    // containing the term is a candidate, so this IS the corpus df)
    val cand = postings.join(broadcast(queryTerms), Seq("tok"))
    val dfPerTok = cand.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))

    val norm = (col("dl") * col("n_docs")).cast("double") /
      col("sum_dl").cast("double")
    val idf = round(
      log((col("n_docs").cast("double") - col("df").cast("double") +
        lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6)
    val tfw = col("tf").cast("double") * (lit(1.2) + lit(1.0)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * norm))
    val contrib = cand
      .join(broadcast(dfPerTok), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), col("t_rank"),
        round(idf * tfw, 6).as("c"))

    // fixed-order fold over term-rank slots: c1 + c2 + c3 evaluates in
    // the written order on both engines — no shuffled float sum
    val slots = (1 to nTerms).map(i =>
      coalesce(max(when(col("t_rank") === i, col("c"))), lit(0.0)))
    contrib.groupBy(col("qid"), col("doc_id"))
      .agg(round(slots.reduceLeft(_ + _), 4).as("score"))
      .withColumnRenamed("doc_id", "hit_id")
  }

  /** Reciprocal-rank fusion (q226): hybrid retrieval — fuse the BM25
    * lexical top-`kEach` ([[bm25TopK]]) with the dense cosine top-`kEach`
    * ([[SimilarityOps.bruteForceTopK]], vec_id ≡ doc_id in the testdata
    * star schema) via RRF = Σ_lists 1/(60 + rank), the standard
    * score-free fusion for sparse+dense retrieval stacks. The missing
    * step between the two retrieval families and the q101/q207/q218
    * eval triad.
    *
    * Parity: ONLY ranks cross the fusion boundary — never either
    * list's float scores — and each reciprocal is the exact integer
    * `1000000 div (60 + rk)` (both engines' integer division; no
    * discount table needed because unlike q207's log the divisor is
    * already integral). Fused order (rrf_e6 DESC, hit_id) is total.
    * Absent-from-list is rank 0 in the output (never a contribution).
    *
    * Scale shape: both input lists end per-query-bounded (≤ kEach rows
    * per query), so the fusion and re-rank run at query-batch scale —
    * negligible next to the two retrieval passes, which keep their own
    * documented 100 TB shapes.
    *
    * Fusion is a union of the two lists, each zero-filling the other's
    * rank column, grouped by (qid, hit_id) with `max`: (qid, hit_id) is
    * unique within each list, so every group holds one row per list it
    * appears in, and that equals a full-outer join with absent ranks
    * coalesced to 0. Both lists leave their top-k windows
    * hash-partitioned on the query id, and the union keeps that
    * partitioning (`spark.sql.unionOutputPartitioning`, on by default),
    * so the aggregate and the fused window run without an exchange. A
    * sorted input list would break this — a global sort under a union
    * is not eliminated — hence the unsorted ranked lists; PlanSpec's
    * q226 pin fails if an exchange or a shuffled join comes back.
    */
  def rrfFusion(spark: SparkSession, dir: String,
      nQueries: Int = DefaultNQueries, kEach: Int = 25,
      k: Int = 10): DataFrame = {
    val sparse = bm25Ranked(
      cachedBm25Scored(spark, dir, nQueries, DefaultNTerms), kEach)
    val dense = SimilarityOps.bruteForceRanked(spark, dir, nQueries, kEach)
      .select(col("query_id").as("qid"), col("neighbor_id").as("hit_id"),
        col("rk"))
    rrfFusionOn(sparse, dense, k)
  }

  /** [[rrfFusion]] over two explicit `(qid, hit_id, rk)` lists, each
    * unique on (qid, hit_id).
    */
  private[graft] def rrfFusionOn(sparse: DataFrame, dense: DataFrame,
      k: Int): DataFrame = {
    val fused = sparse
      .select(col("qid"), col("hit_id"), col("rk").as("rk_sparse"),
        lit(0).as("rk_dense"))
      .union(dense.select(col("qid"), col("hit_id"), lit(0).as("rk_sparse"),
        col("rk").as("rk_dense")))
      .groupBy(col("qid"), col("hit_id"))
      .agg(max(col("rk_sparse")).as("rk_sparse"),
        max(col("rk_dense")).as("rk_dense"))
      .withColumn("rrf_e6",
        coalesce(expr("1000000 div (60 + nullif(rk_sparse, 0))"), lit(0L)) +
          coalesce(expr("1000000 div (60 + nullif(rk_dense, 0))"), lit(0L)))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_e6").desc, col("hit_id"))
    fused.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("hit_id"), col("rk_sparse"), col("rk_dense"),
        col("rrf_e6"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Pseudo-relevance-feedback query expansion (q279): for each query,
    * the top-`expK` candidate expansion terms — the terms with the
    * highest summed TF across the query's BM25 top-`fbDocs` feedback
    * docs, excluding the query's own terms — the RM1-style first step
    * of every classic relevance-feedback loop (and the lexical
    * analogue of embedding-space query refinement). Term selection is
    * pure integer TF arithmetic; the only floats live inside the
    * already-parity-pinned BM25 ranking that picks the feedback set
    * (q89's 4dp contract).
    *
    * Scale shape: rides the session-cached postings index; the
    * feedback set is (queries × fbDocs) rows broadcast against the
    * postings, so expansion mining touches only the feedback docs'
    * posting rows; own-term exclusion is a broadcast left_anti.
    */
  def prfExpansion(spark: SparkSession, dir: String,
      nQueries: Int = DefaultNQueries, nTerms: Int = DefaultNTerms,
      fbDocs: Int = DefaultK, expK: Int = 3): DataFrame = {
    val postings = cachedPostings(spark, dir)
    val fbSet = bm25Ranked(
        cachedBm25Scored(spark, dir, nQueries, nTerms), fbDocs)
      .select(col("qid"), col("hit_id").as("doc_id"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("tf").desc, col("tok"))
    val ownTerms = postings.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok"), col("tf"))
      .withColumn("t_rank", row_number().over(wq))
      .filter(col("t_rank") <= nTerms)
      .select(col("qid"), col("tok"))
    val fb = postings.join(broadcast(fbSet), Seq("doc_id"))
      .groupBy(col("qid"), col("tok"))
      .agg(sum(col("tf")).as("sum_tf"))
      .join(broadcast(ownTerms), Seq("qid", "tok"), "left_anti")
    fb.withColumn("exp_rank", row_number().over(Window
        .partitionBy(col("qid"))
        .orderBy(col("sum_tf").desc, col("tok"))))
      .filter(col("exp_rank") <= expK)
      .select(col("qid"), col("exp_rank").cast("int").as("exp_rank"),
        col("tok").as("exp_term"), col("sum_tf"))
      .orderBy(col("qid"), col("exp_rank"))
  }

  /** Positional proximity search (q269): documents where `termA` occurs
    * within `window` token positions of `termB`, with the pair-match
    * count and the first matching position of `termA` — the NEAR/k
    * operator of a full-text engine, and the one retrieval surface the
    * BM25/RRF stack cannot express because it needs token POSITIONS,
    * not bags. The index row is the positional posting
    * `(doc, term, pos)` — what a production inverted index stores per
    * occurrence — and the proximity test is a per-doc self-join of two
    * term slices of it.
    *
    * Scale shape: the postings build is one corpus scan (posexplode),
    * filtered to the two query terms BEFORE any shuffle, so the join
    * input is occurrence-scale for two terms, not corpus-scale (in a
    * deployment the postings are a bucketed table on term and this
    * probe never rescans the corpus); the join keys on doc_id with a
    * position-band predicate — per-doc occurrence lists are
    * length-bounded, so the band join is quadratic only within one
    * doc's two short lists. Counts are exact integers; the global
    * top-`k` is a TakeOrdered on the (matches DESC, doc_id) total
    * order.
    */
  def proximitySearch(spark: SparkSession, dir: String,
      termA: String = "table", termB: String = "scan",
      window: Int = 3, k: Int = 25): DataFrame =
    proximitySearchOn(Tables.documents(spark, dir), termA, termB,
      window, k)

  private[graft] def proximitySearchOn(docs: DataFrame, termA: String,
      termB: String, window: Int, k: Int): DataFrame = {
    val pos = docs
      .select(col("doc_id"), posexplode(Text.tokens(col("text")))
        .as(Seq("p0", "term")))
      .filter(col("term").isin(termA, termB))
      .select(col("doc_id"), col("term"), (col("p0") + 1).as("p"))
    val a = pos.filter(col("term") === termA)
      .select(col("doc_id"), col("p").as("pa"))
    val b = pos.filter(col("term") === termB)
      .select(col("doc_id"), col("p").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pa")).cast("long").as("first_pos"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** Dirichlet-smoothed query-likelihood retrieval (q309): the OTHER
    * classical lexical scoring family next to BM25 —
    * `p(t|d) = (tf + μ·p(t|C)) / (dl + μ)`, ranked by the query-term
    * product. Where the q89 BM25 gate tames floats with fixed-order
    * folds, QLM here is INTEGER end-to-end: the collection model
    * enters as `cfppm = cf·1e6 div Σdl`, each per-term ratio floors
    * to ppb (`(tf·1e6 + μ·cfppm)·1e9 div ((dl+μ)·1e6)` ≤ 1e9 — the
    * numerator is ≤ the denominator by construction), and the score
    * is the exact ppb PRODUCT over the `nTerms` term-rank slots on
    * DECIMAL(38,0)/HUGEINT (≤1e27 for 3 terms; a missing slot — a
    * query with fewer distinct tokens — multiplies the neutral 1e9 ≙
    * ratio 1.0). Ranking on the full product; the reported column
    * floors to `score_e18 = s div 1e9` so it rides a BIGINT.
    *
    * Dirichlet smoothing is also why the candidate grid differs from
    * BM25's: a doc missing a query term still scores (the smoothed
    * collection mass), so the grid is (docs containing ≥1 term) ×
    * (that query's terms), with tf left-joined and coalesced to 0 —
    * bounded by Σdf · nTerms, built on the SAME session-cached
    * postings index as q89/q226/q279 (one corpus shuffle for the
    * whole retrieval stack).
    */
  def qlmTopK(spark: SparkSession, dir: String,
      nQueries: Int = DefaultNQueries, nTerms: Int = DefaultNTerms,
      k: Int = DefaultK, mu: Long = 1000L): DataFrame =
    qlmOnPostings(cachedPostings(spark, dir), nQueries, nTerms, k, mu)

  private[graft] def qlmTopKOn(docs0: DataFrame, nQueries: Int = 5,
      nTerms: Int = 3, k: Int = 5, mu: Long = 1000L): DataFrame =
    qlmOnPostings(postingsOf(docs0), nQueries, nTerms, k, mu)

  private def qlmOnPostings(postings: DataFrame, nQueries: Int,
      nTerms: Int, k: Int, mu: Long): DataFrame = {
    val sumDl = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(sum(col("dl")).as("sum_dl"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("tf").desc, col("tok"))
    val queryTerms = postings.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok"), col("tf"))
      .withColumn("t_rank", row_number().over(wq))
      .filter(col("t_rank") <= nTerms)
      .select(col("qid"), col("tok"), col("t_rank"))
    // collection model in ppm — term totals over the WHOLE index
    val cfppm = postings.groupBy(col("tok"))
      .agg(sum(col("tf")).as("cf"))
      .join(broadcast(queryTerms.select(col("tok")).distinct()),
        Seq("tok"), "left_semi")
      .crossJoin(broadcast(sumDl))
      .select(col("tok"),
        expr("CAST(CAST(cf AS decimal(38,0)) * 1000000 DIV sum_dl" +
          " AS BIGINT)").as("cfppm"))
    // candidate docs (≥1 term) × that query's terms, tf coalesced
    val candDocs = postings.join(broadcast(queryTerms), Seq("tok"))
      .select(col("qid"), col("doc_id"), col("dl")).distinct()
    val cells = candDocs
      .join(broadcast(queryTerms), Seq("qid"))
      .join(broadcast(cfppm), Seq("tok"))
      .join(postings.select(col("doc_id"), col("tok"), col("tf")),
        Seq("doc_id", "tok"), "left")
      .select(col("qid"), col("doc_id"), col("t_rank"),
        expr(s"CAST((CAST(coalesce(tf, 0) AS decimal(38,0)) * 1000000" +
          s" + $mu * cfppm) * 1000000000" +
          s" DIV (CAST(dl + $mu AS decimal(38,0)) * 1000000) AS BIGINT)")
          .as("r"))
    val slots = (1 to nTerms).map(i =>
      coalesce(max(when(col("t_rank") === i, col("r"))), lit(1000000000L))
        .cast("decimal(38,0)"))
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("s").desc, col("hit_id"))
    cells.groupBy(col("qid"), col("doc_id"))
      .agg(slots.reduceLeft(_ * _).as("s"))
      .withColumnRenamed("doc_id", "hit_id")
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("qid"), col("hit_id"),
        expr("CAST(s DIV 1000000000 AS BIGINT)").as("score_e18"),
        col("rk"))
      .orderBy(col("qid"), col("rk"))
  }
}
