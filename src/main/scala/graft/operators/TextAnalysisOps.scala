package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: language-ID (stopword
  * heuristic), quality scoring, token counting, fingerprinting. All
  * row-local expressions → embarrassingly parallel, no shuffle except the
  * final presentation ordering.
  */
object TextAnalysisOps {

  /** Tiny per-language lexica for the n-gram/stopword heuristic. */
  val lexica: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private def langScore(toks: Column, lex: Seq[String]): Column =
    size(filter(toks, t => t.isin(lex.map(lit(_)): _*)))

  /** Language-ID: argmax of per-language stopword hits with a fixed
    * tiebreak order (en > es > fr > de > zh > und). Deterministic; falls
    * back to "und" when no lexicon matches.
    */
  def langIdExpr(text: Column): Column = {
    val toks = Text.tokens(text)
    val scores = Seq("en", "es", "fr", "de", "zh").map(l => (l, langScore(toks, lexica(l))))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und")): Column) {
      case (acc, (l, s)) => acc.when(s === best, lit(l))
    }.otherwise(lit("und"))
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), langIdExpr(col("text")).as("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_pred"))

  /** Quality score in [0,1]: length band + stopword presence − punctuation
    * excess + token diversity. Computed in integer "decimillipoints" so no
    * floating-point rounding boundary exists (cross-engine hash-stable);
    * only the final /10000.0 touches doubles.
    *
    * Single-row Column-API formulation, kept as the semantic reference and
    * for per-row callers. [[qualityScore]] does NOT use it: each
    * sub-expression re-runs the tokenize regex (Catalyst does not CSE
    * across interpreted HOF lambdas, and CollapseProject re-inlines
    * "materialized" columns), which benched 5.3s vs 0.4s at sf0.1 for the
    * whole-table query.
    */
  def qualityExpr(text: Column): Column = {
    val toks = Text.tokens(text)
    val nTok = size(toks)
    val lengthBand = when(nTok.between(20, 1000), lit(400))
      .when(nTok.between(5, 19), lit(200)).otherwise(lit(0))
    val stopBand = when(Text.stopwordRatio(text).between(0.01, 0.6), lit(300))
      .otherwise(lit(0))
    val punctPenalty = when(Text.punctRatio(text) > 0.2, lit(200)).otherwise(lit(0))
    // diversity in [0,3000]: floor(distinct*3000/n) — exact integer result
    val diversity = when(nTok > 0,
      floor(size(array_distinct(toks)).cast("double") * 3000.0 / nTok.cast("double"))
        .cast("long")).otherwise(lit(0L))
    val scoreInt = greatest(lit(0L),
      (lengthBand + stopBand - punctPenalty).cast("long") * 10 + diversity)
    (scoreInt.cast("double") / lit(10000.0)).as("quality")
  }

  /** Whole-table quality scoring in the explode+agg shape: tokenize ONCE
    * per row, then all token-derived bands come from one groupBy(doc_id).
    * Same result as [[qualityExpr]] per doc; one narrow shuffle on doc_id
    * instead of 4-6 re-runs of the tokenize regex per row.
    *
    * The punct ratio is computed in its OWN row-local branch and equi-joined
    * on doc_id: projecting it alongside the explode puts the projection
    * above the Generate, where its two regexes re-run per TOKEN row
    * (benched 14s vs 0.3s at sf0.1 — per-doc expressions must never share a
    * projection with a generator output).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val textMetrics = docs.select(col("doc_id"), Text.punctRatio(col("text")).as("pr"))
    // two-level aggregation (doc_id, tok) -> doc_id instead of
    // countDistinct beside plain aggs, which would Expand every token row
    // through the aggregation (the q42ApproxDistinct trap)
    val m = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("tok").isin(Text.stopwords: _*), col("c"))
          .otherwise(lit(0L))).as("n_stop"))
      .join(textMetrics, "doc_id")
    // split() always yields >= 1 element, so every doc survives the explode
    // and n_tok >= 1 — the nTok=0 guards of qualityExpr are vacuous here
    val lengthBand = when(col("n_tok").between(20, 1000), lit(400))
      .when(col("n_tok").between(5, 19), lit(200)).otherwise(lit(0))
    val sr = col("n_stop").cast("double") / col("n_tok").cast("double")
    val stopBand = when(sr.between(0.01, 0.6), lit(300)).otherwise(lit(0))
    val punctPenalty = when(col("pr") > 0.2, lit(200)).otherwise(lit(0))
    val diversity =
      floor(col("n_distinct").cast("double") * 3000.0 / col("n_tok").cast("double"))
        .cast("long")
    val scoreInt = greatest(lit(0L),
      (lengthBand + stopBand - punctPenalty).cast("long") * 10 + diversity)
    m.select(col("doc_id"),
        col("n_tok").cast("int").as("n_tokens"),
        (scoreInt.cast("double") / lit(10000.0)).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + BPE-ish subword atoms per doc,
    * plus corpus totals per source.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        Text.tokenCount(col("text")).as("ws_tokens"),
        Text.bpeishTokenCount(col("text")).as("bpe_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  /** Top word-bigrams per language: n-gram frequency ranking (the
    * vocabulary-profiling pass of a corpus pipeline). Shingle-explode →
    * count per (lang, bigram) → window rank with total tie-break.
    */
  def topNgrams(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bigrams via posexplode + lead (whole-stage codegen) instead of the
    // per-row interpreted shingle transform; distinct-per-doc matches the
    // list_distinct semantics of wordShingles
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("next_tok", lead(col("tok"), 1).over(wDoc))
      .filter(col("next_tok").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", col("tok"), col("next_tok")).as("bigram"))
      .dropDuplicates("doc_id", "bigram")
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("bigram"), col("n"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Portable content fingerprints: md5 of canonical text. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprintMd5(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Rolling-hash fingerprint variant (order-sensitive, Spark-only). */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.rollingFingerprint(col("text")).as("rfp"))
      .orderBy(col("doc_id"))

  /** Within-document repetition ratio (a Gopher-style corpus-filter
    * signal): 1 − distinct_bigrams/total_bigrams per doc, high values =
    * boilerplate/spam. Two-level aggregation — groupBy(doc_id, bigram)
    * then groupBy(doc_id) — so the distinct count needs no Expand pass,
    * and the per-doc division is the only floating-point step (rounded).
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("next_tok", lead(col("tok"), 1).over(wDoc))
      .filter(col("next_tok").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("next_tok")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct"))
      .withColumn("rep_ratio", round(lit(1.0) -
        col("n_distinct").cast("double") / col("n_bigrams").cast("double"), 4))
      .orderBy(col("doc_id"))
  }

  /** Word-length profile filter (Gopher rule analog): mean token length
    * per doc, flagging docs whose mean falls outside [3, 10] — short means
    * are symbol soup, long means are concatenated junk. Row-local explode
    * + one groupBy; the division is rounded for cross-engine parity.
    */
  def wordLengthProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("n_chars"))
      .withColumn("mean_len",
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4))
      .withColumn("flagged",
        (col("mean_len") < 3.0 || col("mean_len") > 10.0).cast("int"))
      .orderBy(col("doc_id"))

  /** Token-distribution entropy per doc (in bits): −Σ (c/n)·log₂(c/n)
    * over the token frequency distribution — the repetitiveness signal
    * (spam/boilerplate sits at low entropy for its length). Two-level
    * aggregation (no Expand); the only floating-point steps are the final
    * per-token-type terms, summed then rounded.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      // + 0.0 normalizes the IEEE −0.0 a single-token doc produces
      // (−sum(1·log₂1)) so both engines emit +0.0
      .agg(max(col("n")).as("n_tokens"),
        round(-sum((col("c") / col("n")) *
          log(2.0, col("c") / col("n"))) + lit(0.0), 4).as("entropy_bits"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("entropy_bits"))
      .orderBy(col("doc_id"))

  /** Gopher-style rule-suite stopword list (Rae et al. 2021 §A1.1: a doc
    * must contain ≥ 2 of these to pass the "stop word" rule).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style composite quality rules (the repetition rules live in
    * [[repetitionRatio]]; this is the word-statistics suite): word-count
    * band, mean-word-length band, minimum stopword hits, minimum
    * alphabetic-word fraction — plus the conjunction verdict a filter
    * stage consumes. One explode + one codegen'd groupBy (all four
    * signals are conditional aggregates over the same token rows — no
    * Expand, no second pass over the text). Thresholds are compared on
    * the ROUNDED values so the verdict is reproducible cross-engine.
    * Line-based Gopher rules (bullet/ellipsis lines) are omitted: the
    * corpus has no line structure to exhibit them.
    */
  def gopherRules(spark: SparkSession, dir: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopHits: Long = 2, minAlphaFrac: Double = 0.8): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        round(sum(length(col("tok"))).cast("double") / count(lit(1)), 4)
          .as("mean_word_len"),
        sum(when(col("tok").isin(GopherStopwords.map(x => x: Any): _*), 1L)
          .otherwise(0L)).as("stop_hits"),
        round(sum(when(col("tok").rlike("[a-z]"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("alpha_frac"))
      .withColumn("passes",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen &&
          col("stop_hits") >= minStopHits && col("alpha_frac") >= minAlphaFrac)
          .cast("int"))
      .orderBy(col("doc_id"))

  /** Corpus-LM perplexity proxy (the CCNet-style typicality signal):
    * score each document's cross-entropy under an add-one-smoothed BIGRAM
    * model fit on the whole corpus — P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V).
    * Low bits ≈ boilerplate/templated text, high bits ≈ atypical/noisy —
    * the opposite axis from [[tokenEntropy]] (within-doc repetition):
    * a doc of globally-common bigrams scores low here even if internally
    * diverse. Shapes: bigram rows via the posexplode + lead window
    * (codegen, same as [[repetitionRatio]]); model = two corpus-level
    * groupBys (map-side combined); scoring joins shuffle on the bigram /
    * prefix keys — never broadcast-forced, so the same plan works when
    * the model outgrows one executor; V is a 1-row broadcast frame.
    * Cross-engine determinism: per-doc sums are ≤ a few hundred log
    * terms rounded at 4dp AFTER summation (the q67 contract).
    */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w2", lead(col("tok"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"))
    val vDf = broadcast(Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v")))
    val bigramCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val prefixCounts = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    bigrams
      .join(bigramCounts, Seq("w1", "w2"))
      .join(prefixCounts, Seq("w1"))
      .crossJoin(vDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(log(2.0,
          (col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
          / count(lit(1)), 4).as("cross_entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Session cache for the q78 sketch: ≤ capacity+1 rows, but its
    * lineage is a full corpus pass and the frame has two consumers (the
    * recount's broadcast semi-filter + the verdict join) — uncached,
    * each consumer re-runs the sketch aggregation. Registry-routed so
    * `clearSessionCaches` releases it with everything else.
    */
  private val hhSketchCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** Heavy-hitter tokens via the typed Misra-Gries sketch (q78) — the
    * bounded-memory path to "top tokens over 100 TB": the sketch carries
    * at most `capacity` counters per partial aggregation regardless of
    * corpus size (vs an exact groupBy shuffling every distinct token),
    * then ONLY the sketch's ≤ capacity candidates are exactly re-counted
    * (a broadcast semi-filter before the groupBy, so the recount shuffles
    * a capacity-bounded key set). The bound's N rides out of the sketch
    * itself (`MGBuf.processed`) — no separate corpus pass to count
    * tokens. Output: the top `k` candidates by exact count with the MG
    * error-envelope verdict — exact counts, never raw estimates, because
    * estimates depend on merge order (only the envelope is
    * deterministic; see [[graft.functions.MisraGriesAggregator]]).
    *
    * Gate honesty (the q42/q72 pattern): this corpus has 31 distinct
    * tokens, so at the default capacity 64 the sketch is in its EXACT
    * regime (no decrement ever fires) and the oracle compares the true
    * top-k cell-exact, `within_bound` pinned at 1. The approximation
    * regime — decrements, trimming merges, the inclusion guarantee for
    * freq > N/(capacity+1) — cannot be exhibited by this vocabulary and
    * is proven instead by the adversarial spec (capacity ≪ distinct,
    * forced multi-partition merges).
    */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 10,
      capacity: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.functions.MisraGriesAggregator
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
    val sketch = SessionCaches.cached(hhSketchCache, (spark, dir, capacity))(
      toks.as[String]
        .select(new MisraGriesAggregator(capacity).toColumn)
        .toDF("counters", "total") // case-class output flattens to 2 cols
        .select(explode(col("counters")).as(Seq("tok", "est")), col("total"))
        .persist())
    val exact = toks.join(broadcast(sketch.select(col("tok"))), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    sketch.join(exact, Seq("tok"))
      .select(col("tok"), col("n"),
        (col("est") >= col("n") - floor(col("total") / (capacity + 1)) &&
          col("est") <= col("n")).cast("int").as("within_bound"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)
  }

  /** q38 gate: the rolling fingerprint's equivalence classes must be in
    * bijection with the (engine-portable) md5 content classes — equal
    * canonical content ⇔ equal rolling fp, and no 64-bit collisions across
    * classes. The raw fp values aren't portable (xxhash64), but the class
    * structure is: DuckDB supplies all four counts from md5 alone, so a
    * collision (n_rolling < n_md5) or a split (n_joint > n_md5) is a hard
    * hash mismatch.
    */
  def rollingFpGate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(Text.fingerprintMd5(col("text")).as("fp"),
        Text.rollingFingerprint(col("text")).as("rfp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_md5_classes"),
        countDistinct(col("rfp")).as("n_rolling_classes"),
        countDistinct(col("fp"), col("rfp")).as("n_joint_classes"))

  /** Count-Min sketch point-query profile (q90) — the other half of the
    * bounded-memory counting pair: [[heavyHitters]] (Misra-Gries, q78)
    * finds WHICH tokens are heavy; this answers "how often did token x
    * occur" for any x from a `d × w` cell grid that never grows with the
    * corpus. One corpus pass builds the sketch (mergeable partial
    * buffers, any merge order — see [[graft.functions
    * .CountMinAggregator]]); the probe stage reads estimates for the
    * top-`k` exact tokens by joining the probe frame against the
    * broadcast 1-row sketch and decoding the md5 bucket per row
    * in-expression (the q83 instr hex decode — identical in DuckDB, so
    * the RAW estimates hash-gate: CMS cells are order-independent
    * integer sums, deterministic where MG's estimates are not).
    *
    * Gate honesty (the q78 pattern): this corpus's 31-token vocabulary
    * at w = 64 exhibits few or no collisions, so the gate pins mostly
    * `est = n` plus the deterministic `est ≥ n` side of the CMS
    * guarantee; the collision/approximation regime (distinct ≫ w) and
    * merge-order determinism are spec-gated adversarially.
    */
  def cmsProfile(spark: SparkSession, dir: String, d: Int = 4,
      w: Int = 64, k: Int = 10): DataFrame = {
    import spark.implicits._
    import graft.functions.CountMinAggregator
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
    val sketch = SessionCaches.cached(cmsSketchCache, (spark, dir, d, w))(
      toks.as[String]
        .select(new CountMinAggregator(d, w).toColumn)
        .toDF("cells", "total") // case-class output flattens to 2 cols
        .persist())
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(k)
    val bucketAt = (i: Int) => cmsBucketAt(i, w)
    val est = (0 until d)
      .map(i => element_at(col("cells"), (lit(i * w) + bucketAt(i) + lit(1)).cast("int")))
      .reduceLeft((a, b) => least(a, b))
    probes.crossJoin(broadcast(sketch))
      .select(col("tok"), col("n"), est.as("est"))
      .withColumn("overest_ok", (col("est") >= col("n")).cast("int"))
      .orderBy(col("n").desc, col("tok"))
  }

  private val cmsSketchCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  /** Row `i`'s CMS bucket for the token in column `tok` — the
    * relational mirror of [[graft.functions.CountMinAggregator]]'s
    * md5 bucket rule (first 3 hex chars of md5(tok + "_" + i) mod w),
    * shared by the q90 probe side and the windowed streaming sketch
    * ([[graft.streaming.SketchStream.cmsDailyCells]]).
    */
  private[graft] def cmsBucketAt(i: Int, w: Int): Column =
    (expr(s"(instr('0123456789abcdef', substring(md5(concat(tok, '_', $i)), 1, 1)) - 1)") * lit(256)
      + expr(s"(instr('0123456789abcdef', substring(md5(concat(tok, '_', $i)), 2, 1)) - 1)") * lit(16)
      + expr(s"(instr('0123456789abcdef', substring(md5(concat(tok, '_', $i)), 3, 1)) - 1)")) % lit(w)

  /** Hashed-bag-of-words linear classifier scoring (q83) — the
    * model-inference-at-scale shape every corpus-quality pipeline runs
    * (fastText-style: per-token feature weight, mean-pooled per doc,
    * thresholded): one explode + one partial-agg groupBy, zero joins,
    * everything codegen'd builtins. The per-token weight here is derived
    * in-expression from md5 (the hashing-trick feature map with a
    * deterministic stand-in "model"; a LEARNED model swaps in as a
    * broadcast bucket→weight array without changing any plan shape — the
    * weight lookup stays row-local either way).
    *
    * Parity (q70 contract): weights are DYADIC rationals —
    * `(hex3(md5(tok)) − 2048) / 4096` with hex3 the first three hex
    * digits via `instr('0123456789abcdef', c)` (identical in both
    * engines) — so every per-doc sum is EXACT in double arithmetic
    * (≤ 2^12 denominators over ≤ thousands of terms never round), which
    * makes the shuffled partial-agg sum order-INDEPENDENT by
    * construction: the one FP hazard class (q79's lesson) is designed
    * out rather than ordered. The logit rounds at 6dp only after the
    * exact sum; `label = logit > 0` (sigmoid is monotone — applying it
    * would only add a cross-engine exp() hazard, so the gate emits the
    * logit).
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val hexVal = (i: Int) =>
      expr(s"instr('0123456789abcdef', substring(md5(tok), $i, 1)) - 1")
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("wt",
        (hexVal(1) * lit(256) + hexVal(2) * lit(16) + hexVal(3) - lit(2048))
          .cast("double") / lit(4096.0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("wt")) / count(lit(1)), 6).as("logit"))
      .withColumn("label",
        when(col("logit") > 0, lit(1)).otherwise(lit(0)).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Active-learning uncertainty sample (q142): the k documents whose
    * classifier logit (q83 — exact dyadic sums, 6dp round) sits nearest
    * the decision boundary, i.e. smallest |logit| — the margin-sampling
    * batch a labeling loop sends for human annotation. `abs` of an
    * already-rounded value adds no FP hazard; (margin asc, doc_id) is a
    * total order so the LIMIT is deterministic.
    *
    * Scale shape: reuses q83's single corpus pass; the top-k is a
    * count-bounded sort over per-doc rows.
    */
  def uncertaintySample(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame =
    qualityClassifier(spark, dir)
      .select(col("doc_id"), col("logit"), abs(col("logit")).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(k)

  /** One BPE merge step (q98): adjacent character-pair frequencies over
    * every corpus word occurrence, top `k` — the statistic a subword
    * vocabulary build computes per merge iteration (the pair with the
    * highest count becomes the next merge rule).
    *
    * Scale shape: the explode is linear in corpus characters and stays
    * row-local inside whole-stage codegen (`substring(w, i, 2)` over a
    * `sequence` explode — no UDF); the aggregate's key space is the
    * character-bigram alphabet (≤ |Σ|², thousands), so map-side partial
    * aggregation collapses the corpus before the one tiny shuffle, and
    * the top-k is a broadcast-scale sort. At 100 TB this is a full-scan,
    * near-zero-shuffle job — exactly how a production BPE trainer's
    * count step behaves. Ranking is (count DESC, pair ASC): a TOTAL
    * order, so LIMIT k is deterministic on both engines. Counts are
    * integers — no FP anywhere.
    */
  def bpePairMerge(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Per-document TF-IDF keywords (q99): the `k` highest tf·idf tokens
    * per document (restricted to `doc_id < nDocs` to bound the gate's
    * dump), with df computed over the FULL corpus — the keyword
    * extraction step behind topical routing / cluster labeling in a
    * curation pipeline.
    *
    * Scale shape: tf is the postings aggregate (the one corpus-scale
    * shuffle, same relation the retrieval stack builds anyway); df
    * aggregates the postings to vocabulary scale and BROADCASTS back —
    * a vocabulary is ≪ corpus at any SF, so the scoring join is
    * broadcast-hash, never corpus⋈corpus.
    *
    * Parity: idf = ln(N/df) rounds 6dp at its boundary, then ONE
    * multiply by the integer tf, rounded 6dp — a single product per
    * cell, no cross-engine sum ordering anywhere (the q79 lesson:
    * don't order the hazard, design it out).
    */
  def tfidfTerms(spark: SparkSession, dir: String, nDocs: Int = 20,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocsRow = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.filter(col("doc_id") < nDocs)
      .join(broadcast(dfc), Seq("tok"))
      .crossJoin(broadcast(nDocsRow))
      .withColumn("score", round(col("tf").cast("double") *
        round(log(col("n_docs").cast("double") / col("df").cast("double")),
          6), 6))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Vocabulary-coverage / OOV profile (q116): build the top-`vocabSize`
    * corpus vocabulary by token frequency (ties broken token-asc — a
    * total order, so the V-th slot is engine-independent), then report
    * per source the token total, out-of-vocabulary count, and OOV rate —
    * the tokenizer-fit diagnostic run before committing a vocab to a
    * training run.
    *
    * Scale shape: two corpus passes. Pass 1 is the token-count shuffle
    * (map-side combine) feeding a top-V via orderBy+limit — the partial
    * top-V is taken per partition before the single-reduce, so only
    * V·partitions rows move. Pass 2 re-scans with the vocab BROADCAST
    * as a left join (V rows, never corpus⋈corpus) into a per-source agg.
    * OOV rate is one division then a 6dp round — no cross-engine sum
    * hazard (rates are non-negative, so no signed-zero exposure).
    */
  def vocabCoverage(spark: SparkSession, dir: String,
      vocabSize: Int = 1000): DataFrame =
    vocabCoverageOn(Tables.documents(spark, dir), vocabSize)

  private[graft] def vocabCoverageOn(docs: DataFrame,
      vocabSize: Int): DataFrame = {
    val toks = docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_v"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy(col("source"))
  }

  /** Vocabulary growth curve (q127): per source, how many NEW distinct
    * 8-gram shingles each ingest quartile contributes (first-occurrence
    * doc bucketed by integer-exact quartile of the source's doc order) —
    * the Heaps-law saturation diagnostic that tells a crawl pipeline
    * when a domain stops yielding novel text and can be down-weighted.
    *
    * Scale shape: the corpus pass is the shingle build (q28-family
    * cost); first-occurrence is a min() aggregate (map-side partial),
    * and everything after is (source × shingle)-then-(source × 4)
    * sized. The cumulative sum is a 4-row window per source.
    */
  def vocabGrowth(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = docs.select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(wSrc))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumnRenamed("doc_id", "first_doc")
    val first = DedupOps.cachedNgramHashes(spark, dir, n)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    first.join(ranked, Seq("source", "first_doc"))
      .withColumn("quartile", expr("((rk - 1) * 4) div nd").cast("int"))
      .groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_distinct", sum(col("n_new")).over(
        Window.partitionBy(col("source")).orderBy(col("quartile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("source"), col("quartile"))
  }

  /** Kneser-Ney smoothed bigram LM (q139): absolute discounting d=0.75
    * with the continuation-probability backoff — the LM-quality step up
    * from q73's add-k bigram model, and the classic data-quality scorer
    * (KenLM-style) a curation pipeline trains on its own corpus. Reports
    * the top-k bigrams by count with their smoothed probability.
    *
    * Every aggregate is an INTEGER count (occurrence, left/right
    * continuation types, total bigram types); the float work is one
    * fixed expression tree per output row —
    * `max(c12−d,0)/c1 + (d·Nfw/c1)·(Nbw/Ntot)` — evaluated identically
    * by both engines (scalar IEEE ops on exact integer inputs commute
    * with nothing, so there is no order hazard), then one 6dp round.
    */
  def knBigramLm(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .select(explode(
        Text.tokenNgramsNative(Text.tokens(col("text")), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("nfw")) // distinct continuations of w1
    val nbw = c12.groupBy(col("w2")).agg(count(lit(1)).as("nbw"))
    val ntot = c12.agg(count(lit(1)).as("ntot"))
    val pkn = (greatest(col("c12").cast("double") - 0.75, lit(0.0)) /
        col("c1").cast("double")) +
      ((lit(0.75) * col("nfw").cast("double")) / col("c1").cast("double")) *
        (col("nbw").cast("double") / col("ntot").cast("double"))
    c12.join(c1, "w1").join(nbw, "w2").crossJoin(broadcast(ntot))
      .select(col("w1"), col("w2"), col("c12"), round(pkn, 6).as("pkn"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Log2-bucketed length histogram (q129): per lang, document counts
    * and char mass by power-of-two length band. The bucket is
    * `length(bin(n_chars)) − 1` = ⌊log2⌋ computed on the INTEGER bit
    * pattern — no float log whose boundary cell (log2(1024) ↦
    * 9.999…) could land either side of floor() depending on libm.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        (length(bin(col("n_chars"))) - 1).cast("int").as("log2_bucket"),
        col("n_chars"))
      .groupBy(col("lang"), col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("log2_bucket"))

  /** Per-source quality-score calibration deciles (q123): rank each
    * document's [[qualityScore]] within its source and bucket into
    * deciles with PURE INTEGER arithmetic — `decile = ((rk−1)·10) div n`
    * — so the bucket boundary can never drift between engines the way a
    * float percent_rank·10 floor could. Per (source, decile): doc count
    * and the score range. This is the cross-domain score-comparability
    * diagnostic: a classifier threshold tuned on one domain transfers
    * via these per-domain quantile maps.
    *
    * Scale shape: the corpus-sized work is the quality pass itself; the
    * window is per-source (streaming rank over a disk-backed sort) and
    * the rollup reuses the same source partitioning.
    */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScore(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    q.join(src, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("decile", expr("((rk - 1) * 10) div n").cast("int"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"), min(col("quality")).as("min_q"),
        max(col("quality")).as("max_q"))
      .orderBy(col("source"), col("decile"))
  }

  /** Language-ID confusion matrix (q155): declared `lang` × predicted
    * [[langIdExpr]] label with doc counts — the calibration view of the
    * q34 classifier (the marginal q34 reports hides WHICH languages
    * leak into which). Row-local prediction + one (|langs|²)-key
    * rollup; no new corpus pass beyond q34's.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langConfusionOn(Tables.documents(spark, dir))

  private[graft] def langConfusionOn(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), langIdExpr(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Encoding-health scan (q156): per source — docs containing the
    * U+FFFD replacement char (the mojibake tombstone), docs containing
    * C0 control bytes (binary contamination), total non-ASCII
    * codepoints, and the ASCII ratio. The standard first-pass filter a
    * crawl pipeline runs before tokenization: mojibake and binary spill
    * poison every downstream text statistic. Row-local regex counting
    * (codegen'd), one source-keyed rollup; counts are integers, the
    * ratio is one division + 6dp round.
    */
  def encodingScan(spark: SparkSession, dir: String): DataFrame =
    encodingScanOn(Tables.documents(spark, dir))

  private[graft] def encodingScanOn(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        length(col("text")).as("n_chars_t"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^\\x00-\\x7F]", "")))
          .as("n_nonascii"),
        when(col("text").contains("�"), 1L).otherwise(0L).as("has_repl"),
        when(col("text").rlike("[\\x00-\\x08\\x0E-\\x1F]"), 1L).otherwise(0L)
          .as("has_ctrl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_repl")).as("n_repl_docs"),
        sum(col("has_ctrl")).as("n_ctrl_docs"),
        sum(col("n_nonascii")).as("n_nonascii_chars"),
        round(lit(1.0) - sum(col("n_nonascii")).cast("double") /
          sum(col("n_chars_t")).cast("double"), 6).as("ascii_ratio"))
      .orderBy(col("source"))

  /** Token collocation mining via PMI (q157): restrict to the top-`v`
    * tokens by document frequency (the VOCABULARY bound — the q120
    * playbook), take doc-level presence, pair tokens co-present in a
    * document, and score `ln(n_ab·N / (n_a·n_b))` — the q107 PMI math
    * at token level, which is how collocations/keyphrases are mined
    * from a corpus without a quadratic token-pair space.
    *
    * Scale shape: the vocab is a top-`v` broadcast (one corpus pass);
    * per-doc pair fan-out is C(min(doc_vocab_hits, v), 2) — bounded by
    * the VOCAB, never by corpus size; marginals ride on the broadcast
    * vocab rows. Parity: integer products inside ONE division, then
    * ln + 6dp round (the q107 contract); (pmi DESC, ta, tb) is total
    * under LIMIT.
    */
  def collocations(spark: SparkSession, dir: String, v: Int = 200,
      k: Int = 25, minSupport: Int = 5): DataFrame =
    collocationsOn(Tables.documents(spark, dir), v, k, minSupport)

  private[graft] def collocationsOn(docs: DataFrame, v: Int = 200,
      k: Int = 25, minSupport: Int = 5): DataFrame = {
    val pres = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .distinct()
    val vocab = pres.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(v)
    val nDocs = docs.agg(count(lit(1)).as("n_corpus"))
    val inV = pres.join(broadcast(vocab), "tok")
    val pairs = inV.as("a")
      .join(inV.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("ta"), col("b.tok").as("tb"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs.crossJoin(broadcast(nDocs))
      .select(col("ta"), col("tb"), col("n_ab"),
        round(log((col("n_ab") * col("n_corpus")).cast("double") /
          (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ta"), col("tb"))
      .limit(k)
  }

  /** Type-token-ratio bands (q162): per-doc lexical diversity
    * (distinct/total tokens) bucketed into 10 bands, with a
    * micro-averaged per-band ratio. Repetitive machine-generated text
    * and template spam sit in the low bands — the cheap lexical
    * complement to the q62 repetition score.
    *
    * Scale shape: `array_distinct` makes the distinct-count ROW-LOCAL
    * (no per-doc explode+shuffle); the only exchange is the 10-key band
    * rollup. Parity: the band is the INTEGER rule `min(9, 10·d/t)`
    * (integer division — no float boundary), and the per-band ratio is
    * exact integer sums into one division + 4dp round.
    */
  def ttrBands(spark: SparkSession, dir: String): DataFrame =
    ttrBandsOn(Tables.documents(spark, dir))

  private[graft] def ttrBandsOn(docs: DataFrame): DataFrame =
    docs
      .select(size(Text.tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(Text.tokens(col("text")))).cast("long")
          .as("n_distinct"))
      .select(least(lit(9L), expr("(n_distinct * 10) div n_tok"))
        .as("ttr_band"), col("n_tok"), col("n_distinct"))
      .groupBy(col("ttr_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(col("n_distinct")).as("sum_distinct"),
        round(sum(col("n_distinct")).cast("double") /
          sum(col("n_tok")).cast("double"), 4).as("micro_ttr"))
      .orderBy(col("ttr_band"))

  /** Readability report (q163): per source, a Flesch-style reading-ease
    * score from three corpus integers — words (tokens), sentences
    * (`[.!?]+` runs, floored at 1 per doc), and pseudo-syllables
    * (`[aeiouy]+` vowel runs). Low-readability sources are candidates
    * for boilerplate/code contamination review.
    *
    * Scale shape: all three counts are row-local codegen'd regex
    * counts; the rollup is |sources| keys with map-side partials.
    * Parity: integer sums are exact under any shuffle order; the score
    * is ONE fixed float expression (two divisions + linear combine +
    * 4dp round) evaluated per source row, mirrored verbatim in the
    * oracle — the q139 "integer counts, one mirrored float tree" rule.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOn(Tables.documents(spark, dir))

  private[graft] def readabilityOn(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_words"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long"))
          .as("n_sents"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("n_syll"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_sents")).as("sum_sents"),
        sum(col("n_syll")).as("sum_syll"))
      .select(col("source"), col("n_docs"), col("sum_words"),
        col("sum_sents"), col("sum_syll"),
        round(lit(206.835) -
          lit(1.015) * (col("sum_words").cast("double") /
            col("sum_sents").cast("double")) -
          lit(84.6) * (col("sum_syll").cast("double") /
            col("sum_words").cast("double")), 4).as("reading_ease"))
      .orderBy(col("source"))

  /** Casing profile (q164): per source — letter mass, uppercase mass,
    * docs that are SHOUTING (>30% of letters uppercase, integer rule
    * `10·upper > 3·letters`), and docs with no uppercase at all
    * (lowercased/normalized provenance). Casing damage is a cheap
    * provenance signal: OCR dumps shout, some scrapes lowercase
    * everything.
    *
    * Scale shape: row-local `regexp_replace` length deltas, |sources|
    * rollup. Parity: all counts integral; the single ratio is one
    * division + 6dp round.
    */
  def caseProfile(spark: SparkSession, dir: String): DataFrame =
    caseProfileOn(Tables.documents(spark, dir))

  private[graft] def caseProfileOn(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
          .as("n_letters"),
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("long")
          .as("n_upper"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_letters")).as("n_letters"),
        sum(col("n_upper")).as("n_upper"),
        sum(when(col("n_upper") * 10L > col("n_letters") * 3L, 1L)
          .otherwise(0L)).as("n_shouting_docs"),
        sum(when(col("n_upper") === 0L, 1L).otherwise(0L))
          .as("n_nocase_docs"))
      .select(col("source"), col("n_docs"), col("n_letters"),
        col("n_upper"), col("n_shouting_docs"), col("n_nocase_docs"),
        round(col("n_upper").cast("double") /
          col("n_letters").cast("double"), 6).as("upper_ratio"))
      .orderBy(col("source"))

  /** Hapax-legomena rate (q165): per source, the fraction of the
    * source's vocabulary that occurs exactly once. High hapax rate ⇒
    * long-tail-rich natural text; low ⇒ templated/repetitive content.
    * Complements Heaps' law (q127) with a point-in-time tail measure.
    *
    * Scale shape: one (source, token) count with map-side partials —
    * the same shuffle shape as every vocabulary pass — then a
    * |sources|-key rollup of two integers. Parity: integer counts, one
    * division + 6dp round.
    */
  def hapaxRate(spark: SparkSession, dir: String): DataFrame =
    hapaxRateOn(Tables.documents(spark, dir))

  private[graft] def hapaxRateOn(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n_occ"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("n_occ") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_vocab"), col("n_hapax"),
        round(col("n_hapax").cast("double") /
          col("n_vocab").cast("double"), 6).as("hapax_rate"))
      .orderBy(col("source"))

  /** Vocabulary budget curve (q182): for each candidate vocabulary size
    * V, the fraction of corpus token OCCURRENCES left out-of-vocabulary
    * when keeping only the top-V tokens by frequency — the tokenizer-
    * sizing curve (the q116 coverage question swept over budgets, the
    * way q170 sweeps context lengths).
    *
    * Scale shape: one token-count pass. Coverage sums only need ranks
    * ≤ max(budgets), so the top-max(budgets) tokens are taken via
    * orderBy+limit (TakeOrderedAndProject: per-partition top-k, then a
    * k·partitions merge) and the ONLY frame a global rank window ever
    * sees is bounded by that CONSTANT — never the unbounded vocabulary
    * (the q116 shape; vocabulary grows Heaps-law with the corpus, q127's
    * own premise). `n_vocab`/`total_occ` ride a separate scalar agg,
    * crossed in broadcast. All budgets' conditional sums ride ONE
    * aggregate, unpivoted by stack(). Parity: integer sums, rank
    * tiebreak (cnt DESC, tok — the same total order as the limit), one
    * division + 6dp per row.
    */
  def vocabBudgetCurve(spark: SparkSession, dir: String,
      budgets: Seq[Int] = Seq(100, 500, 2000)): DataFrame =
    vocabBudgetCurveOn(Tables.documents(spark, dir), budgets)

  private[graft] def vocabBudgetCurveOn(docs: DataFrame,
      budgets: Seq[Int] = Seq(100, 500, 2000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_vocab"),
      sum(col("cnt")).as("total_occ"))
    val top = counts
      .orderBy(col("cnt").desc, col("tok")).limit(budgets.max)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))))
    val aggs = budgets.map(v =>
      sum(when(col("rk") <= v, col("cnt")).otherwise(0L)).as(s"cov_$v"))
    val one = top.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(totals))
    val stackArgs = budgets.map(v => s"$v, cov_$v").mkString(", ")
    one
      .select(col("n_vocab"), col("total_occ"),
        expr(s"stack(${budgets.size}, $stackArgs) AS (vocab_budget, covered_occ)"))
      .select(col("vocab_budget"), col("n_vocab"), col("total_occ"),
        col("covered_occ"),
        round(lit(1.0) - col("covered_occ").cast("double") /
          col("total_occ").cast("double"), 6).as("oov_rate"))
      .orderBy(col("vocab_budget"))
  }

  /** Source novelty (q183): per source, the fraction of its distinct
    * word 3-grams that appear in NO other source — the per-source
    * uniqueness profile complementing q119's pairwise overlap view
    * (q119 says who shares with whom; this says how much of each
    * source would be lost if dropped).
    *
    * Scale shape: DISTINCT (source, gram) then a gram-keyed
    * source-count — the standard postings shuffle — joined back and
    * rolled up to |sources| rows. Integer counts, one division.
    */
  def sourceNovelty(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    sourceNoveltyOn(Tables.documents(spark, dir), n)

  /** Quality-by-language matrix (q195): quality-score bands crossed
    * with declared language — the calibration view that decides
    * PER-LANGUAGE quality thresholds (one global cutoff silently
    * filters out languages the scorer under-rates). Bands use the
    * integer rule `(k·4) div 10000` on the score's own integer grid
    * (the q137 band); integer token sums ride along.
    */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir)
      .select(col("doc_id"),
        expr("CAST(round(quality * 10000) AS BIGINT)").as("k"),
        col("n_tokens").cast("long").as("n_tok"))
    val langs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    q.join(langs, "doc_id")
      .select(col("lang"), expr("(k * 4) div 10000").as("quality_band"),
        col("n_tok"))
      .groupBy(col("lang"), col("quality_band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("lang"), col("quality_band"))
  }

  /** Language-ID confidence margins (q192): the integer score gap
    * between the best and second-best language per doc, banded — the
    * calibration view that says how DECISIVE q34's argmax was (q155
    * shows where it lands; this shows how close the call was; margin-0
    * docs are coin flips a pipeline should route to a better model).
    * Row-local integer arithmetic (scores, array_sort, one
    * subtraction), |langs|·|bands| rollup.
    */
  def langMargins(spark: SparkSession, dir: String): DataFrame =
    langMarginsOn(Tables.documents(spark, dir))

  private[graft] def langMarginsOn(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val scores = Seq("en", "es", "fr", "de", "zh")
      .map(l => size(filter(toks, t => t.isin(lexica(l).map(lit(_)): _*)))
        .cast("long"))
    val arr = array_sort(array(scores: _*))
    val best = element_at(arr, 5)
    val second = element_at(arr, 4)
    docs
      .select(langIdExpr(col("text")).as("lang_pred"),
        when(best <= 0L, lit(0L))
          .otherwise(least(lit(4L), best - second)).as("margin_band"))
      .groupBy(col("lang_pred"), col("margin_band"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_pred"), col("margin_band"))
  }

  private[graft] def sourceNoveltyOn(docs: DataFrame, n: Int = 3): DataFrame = {
    val sg = docs
      .select(col("source"), explode(Text.wordShingles(col("text"), n)).as("g"))
      .distinct()
    // per-gram source count via a window over the SAME key the distinct
    // already shuffled on — the former agg-then-join-back shape
    // evaluated the corpus shingle pass twice and shuffled three times
    // for the identical result (guide: share one exchange between
    // same-keyed operations)
    sg.withColumn("n_sources",
        count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_sources") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy(col("source"))
  }

  /** Document-frequency drift (q211): tokens whose df moved most
    * between the even-id and odd-id corpus halves (the two-snapshot
    * stand-in) — the index-maintenance signal that tells a BM25/TF-IDF
    * deployment when cached IDF weights have gone stale (q89/q99 score
    * with a frozen df table; this measures how fast it rots). Top 10
    * risers by the integer ratio (df_b·10⁶) div df_a over tokens with
    * df ≥ 5 in BOTH halves (rare-token noise excluded), tie-broken by
    * token — a total order, integer-exact end to end.
    *
    * Scale shape: one (half, token) count with map-side partials (the
    * standard vocabulary shuffle), self-joined on token at
    * vocabulary scale, then a top-k limit. No FP anywhere.
    */
  def idfDrift(spark: SparkSession, dir: String, minDf: Long = 5L,
      k: Int = 10): DataFrame =
    idfDriftOn(Tables.documents(spark, dir), minDf, k)

  private[graft] def idfDriftOn(docs: DataFrame, minDf: Long = 5L,
      k: Int = 10): DataFrame = {
    val df = docs
      .select((pmod(col("doc_id"), lit(2L)) === 0L).as("even"),
        col("doc_id"), explode(array_distinct(Text.tokens(col("text"))))
          .as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("df_a"),
        sum(when(col("even"), 0L).otherwise(1L)).as("df_b"))
      .filter(col("df_a") >= minDf && col("df_b") >= minDf)
    df.select(col("tok"), col("df_a"), col("df_b"),
        expr("(df_b * 1000000) div df_a").as("ratio_e6"))
      .orderBy(col("ratio_e6").desc, col("tok"))
      .limit(k)
  }

  /** Per-source bigram entropy (q221): Shannon entropy of each
    * source's bigram DISTRIBUTION — the model-free compressibility
    * proxy (low entropy = templated/repetitive text that an LM will
    * memorize cheaply; q67 scores single docs on unigrams, this
    * scores the SOURCE on its phrase structure — the
    * which-source-is-boilerplate ranking next to q62/q183).
    *
    * Scale shape: one (source, bigram) count with map-side partials —
    * the standard vocabulary shuffle — then per-source totals ride a
    * broadcast |sources|-row join into the entropy rollup. Parity:
    * integer counts; the entropy sum follows the q67/q200 contract
    * (float terms, round AFTER summation, +0.0 for the signed-zero
    * case).
    */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame =
    bigramEntropyOn(Tables.documents(spark, dir))

  private[graft] def bigramEntropyOn(docs: DataFrame): DataFrame = {
    val c = docs
      .select(col("source"),
        explode(Text.tokenNgramsNative(Text.tokens(col("text")), 2))
          .as("bg"))
      .groupBy(col("source"), col("bg"))
      .agg(count(lit(1)).as("c"))
    val totals = c.groupBy(col("source")).agg(sum(col("c")).as("n"))
    c.join(broadcast(totals), "source")
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        round(-sum((col("c") / col("n")) *
          log(2.0, col("c") / col("n"))) + lit(0.0), 4).as("entropy_bits"))
      .orderBy(col("source"))
  }

  /** Code-vs-prose signal (q208): per (source, band), how much of the
    * corpus LOOKS like source code — the curation filter every
    * text-pretraining pipeline runs before language-ID (code crashes
    * prose quality scorers, and mixing it unlabeled skews both
    * distributions). The signal is the density of code-syntax
    * characters `;{}()=<>[]` per RAW character, on the q137 integer
    * grid: `ratio_x10000 = (codey · 10000) div n_chars`, banded in
    * 0.5% steps capped at band 4 — integer-exact, no tokenizer, no
    * model, deterministic on any engine.
    *
    * Scale shape: one row-local regexp count per doc (codegen'd, no
    * explode — the whole classifier is a map), then the (source, band)
    * partial-agg rollup. Integer counts and sums; one 6dp division.
    */
  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    codeDetectOn(Tables.documents(spark, dir))

  private[graft] def codeDetectOn(docs: DataFrame): DataFrame = {
    val codey = length(regexp_replace(col("text"), "[^;{}()=<>\\[\\]]", ""))
    val nChars = length(col("text"))
    docs
      .select(col("source"), codey.as("codey"), nChars.as("nc"))
      .filter(col("nc") > 0)
      .withColumn("band",
        least(lit(4L), expr("(codey * 10000) div nc div 50")))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("codey")).as("n_codey"),
        sum(col("nc")).as("n_chars"))
      .select(col("source"), col("band"), col("n_docs"), col("n_codey"),
        round(col("n_codey").cast("double") /
          col("n_chars").cast("double"), 6).as("codey_rate"))
      .orderBy(col("source"), col("band"))
  }

  /** Iterated BPE trainer (q225): `rounds` fixed merge rounds over the
    * corpus word-frequency dictionary — q98's count step turned into
    * the actual vocabulary-trainer kernel. Per round: count adjacent
    * symbol pairs weighted by word frequency, pick the argmax rule
    * (count DESC, s1, s2 — a total order), APPLY it to every word's
    * symbol sequence, recount. Output is the learned merge table.
    *
    * Merge application is a plain string `replace` over a FRAMED
    * symbol encoding — symbols joined by two spaces, the whole string
    * framed by one leading/trailing space — so the pattern
    * `' s1  s2 '` can only match whole adjacent symbols (a naive
    * single-space join would let `e r` match inside `[xe, r]`, the
    * classic subword-boundary bug; the framed form is TRUE greedy
    * left-to-right BPE, spec-pinned on a fixture built to trip the
    * naive form). `replace` is left-to-right non-overlapping in Spark
    * (UTF8String.replace) and DuckDB alike, so the oracle replays the
    * identical semantics with N MATERIALIZED CTE rounds (the q173
    * fixed-iteration rule).
    *
    * Scale shape: ONE corpus pass builds the word-frequency dict;
    * every round after runs at VOCABULARY scale (distinct words), the
    * same reduction a production BPE trainer makes. The per-round
    * argmax is a map-side-partial aggregate over the ≤|Σ|²-keyed pair
    * counts, broadcast back as a 1-row rule; `localCheckpoint` cuts
    * the per-round lineage (the q173/k-core pattern). Pure integer
    * counts — no FP anywhere.
    */
  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    cachedBpeRules(spark, dir, rounds)

  /** The learned merge table, session-cached per (dir, rounds): the
    * training rounds (corpus dict + `rounds` argmax/apply/recount
    * cycles) are re-run verbatim by q225, q234's encoder, q316's
    * round-trip audit, and q318's 8-round variant — a production
    * trainer runs once per corpus snapshot and every consumer reads
    * the stored table (r17; the cachedUnigramPicks economics applied
    * to the BPE path).
    */
  private val bpeRulesCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  private def cachedBpeRules(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    SessionCaches.cached(bpeRulesCache, (spark, dir, rounds))(
      bpeTrainOn(Tables.documents(spark, dir), rounds).persist())

  private[graft] def bpeTrainOn(docs: DataFrame, rounds: Int): DataFrame = {
    var words = docs
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(concat(lit(" "), concat_ws("  ", split(col("w"), "")),
        lit(" ")).as("syms"), col("n"))
      .localCheckpoint()
    val rules = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val top = words
        .select(split(trim(col("syms")), "  ").as("a"), col("n"))
        .filter(size(col("a")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) AS s1, element_at(a, i + 1) AS s2))"))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("n")).as("n_merge"))
        .orderBy(col("n_merge").desc, col("s1"), col("s2"))
        .limit(1)
        .select(lit(r).as("merge_rank"), col("s1"), col("s2"), col("n_merge"))
        .localCheckpoint()
      rules += top
      words = words
        .crossJoin(broadcast(top.select(col("s1").as("m1"), col("s2").as("m2"))))
        .select(expr("replace(syms, concat(' ', m1, '  ', m2, ' '), " +
          "concat(' ', m1, m2, ' '))").as("syms"), col("n"))
        .localCheckpoint()
    }
    rules.result().reduce(_.union(_)).orderBy(col("merge_rank"))
  }

  /** BPE encoder (q234): apply the [[bpeTrain]]-learned merge table to
    * the WHOLE corpus and report per-source subword statistics — the
    * encode step that turns the trainer into a tokenizer kernel
    * (train on the dict, encode every occurrence). Rules apply in
    * learned order, one pass each — the standard BPE encode, exact
    * because round r's pattern can only be built from base symbols
    * and earlier merges. The merge table rides a broadcast 1-row
    * frame (NEVER collected to the driver); application is the same
    * framed-encoding `replace` as the trainer, so trainer and encoder
    * share one merge semantics by construction.
    *
    * Parity: counts are pure integers and the compression ratio is an
    * exact integer floor (chars·1000 div subwords) — no FP. Scale
    * shape: one corpus pass (explode + 3 row-local replaces + one
    * partial-agg rollup to |sources| rows) AFTER the vocabulary-scale
    * training rounds.
    */
  def bpeEncode(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    bpeEncodeFrom(Tables.documents(spark, dir),
      cachedBpeRules(spark, dir, rounds), rounds)

  private[graft] def bpeEncodeOn(docs: DataFrame, rounds: Int): DataFrame =
    bpeEncodeFrom(docs, bpeTrainOn(docs, rounds), rounds)

  private def bpeEncodeFrom(docs: DataFrame, rules: DataFrame,
      rounds: Int): DataFrame = {
    val ruleCols = (1 to rounds).flatMap(r => Seq(
      max(when(col("merge_rank") === r, col("s1"))).as(s"s1_$r"),
      max(when(col("merge_rank") === r, col("s2"))).as(s"s2_$r")))
    val ruleRow = rules.agg(ruleCols.head, ruleCols.tail: _*)
    val toks = docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"), col("w"),
        concat(lit(" "), concat_ws("  ", split(col("w"), "")),
          lit(" ")).as("syms"))
      .crossJoin(broadcast(ruleRow))
    val applied = (1 to rounds).foldLeft(toks) { (df, r) =>
      // a degenerate corpus can learn fewer than `rounds` rules — a
      // null pattern must no-op, not null the whole column
      df.withColumn("syms", when(col(s"s1_$r").isNull, col("syms"))
        .otherwise(expr(s"replace(syms, concat(' ', s1_$r, '  ', s2_$r, ' '), " +
          s"concat(' ', s1_$r, s2_$r, ' '))")))
    }
    applied
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(size(split(trim(col("syms")), "  ")).cast("long"))
          .as("n_subwords"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("n_subwords"),
        expr("(n_chars * 1000) div n_subwords").as("compression_milli"))
      .orderBy(col("source"))
  }

  /** BPE round-trip integrity audit (q316): encode every word
    * occurrence with the q225-learned merge table, UNDO the merges in
    * reverse order, and count exact reconstructions — the tokenizer
    * self-audit a pipeline runs before trusting encode/decode as
    * lossless. Invertibility is not free in general: two rules whose
    * CONCATENATIONS collide (`(a,bc)` and `(ab,c)` both yielding
    * `abc`) make the reverse pass ambiguous, so this query MEASURES
    * the round-trip rather than assuming it (n_bad > 0 is a real
    * finding, not a bug). The undo replace is exact on the framed
    * encoding: symbols contain no spaces, so `' s1s2 '` matches only
    * whole merged symbols.
    *
    * Scale shape: vocabulary-scale training rounds (shared kernel with
    * q225/q234), then ONE corpus pass of row-local replaces — 3
    * forward + 3 reverse — and a per-source rollup. The merge table
    * rides a broadcast 1-row frame (the q234 rule-row pattern, never
    * a driver collect).
    */
  def bpeRoundtrip(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    bpeRoundtripFrom(Tables.documents(spark, dir),
      cachedBpeRules(spark, dir, rounds), rounds)

  private[graft] def bpeRoundtripOn(docs: DataFrame,
      rounds: Int): DataFrame =
    bpeRoundtripFrom(docs, bpeTrainOn(docs, rounds), rounds)

  private def bpeRoundtripFrom(docs: DataFrame, rules: DataFrame,
      rounds: Int): DataFrame = {
    val ruleCols = (1 to rounds).flatMap(r => Seq(
      max(when(col("merge_rank") === r, col("s1"))).as(s"s1_$r"),
      max(when(col("merge_rank") === r, col("s2"))).as(s"s2_$r")))
    val ruleRow = rules.agg(ruleCols.head, ruleCols.tail: _*)
    val toks = docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"),
        concat(lit(" "), concat_ws("  ", split(col("w"), "")),
          lit(" ")).as("orig"))
      .crossJoin(broadcast(ruleRow))
    val enc = (1 to rounds).foldLeft(toks.withColumn("syms", col("orig"))) {
      (df, r) =>
        df.withColumn("syms", when(col(s"s1_$r").isNull, col("syms"))
          .otherwise(expr(s"replace(syms, concat(' ', s1_$r, '  ', s2_$r, ' '), " +
            s"concat(' ', s1_$r, s2_$r, ' '))")))
    }
    val dec = (rounds to 1 by -1).foldLeft(enc.withColumn("back", col("syms"))) {
      (df, r) =>
        df.withColumn("back", when(col(s"s1_$r").isNull, col("back"))
          .otherwise(expr(s"replace(back, concat(' ', s1_$r, s2_$r, ' '), " +
            s"concat(' ', s1_$r, '  ', s2_$r, ' '))")))
    }
    dec.groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("back") === col("orig"), 1L).otherwise(0L)).as("n_ok"))
      .select(col("source"), col("n_words"), col("n_ok"),
        (col("n_words") - col("n_ok")).as("n_bad"),
        expr("CAST(CAST(n_ok AS decimal(38,0)) * 1000000 DIV n_words" +
          " AS BIGINT)").as("ok_ppm"))
      .orderBy(col("source"))
  }

  /** Trainer vocabulary overlap (q318): how differently the two
    * tokenizer-training paths carve the same corpus — the multi-char
    * pieces an 8-round BPE trainer learns (merge concatenations)
    * versus the multi-char survivors of the unigram-LM prune (q312's
    * rule, shared via [[unigramSurvivors]]), reported as set sizes +
    * Jaccard ppm. A pipeline choosing between the trainers (q225/q234
    * vs q307/q308/q312) reads this before assuming their vocabularies
    * are interchangeable: on this corpus they agree on only ~7% of
    * pieces.
    *
    * Scale shape: both vocabularies are vocabulary-scale by
    * construction (the trainers' whole design); the overlap join is
    * vocab×vocab equi on the piece string.
    */
  def trainerVocabOverlap(spark: SparkSession, dir: String,
      rounds: Int = 8): DataFrame = {
    val bpe = cachedBpeRules(spark, dir, rounds)
      .select(concat(col("s1"), col("s2")).as("piece")).distinct()
    val uni = unigramSurvivors(cachedUnigramScored(spark, dir),
        cachedUnigramPicks(spark, dir))
      .filter(length(col("piece")) >= 2).select(col("piece"))
    bpe.select(col("piece"), lit(1L).as("b"))
      .join(uni.select(col("piece"), lit(1L).as("u")),
        Seq("piece"), "full_outer")
      .agg(sum(coalesce(col("b"), lit(0L))).as("n_bpe"),
        sum(coalesce(col("u"), lit(0L))).as("n_uni"),
        sum(coalesce(col("b"), lit(0L)) * coalesce(col("u"), lit(0L)))
          .as("n_common"))
      .select(col("n_bpe"), col("n_uni"), col("n_common"),
        expr("CAST(CAST(n_common AS decimal(38,0)) * 1000000 DIV " +
          "(n_bpe + n_uni - n_common) AS BIGINT)").as("jaccard_ppm"))
  }

  /** Corpus data card (q322): the one-row fingerprint panel a
    * training-data pipeline publishes with every corpus snapshot —
    * volume (docs/chars/tokens), vocabulary, source and language
    * breadth, exact-duplicate rate, and language concentration. The
    * numbers a reader checks FIRST before any deeper audit: a dup_ppm
    * jump flags an ingest replay, a top-lang share drift flags a
    * crawler bias.
    *
    * Scale shape: three independent aggregates (docs, token explode,
    * lang grid), each map-side combinable, crossed into one row by
    * broadcast. The distinct-text count dedups md5 FINGERPRINTS, not
    * full texts — the q27 rule: 32-byte hashes shuffle, documents
    * never do.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame =
    corpusCardOn(Tables.documents(spark, dir))

  private[graft] def corpusCardOn(docs: DataFrame): DataFrame = {
    val vocab = docs.select(explode(Text.tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("w")).as("n_distinct_words"))
    val langTop = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_langs"), max(col("c")).as("top_c"))
    docs.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        count_distinct(md5(col("text"))).as("n_distinct_text"),
        count_distinct(col("source")).as("n_sources"))
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(langTop))
      .select(col("n_docs"), col("n_chars"), col("n_tokens"),
        col("n_distinct_words"), col("n_sources"), col("n_langs"),
        expr("CAST(CAST(n_docs - n_distinct_text AS decimal(38,0)) " +
          "* 1000000 DIV n_docs AS BIGINT)").as("exact_dup_ppm"),
        expr("CAST(CAST(top_c AS decimal(38,0)) * 1000000 DIV n_docs" +
          " AS BIGINT)").as("top_lang_share_ppm"))
  }

  /** Per-source distribution drift (q243): the two-sample
    * Kolmogorov–Smirnov statistic of each source's document-length
    * distribution against the REST of the corpus — the standard
    * "did this source's data change shape" monitor a training-data
    * pipeline runs per ingest batch. D = max_x |F_s(x) − F_rest(x)| is
    * computed entirely on the integer grid: the numerator
    * |f_s·(n−n_s) − (f_t−f_s)·n_s| is exact BIGINT (cumulative counts
    * cross-multiplied — no FP ECDF), the division happens ONCE at the
    * display boundary, and the argmax location tie-breaks on min x.
    *
    * Scale shape: the one corpus-scale shuffle is the (x, source)
    * count; everything after runs on the compact domain grid
    * (distinct lengths × sources — bounded by max doc length, NOT
    * corpus size), and the cumulative windows are PARTITIONED BY
    * source, never a one-partition global sort.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftOn(Tables.documents(spark, dir))

  private[graft] def ksDriftOn(docs: DataFrame): DataFrame = {
    val counts = docs
      .groupBy(col("n_chars").as("x"), col("source"))
      .agg(count(lit(1)).as("c"))
    val dom = counts.groupBy(col("x"))
      .agg(sum(col("c")).as("c_tot"))
    val srcs = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_s"))
    val grid = srcs.crossJoin(dom)
      .join(counts, Seq("source", "x"), "left")
      .select(col("source"), col("n_s"), col("x"), col("c_tot"),
        coalesce(col("c"), lit(0L)).as("c_s"))
    val n = dom.agg(sum(col("c_tot")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"))
    val cum = grid
      .withColumn("f_s", sum(col("c_s")).over(w))
      .withColumn("f_t", sum(col("c_tot")).over(w))
      .crossJoin(broadcast(n))
      // the cross-multiplied numerator rides decimal(38,0): f_s·(n−n_s)
      // passes 2^63 once source × complement passes ~9.2e18 doc-pairs
      // (inside a 100 TB corpus) — Long would wrap silently while the
      // oracle's HUGEINT keeps going (PARITY rule 13); the ranking and
      // the ks division stay exact on the decimal, and only the
      // REPORTED ks_num column narrows back to the gate's BIGINT
      .select(col("source"), col("n_s"), col("x"), col("n"),
        abs(col("f_s").cast("decimal(38,0)") * (col("n") - col("n_s")) -
          (col("f_t") - col("f_s")).cast("decimal(38,0)") * col("n_s"))
          .as("num"))
    val rk = Window.partitionBy(col("source"))
      .orderBy(col("num").desc, col("x"))
    cum.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_s").as("n_docs"),
        col("num").cast("long").as("ks_num"),
        (col("num").cast("double") /
          (col("n_s").cast("double") *
            (col("n") - col("n_s")).cast("double"))).as("ks"),
        col("x").as("at_x"))
      .orderBy(col("source"))
  }

  /** Curation skyline (q252): the Pareto frontier over (length,
    * quality) — documents no other document beats-or-ties on BOTH
    * axes while strictly beating on one. The preference-query operator
    * a curation pipeline uses when two objectives shouldn't be
    * collapsed into one weighted score prematurely.
    *
    * Scale shape: NOT the O(n²) domination self-join the relational
    * formulation implies. Skylines are distributive (the global
    * frontier is a subset of the union of partition frontiers), so
    * phase 1 computes per-SOURCE skylines with source-partitioned
    * range windows — `max(quality) over n_chars strictly greater` and
    * `over n_chars equal` decide domination in one sorted pass — and
    * phase 2 resolves the REDUCED union (bounded by sources ×
    * frontier size, q182's bounded-rank rule) with a broadcast
    * domination anti-join — never a partitionless window, so no
    * single-partition sort exists anywhere in the plan. Both axes
    * ride the integer grid (quality_m = the q35 score's own integer).
    */
  def qualitySkyline(spark: SparkSession, dir: String): DataFrame = {
    val j = qualityScore(spark, dir)
      .select(col("doc_id"),
        round(col("quality") * 10000, 0).cast("long").as("quality_m"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
    def frontier(df: DataFrame, part: Seq[Column]): DataFrame = {
      val wGt = Window.partitionBy(part: _*).orderBy(col("n_chars"))
        .rangeBetween(1L, Window.unboundedFollowing)
      val wEq = Window.partitionBy((part :+ col("n_chars")): _*)
      df.withColumn("mq_gt", max(col("quality_m")).over(wGt))
        .withColumn("mq_eq", max(col("quality_m")).over(wEq))
        .filter((col("mq_gt").isNull || col("mq_gt") < col("quality_m"))
          && col("mq_eq") <= col("quality_m"))
        .drop("mq_gt", "mq_eq")
    }
    val local = frontier(j, Seq(col("source")))
    val dominators = local.select(col("n_chars").as("o_chars"),
      col("quality_m").as("o_q"))
    local.join(broadcast(dominators),
        col("o_chars") >= col("n_chars") && col("o_q") >= col("quality_m")
          && (col("o_chars") > col("n_chars") ||
              col("o_q") > col("quality_m")),
        "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("quality_m"))
      .orderBy(col("n_chars").desc, col("doc_id"))
  }

  /** Per-class precision / recall / F1 of the lang-id predictor
    * (q288): the metric panel q155's confusion matrix is usually read
    * THROUGH — tp/fp/fn per class (classes = union of true and
    * predicted labels, so a never-predicted class still reports its
    * recall 0 and a spurious prediction class its precision 0), with
    * precision `tp·1e6 div (tp+fp)`, recall `tp·1e6 div (tp+fn)`, and
    * F1 as the ppm-exact harmonic `2·tp·1e6 div (2·tp+fp+fn)` — the
    * algebraic form that never divides twice, so the whole panel is
    * integer-exact (NULL where the denominator is empty).
    *
    * Scale shape: one corpus pass to the |classes|² confusion matrix;
    * everything after runs on class-cardinality frames.
    */
  def langIdPrf(spark: SparkSession, dir: String): DataFrame =
    langIdPrfOn(graft.Tables.documents(spark, dir))

  private[graft] def langIdPrfOn(docs: DataFrame): DataFrame = {
    val cm = docs
      .select(col("lang"), langIdExpr(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val classes = cm.select(col("lang").as("label"))
      .unionByName(cm.select(col("lang_pred").as("label"))).distinct()
    val tp = cm.filter(col("lang") === col("lang_pred"))
      .select(col("lang").as("label"), col("n").as("tp"))
    val byPred = cm.groupBy(col("lang_pred").as("label"))
      .agg(sum(col("n")).as("n_pred"))
    val byTrue = cm.groupBy(col("lang").as("label"))
      .agg(sum(col("n")).as("n_true"))
    classes
      .join(tp, Seq("label"), "left")
      .join(byPred, Seq("label"), "left")
      .join(byTrue, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      // tp·1e6 passes 2^63 once a class holds ~9e12 docs — inside a
      // 100 TB corpus — so the products ride decimal(38,0)/HUGEINT
      // (PARITY rule 13) and narrow at the boundary
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("(CAST(tp AS decimal(38,0)) * 1000000) div (tp + fp)"))
          .cast("long").as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("(CAST(tp AS decimal(38,0)) * 1000000) div (tp + fn)"))
          .cast("long").as("recall_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          expr("(CAST(tp AS decimal(38,0)) * 2000000) div " +
            "(2 * tp + fp + fn)")).cast("long").as("f1_ppm"))
      .orderBy(col("label"))
  }

  /** Keyword-in-context extraction (q277): every occurrence of `term`
    * with its ±`ctx`-token window rendered as a string — the KWIC
    * concordance view an annotation/debugging UI shows around a match,
    * and the raw material for context-sensitive filtering (is "spark"
    * the engine or the verb?). Array-native: tokens stay one
    * `posexplode`, the window is a `slice` on the original token
    * array (no re-scan, no string surgery), positions are 1-based.
    *
    * Scale shape: the match filter lands right after the explode, so
    * only occurrence rows (term frequency, not corpus size) survive
    * the projection; the first `k` in (doc_id, pos) order is a
    * TakeOrdered. Carrying the token array through the filter is
    * row-local — no shuffle ever sees the full array column except
    * the bounded top-k rows.
    */
  def kwic(spark: SparkSession, dir: String, term: String = "merge",
      ctx: Int = 2, k: Int = 30): DataFrame =
    kwicOn(graft.Tables.documents(spark, dir), term, ctx, k)

  private[graft] def kwicOn(docs: DataFrame, term: String, ctx: Int,
      k: Int): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .filter(col("tok") === term)
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        array_join(slice(col("w"),
          greatest(col("p0") + 1 - ctx, lit(1)),
          least(col("p0") + 1 + ctx, size(col("w"))) -
            greatest(col("p0") + 1 - ctx, lit(1)) + 1), " ")
          .as("context"))
      .orderBy(col("doc_id"), col("pos"))
      .limit(k)

  /** Unigram-LM tokenizer-trainer count step (q307, VERDICT r11
    * item 8): the SentencePiece-style companion to the BPE trainer
    * (q225) — BPE GROWS a vocabulary by merging, unigram-LM PRUNES a
    * candidate-piece distribution by re-estimation, and a real LLM
    * pipeline chooses between exactly these two trainers. One hard-EM
    * round, all on the ppm fixed-point grid:
    *
    *   - seed: every word substring of length ≤ `maxPieceLen` weighted
    *     by word frequency, floored at `minFreq` (single chars always
    *     kept — the coverage guarantee), with seed likelihoods
    *     `p0 = freq·1e6 div Σfreq`;
    *   - E-step (hard): segment every distinct word with the MaxMatch
    *     decoder — longest candidate first, seed likelihood then piece
    *     as tie-breaks (the WordPiece inference rule). Viterbi's DP
    *     needs float log-prob sums or >38-digit integer products, both
    *     banned by the PARITY doctrine; MaxMatch is the standard
    *     deterministic greedy decode and keeps every comparison on
    *     integers. Fixed 12 rounds cover the ≤12-char word cap (the
    *     q173/q225 fixed-iteration rule — the oracle replays each
    *     round as a MATERIALIZED CTE);
    *   - M-step: piece likelihoods re-estimated from decoded usage,
    *     `p1 = cnt·1e6 div Σcnt` — the re-ranking that hands
    *     multi-char pieces the mass their substring frequency
    *     understated (the gate pins p0 AND p1, so a wrong decode or a
    *     wrong re-estimate both flip hashes).
    *
    * Scale shape: ONE corpus pass to the word-frequency dict; seeding
    * and every decode round run at VOCABULARY scale (distinct words ×
    * ≤4 candidate lengths, equi-joined on the piece string — never a
    * substring-match theta join); the candidate table stays
    * vocab-bounded (Heaps-law × the minFreq floor) so the join side is
    * AQE's call. Per-round cost is linear in corpus size
    * (ScalingBench probe). Products ride decimal(38,0)/HUGEINT
    * (PARITY rule 13: freq·1e6 passes 2^63 once tokens pass ~9e12).
    */
  def unigramLmEm(spark: SparkSession, dir: String): DataFrame =
    unigramFinish(cachedUnigramPicks(spark, dir),
      cachedUnigramScored(spark, dir))

  private[graft] def unigramLmEmOn(docs: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 12,
      minFreq: Long = 5): DataFrame = {
    val words = unigramWords(docs, maxWordLen)
    val scored = unigramScoredOn(words, maxPieceLen, minFreq)
    unigramFinish(unigramPicksOn(words, scored, maxPieceLen, maxWordLen),
      scored)
  }

  /** The corpus word-frequency dict the unigram trainer runs on; words
    * past `maxWordLen` chars are excluded (the fixed decode-round
    * budget covers exactly this cap — the oracle applies the same
    * filter).
    */
  private def unigramWords(docs: DataFrame, maxWordLen: Int): DataFrame =
    docs.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint()

  /** Seed candidates with likelihoods: every substring ≤ `maxPieceLen`
    * weighted by word frequency, floored at `minFreq` with single
    * chars always kept (coverage), `p0 = freq·1e6 div Σfreq`.
    */
  private def unigramScoredOn(words: DataFrame, maxPieceLen: Int,
      minFreq: Long): DataFrame = {
    val cands = words
      .select(col("n"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), p -> " +
          s"transform(sequence(1, least($maxPieceLen, length(w) - p + 1)), " +
          s"l -> substring(w, p, l))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))
      .filter(col("freq") >= minFreq || length(col("piece")) === 1)
    cands
      .crossJoin(broadcast(cands.agg(
        sum(col("freq").cast("decimal(38,0)")).as("tot0"))))
      .select(col("piece"), col("freq"),
        expr("CAST(CAST(freq AS decimal(38,0)) * 1000000 DIV tot0 AS BIGINT)")
          .as("p0_ppm"))
      .localCheckpoint()
  }

  /** The hard-E-step decode: `maxWordLen` fixed MaxMatch rounds over
    * the distinct-word dict, returning every picked `(w, n, piece)` —
    * the shared kernel of the q307 count step and the q308 encoder.
    */
  private def unigramPicksOn(words: DataFrame, scored: DataFrame,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    var state = words.select(col("w"), col("n"), lit(1).as("pos"))
    val picks = Seq.newBuilder[DataFrame]
    for (_ <- 1 to maxWordLen) {
      val picked = state
        .filter(col("pos") <= length(col("w")))
        .select(col("w"), col("n"), col("pos"), explode(expr(
          s"transform(sequence(1, least($maxPieceLen, length(w) - pos + 1)), " +
            s"l -> substring(w, pos, l))")).as("piece"))
        .join(scored.select(col("piece"), col("p0_ppm")), Seq("piece"))
        .groupBy(col("w"), col("n"), col("pos"))
        .agg(max(struct(length(col("piece")).as("l"), col("p0_ppm"),
          col("piece"))).as("best"))
        .select(col("w"), col("n"), col("pos"),
          col("best.piece").as("piece"), col("best.l").as("l"))
        .localCheckpoint()
      picks += picked.select(col("w"), col("n"), col("piece"))
      state = picked.select(col("w"), col("n"),
        (col("pos") + col("l")).as("pos"))
    }
    picks.result().reduce(_.unionByName(_))
  }

  /** M-step + report: usage counts from the decoded picks, re-estimated
    * `p1 = cnt·1e6 div Σcnt` next to the seed `p0`, top-`topK` by
    * usage.
    */
  private def unigramFinish(picks: DataFrame, scored: DataFrame,
      topK: Int = 30): DataFrame = {
    val counts = picks.groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
    counts
      .join(scored.select(col("piece"), col("p0_ppm")), Seq("piece"))
      .crossJoin(broadcast(counts.agg(
        sum(col("cnt").cast("decimal(38,0)")).as("tot1"))))
      .select(col("piece"), col("cnt"), col("p0_ppm"),
        expr("CAST(CAST(cnt AS decimal(38,0)) * 1000000 DIV tot1 AS BIGINT)")
          .as("p1_ppm"))
      .orderBy(col("cnt").desc, col("piece"))
      .limit(topK)
  }

  private val unigramScoredCache =
    SessionCaches.newCache[(SparkSession, String)]()
  private val unigramPicksCache =
    SessionCaches.newCache[(SparkSession, String)]()

  /** Session-cached seed/decode frames shared by q307 and q308 — the
    * decode is the expensive stage (12 vocabulary-scale rounds), and
    * a production trainer runs it once per corpus snapshot. Both
    * frames are localCheckpointed before caching, so consumers read
    * materialized blocks, never re-run the rounds.
    */
  private def cachedUnigramScored(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(unigramScoredCache, (spark, dir))(
      unigramScoredOn(unigramWords(Tables.documents(spark, dir), 12), 4, 5))

  private def cachedUnigramPicks(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(unigramPicksCache, (spark, dir))(
      unigramPicksOn(unigramWords(Tables.documents(spark, dir), 12),
        cachedUnigramScored(spark, dir), 4, 12))

  /** Unigram-LM corpus encoder (q308): apply the q307-learned
    * segmentation to every word OCCURRENCE and report per-source
    * tokenizer fertility — word/char/subword counts and chars per
    * thousand subwords (the integer-floor compression ratio, the q234
    * convention). This completes the trainer/encoder PAIR for the
    * unigram family exactly as q225/q234 pair for BPE — the two
    * tokenizer-training paths an LLM data pipeline chooses between,
    * each with both halves.
    *
    * Scale shape: the decode runs once at vocabulary scale (shared
    * session cache with q307); the corpus pass is one explode to
    * (source, word) joined against the |vocab|-row per-word piece
    * counts — AQE broadcasts the vocab side while it fits. Integer
    * everything; words past the 12-char cap are excluded on both
    * engines (the documented cap).
    */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame =
    unigramEncodeFrom(Tables.documents(spark, dir),
      cachedUnigramPicks(spark, dir))

  private[graft] def unigramEncodeOn(docs: DataFrame): DataFrame = {
    val words = unigramWords(docs, 12)
    unigramEncodeFrom(docs,
      unigramPicksOn(words, unigramScoredOn(words, 4, 5), 4, 12))
  }

  /** Unigram-LM pruning round (q312, VERDICT r12 item 6): the step the
    * q307 trainer stopped short of — real SentencePiece ALTERNATES
    * re-estimation with dropping the lowest-likelihood pieces until a
    * target vocabulary. One prune: from the q307 EM round's usage
    * counts, multi-char pieces whose re-estimated mass falls below
    * `minLikPpm` (50 ppm — mean-relative, so the rule is SF-stable;
    * PARITY rule on fixed absolute thresholds) are dropped, single
    * chars always survive (the coverage guarantee that keeps MaxMatch
    * total), and the corpus word dict is RE-DECODED under the pruned
    * vocabulary with the re-estimated likelihoods as tie-breaks.
    * Report: per piece length, candidates before vs kept after, and
    * the re-decode's usage/mass — the vocab-size + coverage delta a
    * trainer inspects between prune rounds.
    *
    * Scale shape: rides the q307 session caches (seed + round-1
    * decode); the prune filter and survivor table are vocab-bounded;
    * the re-decode is the same 12 vocabulary-scale equi-join rounds as
    * q307 (ScalingBench's q307 probe covers the class). No ranking
    * window anywhere — the prune rule is a relational ppm threshold,
    * not a global percentile sort.
    */
  def unigramPrune(spark: SparkSession, dir: String): DataFrame =
    unigramPruneFrom(unigramWords(Tables.documents(spark, dir), 12),
      cachedUnigramScored(spark, dir), cachedUnigramPicks(spark, dir))

  private[graft] def unigramPruneOn(docs: DataFrame): DataFrame = {
    val words = unigramWords(docs, 12)
    val scored = unigramScoredOn(words, 4, 5)
    unigramPruneFrom(words, scored, unigramPicksOn(words, scored, 4, 12))
  }

  /** The q312 prune rule as a shared vocabulary builder: every seed
    * piece's re-estimated ppm mass from the round-1 decode, filtered
    * to single chars (always) plus multi-char pieces ≥ `minLikPpm` —
    * reused by the q318 trainer-overlap audit so the two consumers
    * cannot drift on what "the pruned unigram vocabulary" means.
    */
  private def unigramSurvivors(scored: DataFrame, picks: DataFrame,
      minLikPpm: Long = 50L): DataFrame = {
    val counts = picks.groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
    scored.select(col("piece"))
      .join(counts, Seq("piece"), "left")
      .crossJoin(broadcast(counts.agg(
        sum(col("cnt").cast("decimal(38,0)")).as("tot1"))))
      .select(col("piece"), coalesce(
        expr("CAST(CAST(cnt AS decimal(38,0)) * 1000000 DIV tot1 AS BIGINT)"),
        lit(0L)).as("lik"))
      .filter(length(col("piece")) === 1 || col("lik") >= minLikPpm)
      .localCheckpoint()
  }

  private def unigramPruneFrom(words: DataFrame, scored: DataFrame,
      picks: DataFrame, minLikPpm: Long = 50L): DataFrame = {
    val surv = unigramSurvivors(scored, picks, minLikPpm)
    // re-decode under the pruned vocabulary; the re-estimated ppm mass
    // is the pick likelihood (the kernel's tie-break column)
    val picks2 = unigramPicksOn(words,
      surv.select(col("piece"), col("lik").as("p0_ppm")), 4, 12)
    val c2 = picks2.groupBy(col("piece")).agg(sum(col("n")).as("cnt2"))
    val byCand = scored.groupBy(length(col("piece")).as("piece_len"))
      .agg(count(lit(1)).as("n_cand"))
    val byKept = surv.groupBy(length(col("piece")).as("piece_len"))
      .agg(count(lit(1)).as("n_kept"))
    val byPicks = c2.groupBy(length(col("piece")).as("piece_len"))
      .agg(sum(col("cnt2")).as("picks"))
    byCand
      .join(byKept, Seq("piece_len"), "left")
      .join(byPicks, Seq("piece_len"), "left")
      .crossJoin(broadcast(c2.agg(
        sum(col("cnt2").cast("decimal(38,0)")).as("tot2"))))
      .select(col("piece_len"), col("n_cand"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("picks"), lit(0L)).as("picks"),
        coalesce(expr(
          "CAST(CAST(picks AS decimal(38,0)) * 1000000 DIV tot2 AS BIGINT)"),
          lit(0L)).as("mass_ppm"))
      .orderBy(col("piece_len"))
  }

  /** Cohen's kappa between two heuristic quality classifiers (q313):
    * chance-corrected agreement between the length rule (doc at or
    * above corpus-mean chars) and the stopword-density rule (doc at or
    * above corpus-mean stopword rate) — the statistic a labeling
    * pipeline reports before trusting one cheap classifier as a proxy
    * for another. Both thresholds are mean-RELATIVE and
    * cross-multiplied on integers (a fixed absolute cutoff zeroes out
    * as the corpus grows — the Q11 lesson), and kappa is computed from
    * the ROUNDED ppm observed/expected agreement so both engines walk
    * the identical integer grid: `kappa = (po − pe)·1e6 div (1e6 −
    * pe)`, truncation toward zero on both (PARITY rule 4).
    *
    * Scale shape: one corpus pass to per-doc counts, a 1-row stat
    * aggregate crossed in broadcast (the house BNLJ pattern), one
    * map-side-combinable cell aggregate. Products ride decimal(38,0)
    * (`n_stop·tot_toks` passes 2^63 long before 100 TB — PARITY 13).
    */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame =
    cohensKappaOn(Tables.documents(spark, dir))

  private[graft] def cohensKappaOn(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val base = docs.select(col("n_chars"),
      size(toks).cast("long").as("n_toks"),
      size(filter(toks, t => t.isin(Text.stopwords.map(lit(_)): _*)))
        .cast("long").as("n_stop"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("n_chars").cast("decimal(38,0)")).as("tot_chars"),
      sum(col("n_toks").cast("decimal(38,0)")).as("tot_toks"),
      sum(col("n_stop").cast("decimal(38,0)")).as("tot_stop"))
    val flags = base.crossJoin(broadcast(tot)).select(
      when(expr("CAST(n_chars AS decimal(38,0)) * n >= tot_chars"), 1L)
        .otherwise(0L).as("a"),
      when(col("n_toks") > 0 && expr(
        "CAST(n_stop AS decimal(38,0)) * tot_toks >= " +
          "tot_stop * CAST(n_toks AS decimal(38,0))"), 1L)
        .otherwise(0L).as("b"))
    flags.agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("CAST(CAST(n11 + n00 AS decimal(38,0)) * 1000000 DIV n" +
          " AS BIGINT)").as("po_ppm"),
        expr("CAST((CAST(n11 + n10 AS decimal(38,0)) * (n11 + n01) + " +
          "CAST(n01 + n00 AS decimal(38,0)) * (n10 + n00)) * 1000000 " +
          "DIV (CAST(n AS decimal(38,0)) * n) AS BIGINT)").as("pe_ppm"))
      .select(col("*"),
        // degenerate-corpus guard (ADVICE r13): pe can round to exactly
        // 1e6 ppm (all docs in one cell), where Spark's DIV yields null
        // but DuckDB's // raises — report kappa 0 on both engines
        when(col("pe_ppm") < 1000000L,
          expr("CAST(CAST(po_ppm - pe_ppm AS decimal(38,0)) * 1000000 " +
            "DIV (1000000 - pe_ppm) AS BIGINT)"))
          .otherwise(lit(0L)).as("kappa_ppm"))
  }

  /** Mann–Whitney rank-sum drift (q314): does one language's document
    * length distribution stochastically dominate another's — the
    * nonparametric two-sample test a corpus monitor runs where a mean
    * comparison would be skew-blind. Exact, tie-aware, and integer:
    * `u2 = 2·#{(a,b): a > b} + #ties` folds over the merged
    * length-count grid as `Σ ca·(2·cumB(<len) + cB(len))`, and
    * `auc_ppm = u2·1e6 div (2·nA·nB)` is the probability-of-
    * superiority on the ppm grid (500000 = no drift).
    *
    * Scale shape: two map-side-combinable count grids, a full-outer
    * grid merge, ONE window over the merged grid — bounded by the
    * length VALUE DOMAIN, not row count (the q243 ECDF class,
    * PlanLint-allowlisted) — and a 1-row aggregate. `u2` itself is
    * emitted BIGINT (exact to ~2e9 docs per group; the fold runs on
    * decimal(38,0) and narrows only at the boundary, PARITY 13).
    */
  def rankSumDrift(spark: SparkSession, dir: String): DataFrame =
    rankSumDriftOn(Tables.documents(spark, dir))

  private[graft] def rankSumDriftOn(docs: DataFrame,
      langA: String = "en", langB: String = "zh"): DataFrame = {
    val ga = docs.filter(col("lang") === langA)
      .groupBy(col("n_chars").as("len")).agg(count(lit(1)).as("ca"))
    val gb = docs.filter(col("lang") === langB)
      .groupBy(col("n_chars").as("len")).agg(count(lit(1)).as("cb"))
    val grid = ga.join(gb, Seq("len"), "full_outer")
      .select(col("len"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("len"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    grid.withColumn("cumb", coalesce(sum(col("cb")).over(w), lit(0L)))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(expr("CAST(ca AS decimal(38,0)) * (2 * cumb + cb)")).as("u2d"))
      .select(col("n_a"), col("n_b"),
        col("u2d").cast("long").as("u2"),
        expr("CAST(u2d * 1000000 DIV " +
          "(2 * CAST(n_a AS decimal(38,0)) * n_b) AS BIGINT)").as("auc_ppm"))
  }

  private def unigramEncodeFrom(docs: DataFrame,
      picks: DataFrame): DataFrame = {
    val wp = picks.groupBy(col("w")).agg(count(lit(1)).as("n_pieces"))
    docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, 12))
      .join(wp, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_pieces")).as("n_subwords"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("n_subwords"),
        expr("CAST(CAST(n_chars AS decimal(38,0)) * 1000 DIV n_subwords" +
          " AS BIGINT)").as("chars_per_ksubword"))
      .orderBy(col("source"))
  }

  /** Good–Turing frequency-of-frequencies ladder (q349): per source,
    * the n_r counts (types seen exactly r times), the Good–Turing
    * unseen-probability mass p₀ = n₁/N, and the Turing-discounted
    * counts r* = (r+1)·n_{r+1}/n_r for r = 1..3 — the smoothing
    * statistics behind Katz/SGT language models and the "how much
    * probability belongs to words we have never seen" readout that
    * complements q346's Chapman (type-count universe) and q165's hapax
    * share (vocabulary composition). A source whose r* ladder sits far
    * below r is heavy-tailed (most low-count types are sampling
    * noise); r* ≈ r means counts are trustworthy. All integer: p₀ in
    * ppm, r* in milli, n_r = 0 rungs guard to 0 (PARITY 21).
    *
    * Scale shape: one (source, token) count pass (the q165 shuffle),
    * then a source-grain conditional rollup — nothing beyond the
    * token aggregation touches the corpus.
    */
  def goodTuring(spark: SparkSession, dir: String): DataFrame =
    goodTuringOn(Tables.documents(spark, dir))

  private[graft] def goodTuringOn(docs: DataFrame): DataFrame = {
    def nr(r: Int) =
      sum(when(col("n_occ") === r.toLong, 1L).otherwise(0L)).as(s"n$r")
    def rstar(r: Int) = when(col(s"n$r") > 0,
      expr(s"${r + 1} * n${r + 1} * 1000 div n$r")).otherwise(lit(0L))
      .as(s"rstar${r}_milli")
    docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n_occ"))
      .groupBy(col("source"))
      .agg(sum(col("n_occ")).as("n_tokens"),
        count(lit(1)).as("n_vocab"), nr(1), nr(2), nr(3), nr(4))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        col("n1"), col("n2"), col("n3"),
        expr("n1 * 1000000 div n_tokens").as("p0_ppm"),
        rstar(1), rstar(2), rstar(3))
      .orderBy(col("source"))
  }

  /** Dawid–Skene-lite weak-supervision label model (q347): three
    * deterministic weak labelers vote "high quality" per document
    * (length band / diversity ≥ 2400 / stopword-share band — all
    * integer signals from one tokenize pass), and `rounds` EM
    * iterations jointly estimate per-labeler ACCURACY and per-item
    * posteriors — the Snorkel/Dawid-Skene kernel that turns noisy
    * heuristic votes into calibrated labels without ground truth. The
    * output is the convergence trace: per (round, labeler) the
    * accuracy estimate plus the round's positive-item count — a
    * labeler the model learns to distrust is visible as a falling
    * acc_ppm.
    *
    * Integer-total EM: posteriors and accuracies live on the ppm grid;
    * the M-step likelihood products Π aⱼ / (10⁶−aⱼ) over 3 labelers
    * peak at 10¹⁸ (inside BIGINT, PARITY 24 budget documented);
    * accuracies clamp to [1, 999999] so no product can collapse to a
    * 0/0 posterior on either engine. One corpus pass builds votes;
    * each round is one item-grain recompute against a broadcast 1-row
    * accuracy frame plus three 1-row aggregates.
    */
  def labelModel(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    labelModelOn(Tables.documents(spark, dir), rounds)

  private[graft] def labelModelOn(docs: DataFrame,
      rounds: Int): DataFrame = {
    val m = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_distinct"),
        sum(when(col("tok").isin(Text.stopwords: _*), col("c"))
          .otherwise(lit(0L))).as("n_stop"))
    var items = m.select(col("doc_id"),
        when(col("n_tok").between(20, 1000), 1L).otherwise(0L).as("v1"),
        when(expr("n_distinct * 3000 div n_tok") >= 2400, 1L)
          .otherwise(0L).as("v2"),
        when(col("n_stop") * 100 >= col("n_tok") &&
          col("n_stop") * 10 <= col("n_tok") * 6, 1L).otherwise(0L)
          .as("v3"))
      .withColumn("post", expr("(v1 + v2 + v3) * 1000000 div 3"))
      // lazy (r18, the q113/q332 iteration shape): each EM round's
      // consumers are sequential (acc's broadcast completes before the
      // crossJoin stage), so the final action materializes the chain —
      // 7 synchronous per-rep checkpoint jobs become one cascade
      .localCheckpoint(eager = false)
    val trace = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      def accOf(v: String) = greatest(least(
        expr(s"sum(CASE WHEN $v = 1 THEN post ELSE 1000000 - post END)" +
          " div count(1)"), lit(999999L)), lit(1L))
      val acc = items.agg(accOf("v1").as("a1"), accOf("v2").as("a2"),
        accOf("v3").as("a3")).localCheckpoint(eager = false)
      items = items.crossJoin(broadcast(acc))
        .withColumn("n1", expr(
          "(CASE WHEN v1 = 1 THEN a1 ELSE 1000000 - a1 END) * " +
          "(CASE WHEN v2 = 1 THEN a2 ELSE 1000000 - a2 END) * " +
          "(CASE WHEN v3 = 1 THEN a3 ELSE 1000000 - a3 END)"))
        .withColumn("n0", expr(
          "(CASE WHEN v1 = 1 THEN 1000000 - a1 ELSE a1 END) * " +
          "(CASE WHEN v2 = 1 THEN 1000000 - a2 ELSE a2 END) * " +
          "(CASE WHEN v3 = 1 THEN 1000000 - a3 ELSE a3 END)"))
        .select(col("doc_id"), col("v1"), col("v2"), col("v3"),
          expr("CAST(CAST(n1 AS decimal(38,0)) * 1000000" +
            " div (n1 + n0) AS BIGINT)").as("post"))
        .localCheckpoint(eager = false)
      val nPos = items.agg(
        sum(when(col("post") >= 500000L, 1L).otherwise(0L)).as("n_pos"))
      trace += acc.crossJoin(broadcast(nPos))
        .select(lit(r).as("round"), explode(map(
          lit("len_band"), col("a1"), lit("diversity"), col("a2"),
          lit("stopword"), col("a3"))).as(Seq("labeler", "acc_ppm")),
          col("n_pos"))
    }
    trace.result().reduce(_ unionByName _)
      .select(col("round"), col("labeler"), col("acc_ppm"), col("n_pos"))
      .orderBy(col("round"), col("labeler"))
  }
}
