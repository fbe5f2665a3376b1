package graft

import graft.operators.{DedupOps, GraphOps, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Empirical scaling probe for the dedup, span-dup, and embedding
  * families: runs each probe across an SF series (or 2×/4×/8× synthetic
  * corpora) and prints per-probe times plus the fitted log-log slope vs
  * the relevant table's row count. A pipeline that went quadratic shows a
  * slope near 2 between the largest steps; the df-capped / bucket-capped
  * pipelines should stay near (or below) 1 once per-job fixed overhead is
  * amortized. Results land in SCALING.md.
  *
  *   runMain graft.ScalingBench [synth | sfDir ...]
  */
object ScalingBench {

  /** One scaling probe: display name, the table whose row count anchors
    * the slope fit, and the pipeline to time.
    */
  case class Probe(name: String, table: String,
      fn: (SparkSession, String) => DataFrame)

  /** Per-dir embedding row counts, populated by main BEFORE the timed
    * loop so probe lambdas can size nPlanes without a scan job landing in
    * the timed region. [[embCount]] falls back to a live count for any
    * caller invoking a probe outside main's pre-counted dirs.
    */
  private var embCounts: Map[String, Long] = Map.empty

  private def embCount(s: SparkSession, d: String): Long =
    embCounts.getOrElse(d, Tables.embeddings(s, d).count())

  val probes: Seq[Probe] =
    Seq("q27_dedup_exact", "q28_ngram_jaccard", "q29_minhash_neardup",
      "q30_simhash_neardup", "q53_dedup_clusters", "q59_dedup_keeplist",
      // round-7 corpus ops, all designed linear: q98 is a row-local
      // explode onto an alphabet²-bounded agg, q100 the exact-dedup
      // shuffle + histogram, q105 two linear passes with a broadcast
      // λ-table — the probes verify none of them hides a super-linear
      // stage (e.g. a skewed bucket or an unbounded key space)
      "q98_bpe_merge", "q100_dup_inflation", "q105_importance_weights",
      // q114 is map-only (chunk count is a fixed multiple of tokens);
      // q116 is two linear passes onto a V-bounded vocab — the probes
      // verify neither hides a super-linear stage (an unbounded vocab
      // broadcast would bend q116's curve)
      "q114_doc_chunks", "q116_vocab_coverage",
      // round-12 tokenizer/retrieval additions: q307's decode rounds
      // run at vocabulary scale (per-round cost linear in corpus size
      // is the claim the probe checks); q309 rides the shared postings
      // index with a broadcast query side
      "q307_unigram_lm", "q309_qlm_topk",
      // round-14b: q333's duel matrix is one rank window + a
      // source-enum-bounded self-join (BT rounds are metadata-scale);
      // q334 is k fixed corpus passes (the greedy-coverage claim: each
      // round linear, never quadratic); q337 is one sketch pass + a
      // token join with enum²-bounded fan-out; q338 is one R×-fanout
      // pass onto (source × replica) partial sums
      "q333_bradley_terry", "q334_greedy_coverage",
      "q337_sketch_overlap", "q338_bootstrap_ci",
      // round-15: q353 rides the q53 clusters + q35 quality (both
      // linear) with a cluster-bounded keeper window and a |sources|²
      // matrix; q354 is one token-position explode (×maxLcp payload)
      // + a first-token-partitioned sort window + an enum-sized agg —
      // the probe checks the suffix blowup stays the documented
      // constant factor, never a bend
      "q353_keeper_matrix", "q354_suffix_lcp",
      // round-16: q356 composes q206's row-local prefix hash (one
      // (source, prefix)-grain window) with q87's codegen span-scrub
      // pipeline + a |sources| rollup — the probe checks the composed
      // shape inherits q87's slope, never a bend from the join
      "q356_boilerplate_divergence",
      // round-17 crawl layer: q359 is all row-local string expressions
      // + one host-grain (value-domain) rollup — the flattest shape in
      // the registry, the probe pins it; q358 is one sample-ranged
      // rank + a layout write + ONE O(files) footer metadata job +
      // three pruned reads — linear in rows with metadata-scale file
      // work (the probe checks the footer job never degrades to a
      // per-row cost as files multiply)
      "q359_host_canonicalize", "q358_host_sorted_read")
      .map(q => Probe(q, "documents", SparkEntry.queries(q))) ++ Seq(
      // span family: exact (oracle-gated) keys and the hashed-key 100 TB
      // variant (xxhash64 span keys on both span shuffles)
      Probe("q66_span_dup", "documents",
        (s, d) => DedupOps.spanDupStats(s, d)),
      Probe("q66_span_dup_hashed", "documents",
        (s, d) => DedupOps.spanDupStats(s, d, hashedKeys = true)),
      // embedding family. Brute-force top-k is the linear baseline; the
      // LSH probes run the planesFor-scaled configuration (the documented
      // scale recipe — at fixed nPlanes the bucket join volume is
      // n²/2^planes by construction, which is the thing the recipe fixes)
      Probe("q31_cosine_topk", "embeddings",
        SparkEntry.queries("q31_cosine_topk")),
      // nPlanes comes from the pre-counted row totals (embCounts, set in
      // main before the timed loop) — an emb.count() inside the lambda
      // would add a full scan job to the timed region and bias the slope
      Probe("q33_lsh_topk_ann", "embeddings", (s, d) =>
        SimilarityOps.lshTopKDF(Tables.embeddings(s, d),
          nPlanes = SimilarityOps.planesFor(embCount(s, d)))),
      Probe("q64_lsh_neardup_full", "embeddings", (s, d) =>
        SimilarityOps.lshNearDupDF(Tables.embeddings(s, d),
          nPlanes = SimilarityOps.planesFor(embCount(s, d)))),
      // q335 over the FULL embedding table with planesFor-scaled
      // buckets (the production configuration — the maxId diagnostic
      // bound falls away; the probe checks the eps-graph + CC chain
      // stays near-linear as the corpus grows)
      Probe("q335_dbscan_full", "embeddings", (s, d) =>
        SimilarityOps.dbscanOn(Tables.embeddings(s, d),
          threshold = 0.30, minPts = 3,
          nPlanes = SimilarityOps.planesFor(embCount(s, d)),
          nTables = 96)),
      // IVF probes a fixed nProbe/#lists corpus fraction, so its cost is
      // linear in corpus size by construction — the probe verifies the
      // codebook/assignment stages (posexplode + crossJoin-broadcast)
      // don't hide anything super-linear
      Probe("q70_ivf_topk", "embeddings",
        SparkEntry.queries("q70_ivf_topk")),
      // k-means|| init A/B: rounds × (corpus × O(k)-candidate broadcast
      // BNLJ + map-side min) — linear in corpus by construction; the
      // probe verifies the candidate set stays codebook-scale as n grows
      Probe("q324_init_compare", "embeddings",
        SparkEntry.queries("q324_init_compare")),
      // SemDeDup: the fixed label codebook is the honest negative — at a
      // fixed list count the within-list pairwise is Σ|list|² = n²/k, so
      // its slope should approach 2 as the pair stage outgrows fixed
      // overhead. The kFor-sized codebook is the scale recipe (list count
      // grows with the corpus, expected population pinned at targetList)
      // and should hold ~linear — the measured pair is exactly the
      // quadratic VERDICT r4 flagged and the knob that fixes it
      // PQ is linear by construction (m·n codes, broadcast LUT, one
      // (query, vec) aggregation) — the probe verifies the encode and
      // LUT stages hide nothing super-linear
      Probe("q77_pq_topk", "embeddings",
        SparkEntry.queries("q77_pq_topk")),
      // the kFor-sized sampled codebook (the 100 TB operating point):
      // codebook rows grow as m·kFor(n) but stay broadcast; codes stay
      // n·m and the LUT nQueries·m·kFor(n) — the probe verifies the
      // growing codebook doesn't push any stage super-linear
      Probe("q77_pq_sized", "embeddings", (s, d) =>
        SimilarityOps.pqTopKSized(s, d,
          SimilarityOps.kFor(embCount(s, d), targetList = 500L))),
      // the fused scorer (q86): same model, zero corpus shuffles — the
      // probe pins that removing the encode window/ADC aggregation
      // keeps the whole path flat like the scan it now is
      Probe("q86_pq_fused", "embeddings",
        SparkEntry.queries("q86_pq_fused")),
      // the composed IVF-PQ index (q88): assignment + residual encode +
      // probed ADC — the probe pins the composition stays near-linear
      // (codebook training is the only super-constant stage and is
      // cached per session; each rep pays it after eviction)
      Probe("q88_ivfpq_topk", "embeddings",
        SparkEntry.queries("q88_ivfpq_topk")),
      // SQ8 (q82): one stats pass + row-local encode + brute-force-shaped
      // scoring — linear by construction
      Probe("q82_sq_topk", "embeddings",
        SparkEntry.queries("q82_sq_topk")),
      Probe("q75_semantic_label", "embeddings",
        (s, d) => SimilarityOps.semanticDedup(s, d)),
      Probe("q75_semantic_sized", "embeddings", (s, d) =>
        SimilarityOps.semanticDedupSized(s, d,
          SimilarityOps.kFor(embCount(s, d), targetList = 500L))),
      // round-3 corpus-level joins: bloom novelty (set-bit build + probe
      // join) and the bigram LM (model groupBys + scoring joins) — both
      // should be ~linear in document rows
      Probe("q72_bloom_novelty", "documents",
        SparkEntry.queries("q72_bloom_novelty")),
      // MG sketch pass + capacity-bounded recount — linear by
      // construction; the probe guards the recount staying semi-filtered
      Probe("q78_heavy_hitters", "documents",
        SparkEntry.queries("q78_heavy_hitters")),
      Probe("q73_lm_perplexity", "documents",
        SparkEntry.queries("q73_lm_perplexity")),
      // round-6 additions. BM25 (q89): the postings groupBy is the one
      // corpus shuffle; candidates are df-bounded and this vocabulary is
      // all stopword-grade, so candidate volume grows linearly with the
      // corpus — the probe pins the whole funnel staying ~linear
      Probe("q89_bm25_topk", "documents",
        SparkEntry.queries("q89_bm25_topk")),
      // CMS (q90): one sketch pass (fixed d·w buffer) + top-k probe —
      // linear by construction; the probe guards the probe join staying
      // broadcast as the corpus grows
      Probe("q90_cms_profile", "documents",
        SparkEntry.queries("q90_cms_profile")),
      // incremental family: the snapshot-diff join and the delta fold
      // are both ~linear in rows (delta size is a fixed fraction under
      // the synthetic edit script)
      Probe("q91_snapshot_diff", "documents",
        SparkEntry.queries("q91_snapshot_diff")),
      Probe("q93_incr_agg", "documents",
        SparkEntry.queries("q93_incr_agg")),
      // IVF upsert (q92): codebook + both assignments are linear corpus
      // passes; the report join is list-cardinality-sized
      Probe("q92_ivf_upsert", "embeddings",
        SparkEntry.queries("q92_ivf_upsert")),
      // prefix rerank (q94): coarse pass is brute-force-shaped over 1/4
      // of the vector bytes; rerank is shortlist-sized
      Probe("q94_prefix_rerank", "embeddings",
        SparkEntry.queries("q94_prefix_rerank")),
      // PCA power iteration (q95): iters linear corpus passes, a 64-cell
      // shuffle each — the probe pins the matrix-free shape staying flat
      Probe("q95_pca_power", "embeddings",
        SparkEntry.queries("q95_pca_power")),
      // span scrub (q87) post-rewrite: row-local span build + rebuild,
      // one span-key shuffle + one delta-sized covered aggregation
      Probe("q87_span_scrub", "documents",
        SparkEntry.queries("q87_span_scrub")),
      // ABTT removal (q96): map-only projection over the cached
      // component — should track the scan like q82
      Probe("q96_abtt_removal", "embeddings",
        SparkEntry.queries("q96_abtt_removal")),
      // prefix join (q121) / containment (q124): the quadratic hazard is
      // the prefix-element posting join — rare-first ordering bounds
      // fan-out at df² of LOW-df elements, so the probes verify the
      // candidate stage tracks the corpus, not its square (the synth
      // corpora share zero shingles across copies, so candidates scale
      // with the per-copy structure exactly k×)
      Probe("q121_prefix_join", "documents",
        SparkEntry.queries("q121_prefix_join")),
      // A/B: identical pipeline with the candidate-join payload kept as
      // md5-hex strings (~32B) instead of the default xxhash64 longs
      // (8B) — the VERDICT r7 probe that made hashed the default
      // (measured: 4.3 s vs 11.4 s at the 8× synth corpus)
      Probe("q121_prefix_md5", "documents",
        (s, d) => DedupOps.prefixJaccardJoin(s, d, hashedPayload = false)),
      Probe("q124_containment", "documents",
        SparkEntry.queries("q124_containment")),
      // source overlap (q119): distinct (source, 16-gram) then an
      // S²-bounded hash join — linear build, vocabulary-sized join
      Probe("q119_source_overlap", "documents",
        SparkEntry.queries("q119_source_overlap")),
      // vocab growth (q127): shingle build + min() partial agg; the
      // quartile stage is (source × 4)-sized
      Probe("q127_vocab_growth", "documents",
        SparkEntry.queries("q127_vocab_growth")),
      // round-8 additions. threshold sweep (q184): the q121 pipeline at
      // t = 1/2 — the LONGEST lossless prefix this family ships (half
      // of each doc's shingles), so its candidate volume bounds every
      // other operating point; the probe verifies the lowest-threshold
      // sweep stays in the q121 scaling class, not its square
      Probe("q184_threshold_sweep", "documents",
        SparkEntry.queries("q184_threshold_sweep")),
      // shingle df profile (q193): one df aggregate over the shared
      // n-gram cache + an ~8-band rollup — should track the cache build
      Probe("q193_shingle_df", "documents",
        SparkEntry.queries("q193_shingle_df")),
      // round-9 additions. q182 post-two-phase: the token-count pass is
      // the only corpus-tracking stage; the rank window sees ONLY the
      // top-max(budgets) frame (a constant), so the probe pins the curve
      // staying linear as the suffix-synth vocabulary grows ~k×
      Probe("q182_vocab_budget", "documents",
        SparkEntry.queries("q182_vocab_budget")),
      // graph family over the user-scaled events synth (users grow k×,
      // item domain FIXED — the verdict-r8 probe). The per-user pair
      // expansion is the corpus-tracking stage (C(items_u,2) rows per
      // user); the wedge join runs on the support-filtered co-occurrence
      // graph, whose edge set saturates at C(|items|,2) — so the whole
      // pipeline should track users ~linearly, and a slope bending
      // toward 2 would mean the pair stage (the capped one) went hot
      Probe("q153_triangles", "events",
        SparkEntry.queries("q153_triangles")),
      Probe("q173_kcore", "events",
        SparkEntry.queries("q173_kcore")),
      Probe("q113_pagerank", "events",
        SparkEntry.queries("q113_pagerank")),
      // q200 post-scalar-total: the path build is one user_id shuffle;
      // the entropy rollup is journey-cardinality-sized with the user
      // total crossed in broadcast (no empty-partition window)
      Probe("q200_journey_entropy", "events",
        SparkEntry.queries("q200_journey_entropy")),
      // q205 winnowing: gram build + per-doc window min — the sketch the
      // rollup shuffles is ~2/(w+1) of gram count, so the whole path
      // should track the corpus like the other gram passes
      Probe("q205_winnowing", "documents",
        SparkEntry.queries("q205_winnowing")),
      // q209 upsert: the q29 pipeline + a pair filter — the probe pins
      // the incremental path staying in the q29 scaling class
      Probe("q209_minhash_upsert", "documents",
        SparkEntry.queries("q209_minhash_upsert")),
      // q217 winnow matches: capped fingerprint postings over the
      // already-thinned winnowed sketch — the probe pins the self-join
      // tracking the corpus, not its square (synth copies share zero
      // grams, so match structure scales with per-copy structure)
      Probe("q217_winnow_matches", "documents",
        SparkEntry.queries("q217_winnow_matches")),
      // q210 bot burst: one user_id shuffle + per-user RANGE frames —
      // linear in events by construction
      Probe("q210_bot_burst", "events",
        SparkEntry.queries("q210_bot_burst")),
      // q225 iterated BPE: ONE corpus pass builds the word dict, then
      // every merge round runs at vocabulary scale — the probe pins the
      // per-round cost tracking corpus size ~linearly (Heaps-law vocab
      // growth keeps the round cost sublinear in corpus rows; a slope
      // near 1 would mean the rounds regressed to corpus scale)
      Probe("q225_bpe_train", "documents",
        SparkEntry.queries("q225_bpe_train")),
      // q219 assortativity: the capped pair build + an edge-scale
      // degree join into a one-row moment aggregate — tracks the pair
      // expansion like the rest of the graph family
      Probe("q219_assortativity", "events",
        SparkEntry.queries("q219_assortativity")),
      // q220 session gaps: the q58 session shuffle + a lag over
      // session-cardinality rows — linear in events
      Probe("q220_session_gaps", "events",
        SparkEntry.queries("q220_session_gaps")),
      // round-11 additions. q243 KS drift: the (length, source) count
      // is the one corpus shuffle; the ECDF windows run on the compact
      // domain grid (distinct lengths × sources), so the curve should
      // track the count pass — a bending slope would mean the grid
      // stopped being compact
      Probe("q243_ks_drift", "documents",
        SparkEntry.queries("q243_ks_drift")),
      // q252 skyline: quality pass + per-source range windows + a
      // frontier-sized merge anti-join — the probe pins the distributive
      // two-phase shape tracking the quality pass, never the O(n²)
      // domination join it replaces
      Probe("q252_quality_skyline", "documents",
        SparkEntry.queries("q252_quality_skyline")),
      // q245 SCD2 + q248 PIT: one user_id shuffle each (three windows
      // share it in q245; the as-of union fold in q248) — linear in
      // events by construction
      Probe("q245_scd2_bands", "events",
        SparkEntry.queries("q245_scd2_bands")),
      Probe("q248_pit_band_mix", "events",
        SparkEntry.queries("q248_pit_band_mix")),
      // round-11b additions. q265 CF recs: the cached capped pair grid
      // + item-cardinality marginal joins + per-item bounded top-3 —
      // should track the pair expansion (the q113/q219 class); a
      // superlinear bend would mean the marginal join went corpus-scale
      Probe("q265_item_recs", "events",
        SparkEntry.queries("q265_item_recs")),
      // q286 stationary chain: ONE corpus window builds transitions,
      // then 8 rounds on state-cardinality frames — the probe pins the
      // iteration cost staying flat while the corpus grows
      Probe("q286_markov_stationary", "events",
        SparkEntry.queries("q286_markov_stationary")),
      // q279 PRF: the cached postings build is the corpus stage; the
      // feedback mining joins broadcast (queries × fbDocs) rows against
      // it — the probe pins expansion mining tracking the index build,
      // never re-scanning per query
      Probe("q279_prf_expansion", "documents",
        SparkEntry.queries("q279_prf_expansion")),
      // round-13 additions (VERDICT r12 item 8): the MERGE/CDC/write-amp
      // trio's O(delta)/O(affected-partition) claims, measured. q306's
      // changeset is a fixed modulo fraction of the corpus, so the merge
      // (one full-outer shuffle on the key, delta-sized change side)
      // should track the corpus ~linearly; q310's winner-per-key is ONE
      // map-side-combinable struct-max over the events log (linear by
      // construction — a bend would mean the argmax regressed to a
      // window); q311 replays the affected-partition arithmetic, whose
      // TIME tracks the corpus scan while the scoped-merge SHARE falls
      // with scale (the separate write_amp_share probe below records
      // the shares themselves)
      Probe("q306_merge_into", "documents",
        SparkEntry.queries("q306_merge_into")),
      Probe("q310_cdc_compaction", "events",
        SparkEntry.queries("q310_cdc_compaction")),
      Probe("q311_write_amplification", "documents",
        SparkEntry.queries("q311_write_amplification")),
      // q312 re-decodes the corpus dict under the pruned vocab — the
      // probe pins the prune+re-decode staying in q307's class (the
      // session caches are cleared per rep, so each rep pays seed +
      // both decode passes); q316 is a corpus pass of row-local
      // replaces after vocabulary-scale training
      Probe("q312_unigram_prune", "documents",
        SparkEntry.queries("q312_unigram_prune")),
      Probe("q316_bpe_roundtrip", "documents",
        SparkEntry.queries("q316_bpe_roundtrip")))

  /** Build k-times-scaled corpora from sf0.1 (documents AND embeddings).
    * Document copy c suffixes every token with a copy marker, so each
    * copy keeps the original's exact token/shingle frequency DISTRIBUTION
    * (same workload shape) while sharing zero shingles across copies (no
    * artificial cross-copy near-dup pairs, no artificial hot shingles —
    * an earlier interleaving variant accidentally created unigram-like
    * `cpN X cpN` shingles and measured the degenerate-postings case
    * instead of scale-up). Embedding copy c rotates the 64-dim vector by
    * c positions: an orthogonal-ish remap that preserves every
    * within-copy cosine (same near-dup structure per copy) without making
    * copies near-duplicates of each other. Scaling-probe artifacts only;
    * correctness always runs on the driver-provided testdata.
    */
  private def synthDirs(spark: SparkSession, base: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val esrc = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    Seq(2, 4, 8).map { k =>
      val dir = s"$base/v2x$k"
      val out = s"$dir/documents.parquet"
      if (!graft.etl.HadoopIo.exists(spark, out)) {
        val copies = (0 until k).map { c =>
          src.select(
            (col("doc_id") * k + c).as("doc_id"),
            (if (c == 0) col("text")
             else regexp_replace(col("text"), "(\\S+)", s"$$1zq$c")).as("text"),
            col("lang"), col("source"), col("n_chars"))
        }
        copies.reduce(_ unionByName _).write.mode("overwrite").parquet(out)
      }
      val eout = s"$dir/embeddings.parquet"
      if (!graft.etl.HadoopIo.exists(spark, eout)) {
        val ecopies = (0 until k).map { c =>
          esrc.select(
            (col("vec_id") * k + c).as("vec_id"),
            (if (c == 0) col("embedding")
             else concat(slice(col("embedding"), c + 1, 64 - c),
               slice(col("embedding"), 1, c))).as("embedding"),
            col("label"))
        }
        ecopies.reduce(_ unionByName _).write.mode("overwrite").parquet(eout)
      }
      // events copy c remaps users (and event ids) to fresh values but
      // keeps item domain, timestamps, and per-user activity shape — the
      // graph-family scale axis is MORE USERS over the SAME items: the
      // per-user pair expansion grows k× while the support-filtered edge
      // set saturates at C(|items|,2), exactly the dense-graph regime
      // the degree-ordered wedge join must survive
      val evout = s"$dir/events.parquet"
      if (!graft.etl.HadoopIo.exists(spark, evout)) {
        val evsrc = Tables.events(spark, "/root/testdata/sf0.1")
        val evcopies = (0 until k).map { c =>
          evsrc.select(
            (col("event_id") * k + c).as("event_id"), col("ts"),
            (col("user_id") * k + c).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }
        evcopies.reduce(_ unionByName _).write.mode("overwrite").parquet(evout)
      }
      dir
    }
  }

  /** Hot-user cap fixture: sf0.1 events plus ONE synthetic bot account
    * touching `hotItems` distinct items (far past the 500-item cap).
    * Uncapped, that single user key emits C(hotItems,2) pair rows inside
    * one task — the quadratic hot-key blow-up no salting can split;
    * capped, it is bounded at C(cap,2) like everyone else. [[main]]
    * times the triangle pipeline both ways and prints the ratio — the
    * measured proof the [[graft.operators.EventOps.cappedUserItems]]
    * guard flattens the curve.
    */
  private def hotUserDir(spark: SparkSession, base: String,
      hotItems: Int): String = {
    import org.apache.spark.sql.functions._
    val dir = s"$base/hotuser"
    val out = s"$dir/events.parquet"
    if (!graft.etl.HadoopIo.exists(spark, out)) {
      val evsrc = Tables.events(spark, "/root/testdata/sf0.1")
      val hot = spark.range(hotItems.toLong).select(
        (col("id") + 10000000L).as("event_id"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"),
        lit(9999999L).as("user_id"),
        lit("view").as("event_type"),
        lit(1.0).as("value"),
        concat(lit("""{"k": """), (col("id") + 1000).cast("string"),
          lit("}")).as("props"))
      evsrc.unionByName(hot).write.mode("overwrite").parquet(out)
    }
    dir
  }

  /** Streaming throughput + state-store probe (mode `stream`, VERDICT
    * r13 item 3): drive the three heaviest stateful operators over
    * 1×/2×/4×/8× staged corpora and record wall, rows/sec, max
    * micro-batch duration, and peak state rows, A/B'd between the
    * HDFS-backed and RocksDB state store providers. Corpus scaling
    * grows the STATE, not just the volume: event copies shift
    * user_id (replay keyspace) and ts by 90 days per copy (tiered
    * window count); doc copies shift doc_id and append a copy marker
    * to the text so the dedup fingerprint space scales too.
    * SessionReplayStream uses `transformWithState`, which Spark 4
    * supports only on RocksDB — it gets RocksDB rows only; the other
    * two run both providers.
    */
  private def streamProbe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables.events(spark, dir).localCheckpoint()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    def scaledEvents(k: Int): DataFrame =
      (0 until k).map(i => events
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000000L))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 90} DAYS")))
        .reduce(_ unionByName _)
    def scaledDocs(k: Int): DataFrame =
      (0 until k).map(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
        .withColumn("text", concat(col("text"), lit(s" #v$i"))))
        .reduce(_ unionByName _)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) +
          pmod(col("doc_id"), lit(1000000L))))
    val providers = Map(
      "hdfs" -> ("org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider"),
      "rocksdb" -> ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"))
    def drive(op: String, store: String, scale: Int, input: DataFrame,
        build: DataFrame => DataFrame,
        outputMode: String = "append"): String = {
      val stage = java.nio.file.Files
        .createTempDirectory(s"graft-sprobe-$op-$store-$scale")
      val stageDir = stage.toString
      input.write.mode("overwrite").parquet(stageDir)
      val rows = spark.read.parquet(stageDir).count()
      val src = spark.readStream
        .schema(spark.read.parquet(stageDir).schema).parquet(stageDir)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        providers(store))
      val name = s"sprobe_${op}_${store}_$scale"
      val t0 = System.nanoTime()
      val q = build(src).writeStream.outputMode(outputMode).format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val batchMs =
        if (progress.isEmpty) 0L else progress.map(_.batchDuration).max
      val stateRows = if (progress.isEmpty) 0L
        else progress.map(_.stateOperators.map(_.numRowsTotal).sum).max
      val stateBytes = if (progress.isEmpty) 0L
        else progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
      q.stop()
      val outRows = spark.table(name).count()
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val root = new org.apache.hadoop.fs.Path(stageDir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
      f"""{"op":"$op","store":"$store","scale":$scale,"rows":$rows,""" +
        f""""wall_sec":$wall%.2f,"rows_per_sec":${rows / wall}%.0f,""" +
        f""""batch_ms":$batchMs,"state_rows":$stateRows,""" +
        f""""state_bytes":$stateBytes,"out_rows":$outRows}"""
    }
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      for (scale <- Seq(1, 2, 4, 8); store <- Seq("hdfs", "rocksdb")) {
        runs += drive("tiered_agg", store, scale, scaledEvents(scale),
          src => graft.streaming.TieredAggStream.tieredTree(src))
        runs += drive("wm_dedup", store, scale, scaledDocs(scale),
          src => graft.streaming.WatermarkDedupStream.admitted(src))
        // op 21: the HLL panel's state is O(groups x registers)
        // REGARDLESS of user cardinality — the probe measures the
        // claim (state rows pinned at the type enum, bytes flat,
        // while distinct users grow 8x)
        runs += drive("hll_distinct", store, scale, scaledEvents(scale),
          src => graft.streaming.DistinctStream.distinctPanel(src),
          outputMode = "complete")
      }
      for (scale <- Seq(1, 2, 4, 8))
        runs += drive("session_replay", "rocksdb", scale,
          scaledEvents(scale),
          src => graft.streaming.SessionReplayStream.sessions(src).toDF())
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    println(s"""{"metric":"stream_throughput","sf_dir":"$dir","runs":[${runs.mkString(",")}]}""")
  }

  /** Concurrent-query probe (mode `concurrent`, VERDICT r13 item 8): a
    * shared 100 TB cluster runs queries CONCURRENTLY, while Bench runs
    * all 325 serially — this probe measures what concurrency does to
    * the same session. K mid-weight queries (spanning scan-heavy,
    * join-heavy, window, graph, ANN, retrieval families) run
    * simultaneously from K threads, each in its own FAIR scheduler
    * pool (the session is built with `spark.scheduler.mode=FAIR`, so
    * pools get round-robin task slots instead of FIFO job ordering —
    * without it the first submitted job's stages hog all 32 cores and
    * "concurrency" is just a queue). Reported: warm serial sum vs
    * concurrent wall at K=4 and K=8 (medians of 3) and the speedup.
    * This is also the only place the session caches are exercised from
    * many threads at once (SessionCaches is ConcurrentHashMap-based
    * with a documented benign build race — the warm pass builds every
    * cache first, the concurrent passes then hit them from K threads).
    */
  private def concurrentProbe(spark: SparkSession, dir: String): Unit = {
    val qNames = Seq("q103_funnel", "q107_item_pmi", "q113_pagerank",
      "q121_prefix_join", "q27_dedup_exact", "q31_cosine_topk",
      "q89_bm25_topk", "q25_events_daily")
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    qNames.foreach(run) // warm: session caches + JIT, untimed
    def serialPass(): Double = {
      val t0 = System.nanoTime()
      qNames.foreach(run)
      (System.nanoTime() - t0) / 1e9
    }
    def concurrentPass(k: Int): Double = {
      val subset = qNames.take(k)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val t0 = System.nanoTime()
      val futs = subset.zipWithIndex.map { case (n, i) =>
        scala.concurrent.Future {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            s"pool$i")
          run(n)
        }(ec)
      }
      import scala.concurrent.duration._
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs)(
          scala.collection.BuildFrom.buildFromIterableOps, ec),
        10.minutes)
      pool.shutdown()
      (System.nanoTime() - t0) / 1e9
    }
    def med3(f: => Double): Double = Bench.median((1 to 3).map(_ => f))
    val serial8 = med3(serialPass())
    // serial sum for the first 4 measured from per-query serial times
    val per = qNames.map { n =>
      val t0 = System.nanoTime(); run(n)
      n -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val serial4 = qNames.take(4).map(per).sum
    val wall4 = med3(concurrentPass(4))
    val wall8 = med3(concurrentPass(8))
    println(f"""{"metric":"concurrent_queries","sf_dir":"$dir","queries":${qNames.size},"serial4_sec":$serial4%.2f,"wall4_sec":$wall4%.2f,"speedup4":${serial4 / wall4}%.2f,"serial8_sec":$serial8%.2f,"wall8_sec":$wall8%.2f,"speedup8":${serial8 / wall8}%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty && args.head != "synth") args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.builder()
      // FAIR so the concurrent probe's per-thread pools share task slots
      // round-robin; serial probes are unaffected (one job at a time)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // streaming throughput probe is its own mode: `stream [sfDir]`
    if (args.headOption.contains("stream")) {
      streamProbe(spark,
        args.drop(1).headOption.getOrElse("/root/testdata/sf0.01"))
      spark.stop()
      return
    }
    // concurrent-query probe: `concurrent [sfDir]`
    if (args.headOption.contains("concurrent")) {
      concurrentProbe(spark,
        args.drop(1).headOption.getOrElse("/root/testdata/sf0.1"))
      spark.stop()
      return
    }
    val allDirs =
      if (args.headOption.contains("synth"))
        Seq("/root/testdata/sf0.1") ++ synthDirs(spark, "/tmp/graft-scale")
      else dirs
    // validate BEFORE the expensive warm-up/count work
    require(allDirs.size >= 2,
      s"need at least 2 dirs to fit a scaling slope, got $allDirs")
    // warm-up: JIT + codegen caches, untimed
    SparkEntry.queries("q27_dedup_exact")(spark, allDirs.head)
      .write.mode("overwrite").format("noop").save()
    SparkEntry.queries("q31_cosine_topk")(spark, allDirs.head)
      .write.mode("overwrite").format("noop").save()

    val nRows: Map[(String, String), Double] = (for {
      d <- allDirs
      t <- Seq("documents", "embeddings", "events")
    } yield (d, t) -> spark.read.parquet(s"$d/$t.parquet").count().toDouble).toMap
    embCounts = allDirs.map(d => d -> nRows(d -> "embeddings").toLong).toMap

    // per-cell median over same-JVM reps: single-run cells of 1-3 s carry
    // ±20-40% ambient noise, which made LAST-STEP slopes on the small
    // probes jitter run-to-run (q66_hashed measured 0.39 and 1.12 across
    // two otherwise-identical runs) — the same protocol Bench uses
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    // optional comma-separated probe-name filter (iteration aid: re-run
    // one family without paying the full matrix); unknown names fail
    // fast — a typo must not "succeed" with an empty probe set
    val selected = sys.env.get("SPARK_GRAFT_PROBES")
      .map { raw =>
        val want = raw.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- probes.map(_.name).toSet
        require(unknown.isEmpty,
          s"unknown SPARK_GRAFT_PROBES names: ${unknown.mkString(",")} " +
            s"(known: ${probes.map(_.name).mkString(",")})")
        probes.filter(p => want(p.name))
      }
      .getOrElse(probes)
    require(selected.nonEmpty, "SPARK_GRAFT_PROBES selected zero probes")
    val rows = selected.map { p =>
      val times = allDirs.map { d =>
        val ts = (1 to reps).map { _ =>
          // each timed run must measure the FULL pipeline: evict the
          // session caches properly (clearCache() alone would leave the
          // cache maps serving unpersisted frames that silently recompute)
          DedupOps.clearSessionCaches(spark)
          val t0 = System.nanoTime()
          p.fn(spark, d).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        d -> Bench.median(ts)
      }
      // slope of log(time) vs log(rows) over the largest step (least
      // fixed-overhead distortion)
      val (dA, tA) = times(times.length - 2)
      val (dB, tB) = times.last
      val slope = math.log(tB / tA) /
        math.log(nRows(dB -> p.table) / nRows(dA -> p.table))
      (p, times.map(_._2), slope)
    }
    val json = rows.map { case (p, ts, slope) =>
      s""""${p.name}":{"table":"${p.table}","sec":[${ts.map(t => f"$t%.2f").mkString(",")}],"slope":${f"$slope%.2f"}}"""
    }.mkString("{", ",", "}")
    val docsJson = allDirs.map(d =>
      s""""$d":{"documents":${nRows(d -> "documents").toLong},"embeddings":${nRows(d -> "embeddings").toLong},"events":${nRows(d -> "events").toLong}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"family_scaling","n_rows":$docsJson,"probes":$json}""")
    // hot-user cap A/B (synth mode only): same graph pipeline, one bot
    // account with 5000 distinct items — capped vs effectively-uncapped
    if (args.headOption.contains("synth") &&
        selected.exists(_.table == "events")) {
      val hd = hotUserDir(spark, "/tmp/graft-scale", hotItems = 5000)
      val ev = Tables.events(spark, hd)
      def timeCap(cap: Int): Double = Bench.median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        GraphOps.triangleCountOn(ev, userItemCap = cap)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      })
      val capped = timeCap(graft.operators.EventOps.DefaultUserItemCap)
      val uncapped = timeCap(1000000)
      println(f"""{"metric":"hot_user_cap","hot_items":5000,"capped_sec":$capped%.2f,"uncapped_sec":$uncapped%.2f,"ratio":${uncapped / capped}%.1f}""")
    }
    // salted-aggregation A/B (synth mode only): per-key distinct counts
    // on a planted hot key (one key owns 75% of rows, all distinct
    // values) — the naive size(collect_set) formulation funnels the hot
    // set into ONE final-merge task; the salted two-phase spreads it
    // over 32 value-space buckets (SkewUtils.saltedDistinctCount's
    // additivity argument). Same protocol as the hot-user cap A/B.
    if (args.headOption.contains("synth")) {
      import org.apache.spark.sql.functions._
      val n = 16000000L
      val hot = (n * 3) / 4
      val skewed = spark.range(n).select(
        when(col("id") < hot, lit(0L))
          .otherwise(pmod(col("id"), lit(100L)) + 1L).as("k"),
        col("id").as("v"))
      def time(f: => Unit): Double = Bench.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
      val naive = time(skewed.groupBy(col("k"))
        .agg(size(collect_set(col("v"))).cast("long").as("n_distinct"))
        .write.mode("overwrite").format("noop").save())
      val salted = time(graft.operators.SkewUtils
        .saltedDistinctCount(skewed, "k", "v", nSalts = 32)
        .write.mode("overwrite").format("noop").save())
      println(f"""{"metric":"salted_agg","n_rows":$n,"hot_rows":$hot,"naive_sec":$naive%.2f,"salted_sec":$salted%.2f,"ratio":${naive / salted}%.1f}""")
    }
    // planted-Zipf suffix-window skew A/B (synth mode only, VERDICT r15
    // item 1): a corpus where ONE token ('the') opens ~5% of all
    // suffixes — the Zipfian head a real crawl corpus has and the sf
    // testdata is too flat to show. Under q354's old 1-token partition
    // key that 5% lands in ONE window partition (a single task sorting
    // a multi-TB slice at 100 TB); the 2-token key caps the worst
    // partition at the 2-gram ceiling (~p('the')² plus noise). The
    // probe measures BOTH the structural share drop (max partition
    // share, ppm, straight from the key histogram) and the wall-clock
    // A/B, and pins the two panels equal (the losslessness contract
    // SuffixLcpSpec proves on the real corpus).
    if (args.headOption.contains("synth")) {
      import org.apache.spark.sql.functions._
      val nDocs = 10000L
      val docLen = 200
      val zipf = spark.range(nDocs).select(
        col("id").as("doc_id"),
        array_join(expr(
          s"""transform(sequence(1, $docLen), i ->
              CASE WHEN pmod(id * 131 + i * 17, 20) = 0 THEN 'the'
              ELSE concat('w', pmod(id * 31 + i * 7, 5000)) END)"""),
          " ").as("text"),
        lit("en").as("lang"), lit("synth").as("source"),
        lit(docLen.toLong * 6).as("n_chars")).localCheckpoint()
      // window-partition share histogram, straight from the key defs:
      // (t1) = the suffix's first token, (t1, t2) = first two (t2 = ''
      // for the doc-final suffix) — exactly suffixLcpOn's two keys
      val total = nDocs * docLen
      val sfxKeys = zipf.select(col("doc_id"),
          split(col("text"), " ").as("w"))
        .select(posexplode(col("w")).as(Seq("pos", "t1")),
          coalesce(element_at(col("w"), col("pos") + 2), lit(""))
            .as("t2"))
      def share(cols: Seq[String]): Long =
        sfxKeys.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).collect()(0).getLong(0) * 1000000L / total
      val top1 = share(Seq("t1"))
      val top2 = share(Seq("t1", "t2"))
      def timeKey(kt: Int): (Double, Seq[Seq[Any]]) = {
        var out: Seq[Seq[Any]] = Nil
        val t = Bench.median((1 to reps).map { _ =>
          val t0 = System.nanoTime()
          out = DedupOps.suffixLcpOn(zipf, 12, 2, keyTokens = kt)
            .collect().map(_.toSeq).toSeq
          (System.nanoTime() - t0) / 1e9
        })
        (t, out)
      }
      val (t1s, p1) = timeKey(1)
      val (t2s, p2) = timeKey(2)
      require(p1 == p2, "suffix_skew panels diverged between key widths")
      println(f"""{"metric":"suffix_skew","n_suffixes":$total,"top1_share_ppm":$top1,"top2_share_ppm":$top2,"one_tok_sec":$t1s%.2f,"two_tok_sec":$t2s%.2f,"panels_equal":true}""")
    }
    // skewed FACT⋈FACT join A/B (synth mode only, VERDICT r11 item 5):
    // one planted bot key owns 75% of fact A; fact B is too wide to
    // broadcast (forced off) with bounded hot multiplicity (6 rows) —
    // the canonical clicks⋈purchases shape. Measured three ways: plain
    // SMJ with AQE off (the hot partition sorts 6M rows and emits 36M
    // join rows in ONE task), AQE's runtime skew split (thresholds
    // lowered to probe scale — production defaults are 256 MB), and
    // the explicit SkewUtils.saltedFactJoin (AQE off, 16 salts).
    // Checksums must agree across all three (result equality at
    // fixture scale is SkewUtilsSpec's exceptAll pin).
    if (args.headOption.contains("synth")) {
      import org.apache.spark.sql.functions._
      val nA = 8000000L; val hotA = 6000000L; val nB = 200000L
      val a = spark.range(nA).select(
        when(col("id") < hotA, lit(0L))
          .otherwise(pmod(col("id"), lit(nB - 1)) + 1L).as("k"),
        col("id").as("av"))
      val b = spark.range(nB).select(
        when(col("id") < 6, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("bv"))
      def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("av") + col("bv"))
          .cast("decimal(38,0)")).collect()(0)
        (r.getLong(0), r.getDecimal(1).longValueExact())
      }
      def time(f: => Unit): Double = Bench.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
      val conf = spark.conf
      val saved = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        val plainDf = a.join(b, Seq("k"))
        val cs0 = checksum(plainDf)
        val tOff = time(plainDf.write.mode("overwrite").format("noop").save())
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
        val cs1 = checksum(plainDf)
        val tSkew = time(plainDf.write.mode("overwrite").format("noop").save())
        conf.set("spark.sql.adaptive.enabled", "false")
        val saltedDf = graft.operators.SkewUtils.saltedFactJoin(a, b, "k",
          nSalts = 16,
          hotKeys = graft.operators.SkewUtils.detectHotKeys(a, "k", 1000000L),
          uniqueCols = Seq("av"))
        val cs2 = checksum(saltedDf)
        val tSalt = time(saltedDf.write.mode("overwrite").format("noop").save())
        require(cs0 == cs1 && cs0 == cs2,
          s"skew_join checksums diverged: off=$cs0 skew=$cs1 salted=$cs2")
        println(f"""{"metric":"skew_join","n_a":$nA,"hot_a":$hotA,"n_b":$nB,"aqe_off_sec":$tOff%.2f,"aqe_skew_sec":$tSkew%.2f,"salted_sec":$tSalt%.2f,"checksums_equal":true}""")
      } finally {
        saved.foreach { case (k, v) => conf.set(k, v) }
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }
    // runtime Bloom-filter join pushdown A/B (synth mode only, VERDICT
    // r12 item 3): fact⋈dim shuffle join with a selective dim filter —
    // with injection ON, Catalyst builds a Bloom filter over the
    // filtered dim's join keys and applies `might_contain` on the FACT
    // side BELOW its shuffle, pruning fact rows before they are hashed,
    // serialized, and shuffled (the read-side complement of the skew
    // work; at 100 TB the fact shuffle is the dominant cost and the
    // bloom build is dim-sized). The synthetic fact amplifies sf0.1
    // lineitem 8× so the shuffle is big enough to measure; the
    // injection thresholds are lowered to probe scale (the
    // application-side default is 10 GB — production fires exactly
    // where the story holds). Result checksums must agree; the ON plan
    // must actually carry the filter (BloomFilterJoinSpec pins the
    // same shape at fixture scale).
    if (args.headOption.contains("synth")) {
      import org.apache.spark.sql.functions._
      val li0 = Tables.lineitem(spark, "/root/testdata/sf0.1")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val fact = (0 until 24).map(c =>
        li0.withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L)))
        .reduce(_ unionByName _).localCheckpoint()
      val dim = (0 until 24).map(c =>
        Tables.orders(spark, "/root/testdata/sf0.1")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000L)))
        .reduce(_ unionByName _).localCheckpoint()
      def shape() = fact.join(
          dim.filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
      def checksum(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.orderBy("l_returnflag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      def time(f: => Unit): Double = Bench.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
      val conf = spark.conf
      val savedB = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      val factRows = fact.count()
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        // the amplified dim's ESTIMATE exceeds the 10MB default creation
        // cap (production tables carry real stats; this one is a
        // checkpointed RDD) — lift it so the probe measures the filter,
        // not the estimator
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
        val dfOn = shape()
        require(dfOn.queryExecution.optimizedPlan.toString.contains("might_contain"),
          "bloom_filter A/B: injection did not fire in the ON arm")
        val csOn = checksum(dfOn)
        val tOn = time(shape().write.mode("overwrite").format("noop").save())
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        val dfOff = shape()
        require(!dfOff.queryExecution.optimizedPlan.toString.contains("might_contain"))
        val csOff = checksum(dfOff)
        val tOff = time(shape().write.mode("overwrite").format("noop").save())
        require(csOn == csOff,
          s"bloom_filter A/B checksums diverged: on=$csOn off=$csOff")
        println(f"""{"metric":"bloom_filter","fact_rows":$factRows,"dim_selectivity":"o_orderpriority=1-URGENT","bloom_on_sec":$tOn%.2f,"bloom_off_sec":$tOff%.2f,"ratio_off_over_on":${tOff / tOn}%.2f,"checksums_equal":true}""")
      } finally {
        savedB match {
          case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None    => conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
        conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      }
    }
    // two-phase rank A/B (synth mode only): the TwoPhaseRank design
    // claim, measured — an 8M-row entity frame with a planted dominant
    // value (75% of rows share v, the r12 tie-skew case) ranked by the
    // naive `row_number/sum OVER (ORDER BY v, tid)` (one window task
    // sorts and streams all 8M rows) vs the compound-key sampled range
    // buckets. Checksums (count + Σ r·(tid mod 997) + Σ cum mod) must
    // agree: both plans realize the SAME total order.
    if (args.headOption.contains("synth")) {
      import org.apache.spark.sql.functions._
      val n = 8000000L
      val frame = spark.range(n).select(
        when(col("id") < 6000000L, lit(100000L))
          .otherwise(pmod(col("id") * 2654435761L, lit(100000L))).as("v"),
        col("id").as("tid")).localCheckpoint()
      def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          sum(col("r") * (pmod(col("tid"), lit(997L)) + 1L))
            .cast("decimal(38,0)")).collect()(0)
        (r.getLong(0), r.getDecimal(1).remainder(
          new java.math.BigDecimal(1000000007L)).longValueExact())
      }
      def time(f: => Unit): Double = Bench.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v").asc, col("tid").asc)
      val naiveDf = frame.withColumn("r",
        row_number().over(w).cast("long"))
      val twoPhaseDf = graft.operators.TwoPhaseRank
        .rankBy(frame, "v", "tid")
      val cs0 = checksum(naiveDf)
      val cs1 = checksum(twoPhaseDf)
      require(cs0 == cs1,
        s"two_phase_rank checksums diverged: naive=$cs0 twophase=$cs1")
      val tNaive = time(naiveDf.write.mode("overwrite").format("noop").save())
      val tTwo = time(twoPhaseDf.write.mode("overwrite").format("noop").save())
      println(f"""{"metric":"two_phase_rank","n_rows":$n,"dominant_share":0.75,"naive_sec":$tNaive%.2f,"two_phase_sec":$tTwo%.2f,"ratio":${tNaive / tTwo}%.2f,"checksums_equal":true}""")
    }
    // write-amplification SHARE vs scale (synth mode only, VERDICT r12
    // item 8): q311's changeset is confined to ONE ingest batch
    // (batch 1 of the doc_id div 100 layout — a fixed key slice), so as
    // the table grows the partition-scoped merge's rewrite share must
    // FALL (the O(delta·partition) story made measurable) while the
    // full rewrite stays 10000 bp and SCD2 stays O(delta) flat.
    if (args.headOption.contains("synth")) {
      val shares = allDirs.map { d =>
        val m = graft.operators.IncrementalOps
          .q311WriteAmplification(spark, d)
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
        s""""$d":{"docs":${nRows(d -> "documents").toLong},"merge_scoped_bp":${m("merge_partition_scoped")},"scd2_bp":${m("scd2_append")}}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"write_amp_share","shares":$shares}""")
    }
    spark.stop()
  }
}
