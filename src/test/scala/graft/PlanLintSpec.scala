package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Registry-WIDE plan lint: walks the pre-AQE physical plan of every
  * `SparkEntry.queries` entry on sf0.001 and bans the scale-killer
  * shapes outside explicit, rationale-carrying allowlists. Round 11
  * proved per-query pins don't prevent re-introduction at 305-query
  * scale (q284/q296/q303 brought the single-partition global window
  * back two rounds after it was eliminated; this round's first scan
  * also caught q291) — a registry invariant does, because every NEW
  * query is linted the moment it registers (VERDICT r11 item 2).
  *
  * Shapes and rules:
  *   - partitionless `WindowExec`/`WindowGroupLimitExec`: moves the
  *     whole frame through ONE task — allowed only over frames that
  *     are provably bounded by a CONSTANT, the CALENDAR, or an
  *     enumerable key set, never by data cardinality. The allowlist
  *     names the query AND the window's lead order column, so a new
  *     global window in an allowlisted query still fails.
  *   - `CartesianProductExec`: never (all-pairs with no broadcast).
  *   - `BroadcastNestedLoopJoinExec`: only in queries that document
  *     the broadcast side as bounded by construction (1-row cap/stat
  *     aggregates crossed in, constant probe/query sets, codebooks,
  *     calendar pair frames). Membership is exact — a new BNLJ query
  *     must consciously join the list.
  *   - `ScalaUDF`/`PythonUDF`: never (codegen-opaque; the library's
  *     contract is native expressions only).
  *
  * The allowlists are STRICT both ways: an entry whose query no longer
  * exhibits the shape fails too, so the lists cannot rot into blanket
  * permissions. Allowlist rationale is kept next to each entry; the
  * same inventory is documented in PARITY.md.
  */
class PlanLintSpec extends SparkSpecBase {

  /** query -> lead ORDER BY column names of its sanctioned
    * partitionless windows, each with the bound that justifies it.
    */
  private val globalWindowAllow: Map[String, Set[String]] = Map(
    // calendar-bounded day panels (≤ days rows; a century is ~37k)
    "q112_daily_anomaly"   -> Set("day"),
    "q180_peak_concurrency" -> Set("day"),
    "q187_rolling_revenue" -> Set("day_num"),
    "q278_backlog_ledger"  -> Set("day"),
    "q283_conversion_hazard" -> Set("t_day"),
    "q292_drawdown"        -> Set("day"),
    // calendar² pair frame (≤ days² slopes, volume-independent)
    "q259_theil_sen"       -> Set("s"),
    // two-phase bucket-offset frames: ≤ nBuckets rows by construction
    // (TwoPhaseRank for q284/q291/q296/q303; q130's inline form)
    "q130_dense_ids"       -> Set("bucket"),
    "q284_lorenz_deciles"  -> Set("_bkt"),
    "q291_abc_xyz"         -> Set("_bkt"),
    "q296_lateness_pareto" -> Set("_bkt"),
    "q303_whale_trend"     -> Set("_bkt"),
    "q329_bin_packing"     -> Set("_bkt"), // two rankBy rides
    "q341_sort_pruning"    -> Set("_bkt"), // three rankBy layouts
    // constant-sized grids: budget/threshold stacks, probe sets,
    // score grids, top-constant vocab cuts
    "q140_budget_select"   -> Set("k"),   // #budgets × stack rows
    "q171_quality_curve"   -> Set("k"),   // constant threshold grid
    "q182_vocab_budget"    -> Set("cnt"), // top-max(budgets) via limit
    "q297_twonn_ratio"     -> Set("ratio2_ppm"), // 32-probe panel
    "q298_exact_auc"       -> Set("p"),   // ≤1001-key score grid
    // enumerable key sets (metadata-cardinality, not row-cardinality)
    "q146_source_gini"     -> Set("x"),   // documents.source enum
    "q276_apportionment"   -> Set("rem"), // class frame
    "q282_hash_sample"     -> Set("rem"), // class frame
    "q345_neyman_alloc"    -> Set("rem"), // two class frames
    // filtered-to-bounded order keys
    "q21_row_number"       -> Set("o_orderkey"), // 1-day order slice
    // bounded ANN frames: histogram/codebook/query-set cardinality
    "q80_ivf_sized_topk"   -> Set("h"),
    "q88_ivfpq_topk"       -> Set("qv_id", "clabel"),
    // value-domain-bounded grids (the q243 ECDF class): the rank-sum
    // fold windows over the merged LENGTH-count grid — rows bounded by
    // distinct n_chars values, never document cardinality
    "q314_rank_sum"        -> Set("len"),
    // q327's partitionless windows run over the SKETCH (adaptive
    // stride caps it at shards × ~1000 weighted rows, whatever the
    // corpus) and the v_c value-domain ECDF grid (q243 class)
    "q327_quantile_sketch" -> Set("v_c"),
    // q334's cumulative-coverage fold runs over the ≤k-round selection
    // trace (k = 8 by construction — the constant-grid class)
    "q334_greedy_coverage" -> Set("round"),
    // q324's candidate windows inside the cached codebook builds: the
    // kmeans|| vote pick over the ≤rounds·2k candidate frame (wt0) and the
    // md5-sample centroid numbering over k rows (h); both bounded by
    // construction, never by the corpus
    "q324_init_compare"    -> Set("wt0", "h"),
    // the TwoPhaseRank bucket-offset window (≤ nBuckets rows) inside
    // the session-cached (ship_day, tie) rank spine both layout queries
    // share
    "q351_layout_pruning"  -> Set("_bkt"),
    "q360_incremental_zonemap" -> Set("_bkt"),
    // the same ≤ nBuckets bucket-offset window in the rankBy that feeds
    // q358's `Sinks.write`; it runs only inside that write action
    "q358_host_sorted_read" -> Set("_bkt"),
    // sampledCentroids' k-row numbering window inside the sized
    // codebook builds (the q80/q324 "h" class)
    "q81_kmeans_sized"     -> Set("h"),
    "q85_pq_sized"         -> Set("h"))

  /** Queries whose BroadcastNestedLoopJoins are sanctioned: every BNLJ
    * here crosses in a frame bounded by construction — 1-row cap/stat
    * aggregates (`df <= cap`, Benford/skyline/threshold scalars),
    * constant probe/query sets (`NOT (vec_id = query_id)` brute-force
    * baselines), codebooks/label grids, budget stacks, or calendar
    * pair frames. Per-query PlanSpec pins tighten several of these
    * further (q29/q70/q72/q75/q77).
    */
  private val bnljAllow: Set[String] = Set(
    // BNLJs inside session-cache builds (reached through the scans
    // that read them) and inside localCheckpoints (reached through the
    // checkpoint's own execution):
    "q31_cosine_topk",   // brute-force vec_id != query_id cross (grid build)
    "q89_bm25_topk",     // BM25 1-row stats crosses (scored-frame build)
    "q115_hard_negatives", // the same grid build via its first toucher
    "q226_rrf_fusion",   // both cached list builds
    "q279_prf_expansion", // cached BM25 build
    "q145_rank_corr",    // calendar-pair BNLJ inside the common-frame checkpoint
    "q64_lsh_neardup",   // bucket-cap BNLJ inside lshNearDupCandidates' checkpoint
    "q113_pagerank",     // 1-row node-count cross (pageRank init)
    "q225_bpe_train",    // 1-row corpus totals inside the BPE-rules build
    "q246_mmr_rerank",   // constant query-set vec_id != query_id cross
    "q308_unigram_encode", // 1-row totals inside the unigram-LM build
    "q318_trainer_overlap", // BPE trainer-loop 1-row totals + rule crosses
    "q332_hits_scores",  // 1-row max normalizers per half-round
    "q333_bradley_terry", // 1-row iteration totals
    "q351_layout_pruning", // 3-row workload grid + 1-row totals
    "q357_zorder_box_read", // 3-row workload grid cross
    "q358_host_sorted_read", // 3-row workload grid cross
    // the 1-row `df <= cap` broadcast (effectiveDfCap) inside the
    // shared shingle/pair/cluster builds, walked under each query's
    // own re-admission under the per-query cache clear:
    "q28_ngram_jaccard", "q53_dedup_clusters", "q59_dedup_keeplist",
    "q65_curated_corpus", "q204_cluster_purity", "q238_quality_keeplist",
    "q251_dup_attribution", "q328_cluster_contamination",
    "q334_greedy_coverage", "q353_keeper_matrix",
    "q101_ann_recall", "q102_hamming_topk", "q103_funnel",
    "q105_importance_weights", "q107_item_pmi",
    "q125_ri_profile", "q139_kn_bigram", "q141_drift_report",
    "q147_dedup_savings", "q149_rfm_segments",
    "q157_collocations", "q166_centroid_dists", "q171_quality_curve",
    "q179_selfjoin_sketch", "q182_vocab_budget", "q190_probe_curve",
    "q194_ivf_balance", "q197_basket_lift", "q198_pca_variance",
    "q200_journey_entropy", "q207_ndcg_label", "q209_minhash_upsert",
    "q213_dormant_balance", "q217_winnow_matches", "q218_mrr_label",
    "q230_important_parts", "q234_bpe_encode",
    "q239_daily_autocorr", "q240_cross_corr", "q243_ks_drift",
    "q244_join_card_est", "q250_delete_audit", "q252_quality_skyline",
    "q253_triplet_mine", "q254_benford", "q257_ab_test",
    "q259_theil_sen", "q272_assoc_rules", "q276_apportionment",
    "q282_hash_sample", "q284_lorenz_deciles",
    "q289_month_seasonality", "q291_abc_xyz", "q295_region_share",
    "q296_lateness_pareto", "q297_twonn_ratio", "q299_silhouette",
    "q29_minhash_neardup", "q302_aging_report", "q303_whale_trend",
    "q307_unigram_lm", "q309_qlm_topk", "q311_write_amplification",
    "q312_unigram_prune", "q313_cohens_kappa", "q316_bpe_roundtrip",
    "q321_share_shift", "q322_corpus_card", "q324_init_compare",
    "q327_quantile_sketch", "q329_bin_packing", "q330_dq_suite",
    "q335_dbscan_clusters", // two 1-row stat aggs crossed for the noise row
    "q337_sketch_overlap", // source-enum² sketch grid (20-row sides)
    "q339_reshard_plan", // broadcast vnode ring grid + 1-row total
    "q340_eps_percolation", // 1-row stat aggs per constant grid point
    // (q344's fixed point runs on the collected enum² matrix — its
    // executed plan is the one corpus aggregation, no BNLJ)
    "q345_neyman_alloc", // 1-row budget totals (two Hamilton runs)
    "q346_chapman_estimate", // sketch grid + 1-row global distinct
    "q347_label_model", // 1-row accuracy/positives frames per EM round
    "q348_randomization_test", // source-enum scenario fan-out + 1-row totals
    "q352_knob_advisor", // three 1-row corpus aggregates crossed into one stats row
    "q30_simhash_neardup", "q32_cosine_neardup",
    "q33_lsh_topk", "q42_approx_distinct", "q43_topk_aggregator",
    "q52_key_skew", "q57_centroid_assign",
    "q68_split_leakage", "q70_ivf_topk",
    "q73_lm_perplexity", "q75_semantic_dedup", "q76_kmeans_refine",
    "q79_random_projection", "q80_ivf_sized_topk", "q81_kmeans_sized",
    "q82_sq_topk", "q86_pq_fused", "q88_ivfpq_topk",
    "q90_cms_profile", "q92_ivf_upsert", "q94_prefix_rerank",
    "q95_pca_power", "q96_abtt_removal", "q97_mix_weights",
    "q99_tfidf_terms")

  /** The pre-AQE plan of the frame `build` returns plus that of every
    * execution Spark reported while it ran: checkpoints (their plan
    * before the checkpoint), cache-filling and other actions, writes.
    * Cached builds are walked through the scans that read them.
    */
  private def lintedPlans(build: => DataFrame): Seq[SparkPlan] = {
    val (df, ran) = plansOf(build)
    PlanLint.physical(df) +: ran.map(_._2.sparkPlan)
  }

  test("registry-wide: no scale-killer plan shapes outside the documented allowlists") {
    val violations = Seq.newBuilder[String]
    val usedWin = Set.newBuilder[String]
    val usedBnlj = Set.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // cold-cache EVERY query (r18): a registry frame session-cached
      // by an earlier suite OR an earlier lint iteration would be
      // built under that query, not this one. Clearing per query makes
      // every query re-admit its own builds, so each build plan is
      // walked under the query that owns the allowlist entry.
      graft.operators.SessionCaches.clear(spark)
      val plans = lintedPlans(fn(spark, sf0001))
      val wins = plans.flatMap(PlanLint.partitionlessWindows)
      if (wins.nonEmpty) {
        usedWin += name
        val allowed = globalWindowAllow.getOrElse(name, Set.empty[String])
        wins.distinct.filterNot { case (_, c) => allowed.contains(c) }
          .foreach { case (k, c) =>
            violations += s"$name: partitionless $k over order=$c" }
      }
      plans.flatMap(PlanLint.cartesians).distinct
        .foreach(c => violations += s"$name: CartesianProduct ($c)")
      val bnlj = plans.flatMap(PlanLint.nestedLoopJoins)
      if (bnlj.nonEmpty) {
        usedBnlj += name
        if (!bnljAllow.contains(name))
          violations += s"$name: unsanctioned BNLJ ${bnlj.distinct.mkString("; ")}"
      }
      plans.flatMap(PlanLint.udfs).distinct
        .foreach(u => violations += s"$name: UDF node $u")
    }
    val v = violations.result()
    assert(v.isEmpty, s"${v.size} plan-lint violations:\n${v.mkString("\n")}")
    // strict both ways: allowlist entries must still be exercised, so
    // the lists cannot rot into blanket permissions
    val staleWin = globalWindowAllow.keySet -- usedWin.result()
    assert(staleWin.isEmpty,
      s"stale globalWindowAllow entries (shape gone — remove): $staleWin")
    val staleBnlj = bnljAllow -- usedBnlj.result()
    assert(staleBnlj.isEmpty,
      s"stale bnljAllow entries (shape gone — remove): $staleBnlj")
  }

  test("lint sees a partitionless window in a lazy checkpoint, a persisted build and a write") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // distinct row counts keep the three plans apart: the cache manager
    // matches plans up to column names, and a match would show the
    // persisted build in place of the other two
    def ranked(c: String, n: Int): DataFrame = spark.range(n).toDF(c)
      .withColumn("rn", row_number().over(Window.orderBy(col(c))))
    val cached = ranked("cached_id", 61).persist()
    try {
      val seen = lintedPlans {
        ranked("checkpointed_id", 62).localCheckpoint(eager = false)
        ranked("written_id", 63).write.format("noop").mode("overwrite")
          .save()
        cached.filter(col("rn") > 1)
      }.flatMap(PlanLint.partitionlessWindows).map(_._2).toSet
      val missed = Seq("checkpointed_id", "cached_id", "written_id")
        .filterNot(seen)
      assert(missed.isEmpty, s"windows the lint did not see: $missed")
    } finally cached.unpersist()
  }
}
