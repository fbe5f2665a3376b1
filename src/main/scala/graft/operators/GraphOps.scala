package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over relation-shaped graphs. The dedup family already
  * ships connected components (q53); this adds the other canonical
  * distributed graph computation — PageRank — over the item
  * co-occurrence graph the market-basket operator (q107) induces.
  */
object GraphOps {

  /** Fixed-point integer PageRank (q113): `iters` damped iterations over
    * the undirected item co-occurrence graph (edge when ≥ `minSupport`
    * users touched both items), with ALL arithmetic in integer
    * billionths — rank/degree contributions and the 15/85 damping split
    * use floor division, so every iteration is exact integer math,
    * identical under any join order, shuffle order, or engine. The
    * deliberate trade: floor division sheds ≤1 unit of mass per
    * division (documented, deterministic) in exchange for a gate that
    * is cell-exact rather than tolerance-based — the q95/q105 playbook
    * applied to an iterative graph kernel.
    *
    * Scale shape: the canonical distributed PageRank — ranks and
    * degrees are node-cardinality frames keyed by item, each iteration
    * is one ranks⋈edges join (co-partitioned on the same key every
    * round — one partitioning reused) plus a dst-keyed aggregate;
    * iterations are a FIXED count, no driver-side convergence loop, no
    * collect. At 100 TB the edges relation is the big side and is
    * hash-partitioned once; the per-iteration shuffle moves only
    * node-scale data. The edge BUILD shares q107's
    * [[graft.operators.EventOps.cappedUserItems]] guard: each user is
    * bounded to their top-`userItemCap` items before pairing, so no
    * single hot user can emit a quadratic pair blow-up inside one
    * task (lossless at test scale — cap 500 vs sf0.1 max activity 67;
    * the oracle replays the same cap).
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
      minSupport: Int = 5): DataFrame =
    pageRankOnEdges(cachedDegreedEdges(spark, dir, minSupport), iters)

  private val edgesCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  /** The directed degree-annotated edge relation (both orientations of
    * the pair grid, out-degree riding each row), session-cached one
    * level ABOVE [[cachedCoPairs]]: PageRank reads it every iteration
    * and every bench rep — caching only the pairs still paid the
    * union + degree window per call.
    */
  private def cachedDegreedEdges(spark: SparkSession, dir: String,
      minSupport: Int,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame =
    SessionCaches.cached(edgesCache, (spark, dir, minSupport, userItemCap))(
      degreedEdgesOf(cachedCoPairs(spark, dir, minSupport, userItemCap))
        .persist())

  private val Unit9 = 1000000000L

  /** Undirected co-occurrence pairs `(i < j, n_ij)` with support ≥
    * `minSupport`, built over [[EventOps.cappedUserItems]] — the shared
    * edge builder for the graph family (q113 PageRank, q153 triangles,
    * q154 degree histogram). The cap bounds per-user pair fan-out at
    * C(cap,2) regardless of bot activity; support filtering happens in
    * the same aggregation.
    */
  private[graft] def coPairsOn(ev: DataFrame, minSupport: Int,
      userItemCap: Int): DataFrame = {
    val ui = EventOps.cappedUserItems(ev, userItemCap)
    ui.as("a")
      .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("n_ij"))
      .filter(col("n_ij") >= minSupport)
  }

  private val pairsCache =
    SessionCaches.newCache[(SparkSession, String, Int, Int)]()

  /** The capped co-occurrence grid, session-cached and persisted: the
    * whole graph family (q113 PageRank, q153 triangles, q154 degree
    * histogram, q173 k-core, q219 assortativity) reads the SAME
    * `(dir, minSupport, userItemCap)` edge relation, and the per-user
    * pair expansion feeding it is the dominant build cost (~2 s at
    * sf0.1) — round 9 measured five independent rebuilds as ~40% of the
    * top-5 bench total. First caller pays the build; the rest reuse the
    * persisted rows (the [[DedupOps.cachedDistinctShingles]] pattern;
    * eviction via [[SessionCaches.clear]], exercised by ScalingBench so
    * slope fits still measure the full pipeline). The
    * DataFrame-parameterized `*On` spec entry points bypass the cache —
    * an ad-hoc frame has no identity to key on.
    */
  private[graft] def cachedCoPairs(spark: SparkSession, dir: String,
      minSupport: Int,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame =
    SessionCaches.cached(pairsCache, (spark, dir, minSupport, userItemCap))(
      coPairsOn(Tables.events(spark, dir), minSupport, userItemCap)
        .persist())

  private[graft] def pageRankOn(ev: DataFrame, iters: Int = 3,
      minSupport: Int = 5,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame = {
    // spec path: per-call lifecycle; the output's eager checkpoint
    // materializes before the unpersist
    val e = degreedEdgesOf(coPairsOn(ev, minSupport, userItemCap)).persist()
    val out = pageRankOnEdges(e, iters)
    e.unpersist()
    out
  }

  /** Both orientations of the pair grid with the src out-degree riding
    * ON the edge rows (one window over the src partitioning), so the
    * per-iteration plan is ONE ranks⋈edges join — not
    * ranks⋈edges⋈deg. The relation is read every iteration, so callers
    * persist it (per-call in the spec path, session-cached in the dir
    * path — the q30/q53 persist-the-iterated-relation rule).
    */
  private def degreedEdgesOf(pairs: DataFrame): DataFrame =
    pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))

  /** Core over an already-built degreed edge relation; `edgesD`
    * lifecycle is the caller's (the cached path hands in a
    * session-persisted frame that must NOT be unpersisted here —
    * evicting it would leave the cache map serving a
    * silently-recomputing plan).
    */
  private def pageRankOnEdges(edgesD: DataFrame, iters: Int): DataFrame = {
    val nodes = edgesD.select(col("src").as("item")).distinct()
    val nNodes = nodes.crossJoin(broadcast(
      nodes.agg(count(lit(1)).as("n_nodes"))))
    // init: U/N each; teleport term: (15·(U/N)) div 100, both floor
    val init = nNodes.select(col("item"), col("n_nodes"),
      expr(s"CAST($Unit9 div n_nodes AS BIGINT)").as("r"))
    val ranks = (1 to iters).foldLeft(init) { (r0, _) =>
      // each round reads the previous rank frame TWICE (contribution
      // join + teleport spine); lazy checkpoint makes that one
      // evaluation and cuts the per-round lineage (the q331/q336
      // iteration shape — without it the 3-round plan nests 2^iters
      // copies of the init subtree)
      val r = r0.localCheckpoint(eager = false)
      val contrib = edgesD
        .join(r.select(col("item").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div d")).as("c"))
      r.select(col("item"), col("n_nodes"))
        .join(contrib, col("item") === col("dst"), "left")
        .select(col("item"), col("n_nodes"),
          (expr(s"(15 * ($Unit9 div n_nodes)) div 100") +
            expr("(85 * coalesce(c, 0L)) div 100")).as("r"))
    }
    val out = ranks
      .select(col("item"), col("r").as("rank_q"),
        round(col("r").cast("double") / lit(Unit9.toDouble), 6).as("rank"))
      .orderBy(col("rank_q").desc, col("item"))
      .localCheckpoint()
    out
  }

  /** Triangle participation (q153): for the top-`k` items, how many
    * triangles (mutually co-occurring item triples) each sits in, plus
    * its degree — the clustering-structure diagnostic behind community
    * detection and recommender diversity checks.
    *
    * Scale shape: the classic degree-ordered orientation (each edge
    * points from its lower-(degree, id) endpoint to the higher), so
    * wedges are generated ONLY at each triangle's minimum-degree vertex
    * — the wedge join fans out as Σ min-deg², bounded O(m^1.5) on any
    * graph instead of Σ deg² (one celebrity node would otherwise emit
    * deg² wedges). Closure is an id-ordered equi-join back to the
    * undirected pair set. The edge build itself rides the capped grid
    * ([[coPairsOn]]), so no hot user inflates the graph. The oracle
    * replays the SIMPLE id-ordered formulation — the triangle SET is
    * orientation-invariant, so both pipelines must produce identical
    * rows (same trick as the q148 layout/semantics split).
    *
    * Parity: pure integer counting; ordering (n_triangles DESC, item)
    * is total under LIMIT k.
    */
  def triangleCount(spark: SparkSession, dir: String, k: Int = 20,
      minSupport: Int = 5): DataFrame =
    triangleCountOnPairs(
      cachedCoPairs(spark, dir, minSupport).select(col("i"), col("j")), k)

  private[graft] def triangleCountOn(ev: DataFrame, k: Int = 20,
      minSupport: Int = 5,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame = {
    // spec path: persist locally (the grid is read 4×), release after
    // the eager checkpoint materializes the ≤k output rows
    val p = coPairsOn(ev, minSupport, userItemCap)
      .select(col("i"), col("j")).persist()
    val out = triangleCountOnPairs(p, k)
    p.unpersist()
    out
  }

  private def triangleCountOnPairs(pairs: DataFrame, k: Int): DataFrame = {
    // deg feeds THREE consumers (both orientation sides + the final
    // report join), ori feeds the wedge self-join TWICE — lazy
    // checkpoints make each one evaluation (r17, the q30/q121 mid-frame
    // rule; both are node-/edge-cardinality metadata frames)
    val deg = pairs.select(col("i").as("item"))
      .union(pairs.select(col("j").as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(eager = false)
    // orient each edge low-(degree, id) → high-(degree, id)
    val di = deg.select(col("item").as("i"), col("degree").as("dg_i"))
    val dj = deg.select(col("item").as("j"), col("degree").as("dg_j"))
    val ori = pairs.join(di, "i").join(dj, "j")
      .select(
        when(col("dg_i") < col("dg_j") ||
          (col("dg_i") === col("dg_j") && col("i") < col("j")),
          col("i")).otherwise(col("j")).as("src"),
        when(col("dg_i") < col("dg_j") ||
          (col("dg_i") === col("dg_j") && col("i") < col("j")),
          col("j")).otherwise(col("i")).as("dst"))
      .localCheckpoint(eager = false)
    val wedges = ori.as("e1")
      .join(ori.as("e2"), col("e1.src") === col("e2.src") &&
        col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    // closure: (v, w) with v < w by id is exactly the pair-set key
    val tris = wedges.join(pairs,
      col("v") === col("i") && col("w") === col("j"), "left_semi")
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_triangles"))
    val out = deg.join(perNode, Seq("item"), "left")
      .select(col("item"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("item"))
      .limit(k)
      .localCheckpoint()
    out
  }

  /** Degree distribution (q154): log2-banded histogram of item degrees
    * in the co-occurrence graph — the power-law health check run before
    * any per-node graph computation is budgeted. One pair build (shared
    * [[coPairsOn]] shape), one node-keyed count, one ≤64-key rollup.
    */
  def degreeHistogram(spark: SparkSession, dir: String,
      minSupport: Int = 5): DataFrame =
    degreeHistogramOnPairs(cachedCoPairs(spark, dir, minSupport))

  private[graft] def degreeHistogramOn(ev: DataFrame, minSupport: Int = 5,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame =
    degreeHistogramOnPairs(coPairsOn(ev, minSupport, userItemCap))

  private def degreeHistogramOnPairs(pairs: DataFrame): DataFrame = {
    pairs.select(col("i").as("item"))
      .union(pairs.select(col("j").as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("degree"))
      .select((length(bin(col("degree"))) - 1).cast("int").as("log2_degree"),
        col("degree"))
      .groupBy(col("log2_degree"))
      .agg(count(lit(1)).as("n_items"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
      .orderBy(col("log2_degree"))
  }

  /** k-core peeling (q173): items surviving `peels` rounds of
    * remove-degree-<k over the co-occurrence graph, with their residual
    * degree — the dense-subgraph filter that strips hangers-on before
    * community/recommender analysis. `peels` bounds the rounds, which
    * keeps the oracle replayable as a fixed unrolled plan; the loop
    * stops early once no node has degree < k, because from there every
    * further peel is a no-op (the Batagelj–Zaversnik fixpoint). On
    * graphs that stabilize within `peels` rounds the result IS the
    * exact k-core (the spec pins a fixture that needs cascading peels,
    * and one that needs more peels than it gets).
    *
    * Scale shape: per round, ONE degree aggregate over the surviving
    * edges and, only when a node falls below k, two semi-joins against
    * the keep-set — all keyed on item ids; `localCheckpoint` cuts the
    * per-round lineage (the q53 iteration rule). The edge relation
    * itself rides the capped grid ([[coPairsOn]]), so no hot user
    * inflates any round. Pure integer counting; (item) order is total.
    */
  def kCore(spark: SparkSession, dir: String, k: Int = 3, peels: Int = 4,
      minSupport: Int = 5): DataFrame =
    // the session-cached grid is already persisted: peel it in place
    kCoreOnEdges(cachedCoPairs(spark, dir, minSupport)
      .select(col("i"), col("j")), k, peels)

  private[graft] def kCoreOn(ev: DataFrame, k: Int = 3, peels: Int = 4,
      minSupport: Int = 5,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame =
    // spec path: the pairs are an unpersisted aggregate that the first
    // degree aggregate and the first peel both read, so checkpoint them
    kCoreOnEdges(coPairsOn(ev, minSupport, userItemCap)
      .select(col("i"), col("j")).localCheckpoint(), k, peels)

  /** Peels `edges` until no node has degree < k or `peels` rounds have
    * run, and returns the surviving degrees by item.
    */
  @annotation.tailrec
  private def kCoreOnEdges(edges: DataFrame, k: Int,
      peels: Int): DataFrame = {
    val degrees = edges.select(col("i").as("item"))
      .union(edges.select(col("j").as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("core_degree"))
    if (peels == 0) degrees.orderBy(col("item"))
    else {
      // A zero low-degree count is exact: a peel drops an edge iff one
      // of its endpoints has degree < k, and every endpoint of a
      // surviving edge is a row of `deg`, so no such row means the peel
      // would keep every edge and `deg` already is the answer. The count
      // is the first consumer of the lazy checkpoint: that one job fills
      // the blocks, so the answer (or the peel's keep-set) reads blocks.
      // Left to a multi-consumer job instead, a lazy checkpoint is
      // filled late by concurrent stages that race its block persist and
      // recompute the chain (measured slower in r17).
      val deg = degrees.localCheckpoint(eager = false)
      if (deg.filter(col("core_degree") < k).queryExecution.toRdd.count() == 0)
        deg.orderBy(col("item"))
      else {
        val keep = deg.filter(col("core_degree") >= k).select(col("item"))
        kCoreOnEdges(edges
            .join(keep.select(col("item").as("i")), Seq("i"), "left_semi")
            .join(keep.select(col("item").as("j")), Seq("j"), "left_semi")
            .localCheckpoint(), k, peels - 1)
      }
    }
  }

  /** Degree assortativity (q219): Pearson correlation of endpoint
    * degrees over the directed edge list (both orientations — the
    * Newman formulation), on the capped co-occurrence graph — one
    * number separating hub-to-hub graphs (r > 0, social networks) from
    * hub-to-leaf graphs (r < 0, catalogs), the structure statistic
    * behind sampling and partitioning choices for the q113/q153
    * family.
    *
    * Parity (the q131 exact-OLS pattern): all five moments are exact
    * integer sums; the only FP is the final covariance/σσ division
    * (IEEE sqrt of integer-valued doubles — identical on any engine)
    * rounded 6dp, with a zero-variance guard pinned to 0.0 (a regular
    * graph has no degree correlation to report). At 100 TB the long
    * moments would move to DECIMAL (the q198 HUGEINT rule); at any
    * test scale they are far from overflow.
    *
    * Scale shape: edge build is the shared capped [[coPairsOn]]; the
    * degree join touches edge-scale rows keyed by item, and the moment
    * aggregate is map-side partial into one row.
    */
  def degreeAssortativity(spark: SparkSession, dir: String,
      minSupport: Int = 5): DataFrame =
    degreeAssortativityOnPairs(
      cachedCoPairs(spark, dir, minSupport).select(col("i"), col("j")))

  private[graft] def degreeAssortativityOn(ev: DataFrame,
      minSupport: Int = 5,
      userItemCap: Int = EventOps.DefaultUserItemCap): DataFrame = {
    val p = coPairsOn(ev, minSupport, userItemCap)
      .select(col("i"), col("j")).persist()
    val out = degreeAssortativityOnPairs(p)
    p.unpersist()
    out
  }

  private def degreeAssortativityOnPairs(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("i").as("item"))
      .union(pairs.select(col("j").as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("d"))
    val dir2 = pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
    val xy = dir2
      .join(deg.select(col("item").as("src"), col("d").as("x")), "src")
      .join(deg.select(col("item").as("dst"), col("d").as("y")), "dst")
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val vx = col("m") * col("sxx") - col("sx") * col("sx")
    val vy = col("m") * col("syy") - col("sy") * col("sy")
    val out = xy
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("m"),
        when(vx === 0L || vy === 0L, lit(0.0)).otherwise(
          round(num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
          .as("assortativity"))
      .localCheckpoint()
    out
  }

  /** Item-item collaborative-filtering recommendations (q265): for
    * every item, the top-3 most-similar items by user-overlap cosine —
    * "users who touched X also touched Y", the workhorse
    * candidate-generation recommender. Similarity is ranked on
    * cosine² in ppm: `n_ij²·1e6 div (n_i·n_j)` — a monotone transform
    * of cosine that never takes a square root, so the score grid is
    * integer-exact (the q31/q207 grid rule). The product `n_ij²·1e6`
    * passes 2^63 once co-occurrence counts reach ~3e6 users, so it
    * sits on decimal(38,0)/HUGEINT (PARITY rule 13) and narrows at the
    * output.
    *
    * Scale shape: rides the session-cached capped co-occurrence grid
    * ([[cachedCoPairs]] — the one corpus shuffle, per-user fan-out
    * bounded at C(cap,2)); item marginals are item-cardinality and
    * join by item key (AQE broadcasts them while they fit); the top-3
    * is a per-item window over each item's neighbor list, bounded by
    * the capped degree.
    */
  def itemRecs(spark: SparkSession, dir: String, k: Int = 3,
      minSupport: Int = 5): DataFrame = {
    val ui = EventOps.cappedUserItems(Tables.events(spark, dir))
    itemRecsOnPairs(cachedCoPairs(spark, dir, minSupport),
      ui.groupBy(col("item")).agg(count(lit(1)).as("n_i")), k)
  }

  private[graft] def itemRecsOnPairs(pairs: DataFrame, marginals: DataFrame,
      k: Int): DataFrame = {
    val sym = pairs.select(col("i").as("item"), col("j").as("nbr"),
        col("n_ij"))
      .unionByName(pairs.select(col("j").as("item"), col("i").as("nbr"),
        col("n_ij")))
    val scored = sym
      .join(marginals.select(col("item"), col("n_i").as("d_item")),
        Seq("item"))
      .join(marginals.select(col("item").as("nbr"), col("n_i")
        .as("d_nbr")), Seq("nbr"))
      .select(col("item"), col("nbr"), col("n_ij"),
        expr("(CAST(n_ij AS decimal(38,0)) * n_ij * 1000000) div " +
          "(CAST(d_item AS decimal(38,0)) * d_nbr)").as("cos2_ppm"))
    scored
      .withColumn("rec_rank", row_number().over(Window
        .partitionBy(col("item"))
        .orderBy(col("cos2_ppm").desc, col("nbr"))))
      .filter(col("rec_rank") <= k)
      .select(col("item").cast("int").as("item"),
        col("rec_rank").cast("int").as("rec_rank"),
        col("nbr").cast("int").as("rec_item"),
        col("n_ij").as("n_common_users"), col("cos2_ppm"))
      .orderBy(col("item"), col("rec_rank"))
  }

  /** Directional association rules (q272): ante → cons with
    * confidence `n_both/n_ante` and lift
    * `n_both·n_users/(n_ante·n_cons)`, both on the integer ppm grid —
    * the market-basket rule miner on top of the same capped
    * co-occurrence pairs q107's PMI and q265's cosine ride (one shared
    * session-cached edge build serves all three scorings). Unlike the
    * symmetric pair scores, each pair yields TWO rules with different
    * confidences — the directional report is what a merchandising /
    * query-suggestion consumer actually reads. Top-25 by
    * (confidence, lift) on a total order.
    *
    * Scale shape: marginals and the user count are item-/1-cardinality
    * against the cached pair grid; the lift numerator
    * `n_ij·n_users·1e6` passes 2^63 at ~1e3 co-users × 1e9 users, so
    * it sits on decimal(38,0)/HUGEINT (PARITY rule 13).
    */
  def assocRules(spark: SparkSession, dir: String, k: Int = 25,
      minSupport: Int = 5): DataFrame = {
    val ui = EventOps.cappedUserItems(Tables.events(spark, dir))
    assocRulesOnPairs(cachedCoPairs(spark, dir, minSupport),
      ui.groupBy(col("item")).agg(count(lit(1)).as("n_i")),
      ui.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users")), k)
  }

  private[graft] def assocRulesOnPairs(pairs: DataFrame,
      marginals: DataFrame, userCount: DataFrame, k: Int): DataFrame = {
    val rules = pairs.select(col("i").as("ante"), col("j").as("cons"),
        col("n_ij"))
      .unionByName(pairs.select(col("j").as("ante"), col("i").as("cons"),
        col("n_ij")))
    rules
      .join(marginals.select(col("item").as("ante"), col("n_i")
        .as("n_ante")), Seq("ante"))
      .join(marginals.select(col("item").as("cons"), col("n_i")
        .as("n_cons")), Seq("cons"))
      .crossJoin(broadcast(userCount))
      .select(col("ante").cast("int").as("ante"),
        col("cons").cast("int").as("cons"),
        col("n_ij").as("n_both"),
        expr("n_ij * 1000000 div n_ante").as("conf_ppm"),
        expr("(CAST(n_ij AS decimal(38,0)) * n_users * 1000000) div " +
          "(CAST(n_ante AS decimal(38,0)) * n_cons)").as("lift_ppm"))
      .orderBy(col("conf_ppm").desc, col("lift_ppm").desc, col("ante"),
        col("cons"))
      .limit(k)
  }

  /** Frequent item TRIPLES (q304): the k=3 itemset cut above the pair
    * grid — items co-touched by the same users, top-25 triples by
    * co-user support. The per-user cap is TIGHTER than the pair
    * family's (12 vs 500): triple fan-out is C(cap,3), so the cap is
    * the knob that keeps the expansion ~220 rows per user instead of
    * ~2×10⁷ — the Apriori-style bound a production itemset miner
    * enforces before going to k=3. Support ≥ `minSupport` is a
    * pre-filter; the report is the top-25 TakeOrdered either way.
    */
  def frequentTriples(spark: SparkSession, dir: String, k: Int = 25,
      minSupport: Int = 2, userItemCap: Int = 12): DataFrame =
    frequentTriplesOn(Tables.events(spark, dir), k, minSupport,
      userItemCap)

  private[graft] def frequentTriplesOn(ev: DataFrame, k: Int,
      minSupport: Int, userItemCap: Int): DataFrame = {
    val ui = EventOps.cappedUserItems(ev, userItemCap).persist()
    val out = ui.as("a")
      .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .join(ui.as("c"), col("b.user_id") === col("c.user_id") &&
        col("b.item") < col("c.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"),
        col("c.item").as("k"))
      .agg(count(lit(1)).as("n_ijk"))
      .filter(col("n_ijk") >= minSupport)
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        col("k").cast("int").as("k"), col("n_ijk"))
      .orderBy(col("n_ijk").desc, col("i"), col("j"), col("k"))
      .limit(k)
      .localCheckpoint()
    ui.unpersist()
    out
  }

  /** Common-neighbor link prediction on the part co-order graph
    * (q266): part pairs NOT yet co-ordered together that share many
    * co-order neighbors — ranked by neighborhood Jaccard in ppm
    * (`cn·1e6 div (deg_i + deg_j − cn)`, integer rational) — the
    * assortment-gap / "should be bundled" signal. The graph itself is
    * the distinct (order, part) relation self-joined per order (order
    * baskets are small, so per-order fan-out is naturally bounded —
    * the cap the events graph needs from [[EventOps.cappedUserItems]]
    * comes free here), kept at co-order support ≥ 2 (density on this
    * schema shrinks as 1/SF, so the absolute support stays selective
    * at every SF — unlike a fixed share threshold, the Q11 lesson does
    * not bite).
    *
    * Scale shape: wedge enumeration runs over per-center neighbor
    * lists capped at `nbrCap` by edge weight (deterministic hub
    * suppression — C(cap,2) wedges per center, the q153 degree-order
    * idea in cap form); existing edges leave via a left_anti on the
    * edge key; the global top-`k` is a TakeOrdered, never a full sort.
    */
  def coOrderLinkPred(spark: SparkSession, dir: String, k: Int = 20,
      nbrCap: Int = 50): DataFrame =
    coOrderLinkPredOn(Tables.lineitem(spark, dir), k, nbrCap)

  private[graft] def coOrderLinkPredOn(li: DataFrame, k: Int,
      nbrCap: Int): DataFrame = {
    val edges = edgesOfOrders(li).persist()
    val capped = cappedNbrsOf(edges, nbrCap).persist()
    val out = linkPredTree(edges, capped, k).localCheckpoint()
    edges.unpersist()
    capped.unpersist()
    out
  }

  /** The same tree with no persist/checkpoint — the PlanSpec probe
    * surface (localCheckpoint collapses the executed plan to an RDD
    * scan, hiding the joins the pin needs to see).
    */
  private[graft] def coOrderLinkPredTree(li: DataFrame, k: Int,
      nbrCap: Int): DataFrame = {
    val edges = edgesOfOrders(li)
    linkPredTree(edges, cappedNbrsOf(edges, nbrCap), k)
  }

  private def edgesOfOrders(li: DataFrame): DataFrame = {
    val op = li.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    op.as("a")
      .join(op.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("i"), col("b.pk").as("j"))
      .agg(count(lit(1)).as("n_ij"))
      .filter(col("n_ij") >= 2)
  }

  private def cappedNbrsOf(edges: DataFrame, nbrCap: Int): DataFrame = {
    val sym = edges.select(col("i").as("item"), col("j").as("nbr"),
        col("n_ij"))
      .unionByName(edges.select(col("j").as("item"), col("i").as("nbr"),
        col("n_ij")))
    sym
      .withColumn("nrk", row_number().over(Window
        .partitionBy(col("item"))
        .orderBy(col("n_ij").desc, col("nbr"))))
      .filter(col("nrk") <= nbrCap)
      .select(col("item"), col("nbr"))
  }

  private def linkPredTree(edges: DataFrame, capped: DataFrame,
      k: Int): DataFrame = {
    val cdeg = capped.groupBy(col("item")).agg(count(lit(1)).as("deg"))
    val wedges = capped.as("a")
      .join(capped.as("b"), col("a.item") === col("b.item") &&
        col("a.nbr") < col("b.nbr"))
      .groupBy(col("a.nbr").as("i"), col("b.nbr").as("j"))
      .agg(count(lit(1)).as("cn"))
    wedges
      .join(edges.select(col("i"), col("j")), Seq("i", "j"), "left_anti")
      .join(cdeg.select(col("item").as("i"), col("deg").as("deg_i")),
        Seq("i"))
      .join(cdeg.select(col("item").as("j"), col("deg").as("deg_j")),
        Seq("j"))
      .select(col("i").as("part_i"), col("j").as("part_j"),
        col("cn").as("common_nbrs"),
        expr("cn * 1000000 div (deg_i + deg_j - cn)").as("jac_ppm"))
      .orderBy(col("jac_ppm").desc, col("common_nbrs").desc,
        col("part_i"), col("part_j"))
      .limit(k)
  }

  /** Synchronous label propagation with a convergence trace (q331):
    * every node starts as its own label; each round every node adopts
    * its neighbors' MODE label (count desc, label asc — deterministic,
    * no RNG "async" order like the original heuristic). The output is
    * the per-round trace — distinct labels, largest community, and a
    * sum fingerprint of the assignment — which is both the community
    * readout AND a structural measurement: the round where labels
    * collapse bounds the graph's effective diameter (the capped
    * co-occurrence grid at bench SF collapses 100 → 2 → 1 in two
    * rounds — a near-complete graph, which is WHY q113's PageRank
    * spreads so fast on it). On a modular graph the trace plateaus at
    * the community count instead.
    *
    * Scale shape: one edge shuffle per round (join on dst, mode
    * aggregate, per-node argmax window partitioned BY NODE), rounds a
    * fixed constant, per-round localCheckpoint (the k-core/PageRank
    * pattern — keeps the unrolled lineage from re-instantiating).
    */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 4, minSupport: Int = 5): DataFrame =
    lpOn(cachedCoPairs(spark, dir, minSupport), rounds)

  private[graft] def lpOn(pairs: DataFrame, rounds: Int): DataFrame = {
    val sym = pairs.select(col("i").as("src"), col("j").as("dst"))
      .unionByName(pairs.select(col("j").as("src"), col("i").as("dst")))
      .localCheckpoint()
    def trace(r: Int, lab: DataFrame): DataFrame =
      lab.groupBy(col("label")).agg(count(lit(1)).as("sz"),
          sum(col("node") * col("label")).as("fp"))
        .agg(count(lit(1)).as("n_labels"), max(col("sz"))
          .as("largest_community"), sum(col("fp")).as("assign_fp"))
        .select(lit(r).as("round"), col("n_labels"),
          col("largest_community").cast("long").as("largest_community"),
          col("assign_fp").cast("long").as("assign_fp"))
    var lab = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var out = trace(0, lab)
    for (r <- 1 to rounds) {
      // mode pick as a struct-min argmax: min((-c, label)) ≡ the old
      // row_number window's (c DESC, label ASC) winner, but folds
      // map-side inside partial aggregation instead of sorting every
      // (node, label) row under a second full shuffle (r17, the q285
      // argmax device; guide §2.3 "aggregate before you shuffle")
      lab = sym.join(lab.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
        .localCheckpoint() // eager: each lab has two consumers (the trace and
      // the next round); a lazy checkpoint would leave both to race
      // its block persist inside the final union job
      out = out.unionByName(trace(r, lab))
    }
    out.orderBy(col("round"))
  }

  /** HITS hubs & authorities (q332) over the bipartite customer→part
    * purchase graph — the second classic link-analysis kernel next to
    * q113's PageRank, on a graph PageRank never touches (the purchase
    * bipartite rather than the event co-occurrence grid). Kleinberg's
    * mutual recursion, integer-exact: auth(p) = Σ hub(c) over buying
    * customers, hub(c) = Σ auth(p) over bought parts, each half-round
    * max-normalized to ppm by floor division (`x * 1e6 div max`) — the
    * q113 fixed-point device, so every cell is exact BIGINT under any
    * shuffle order and replays cell-identically in DuckDB. Rounds are
    * a FIXED constant (power iteration on AᵀA converges geometrically;
    * 3 rounds separate the score ladder on this graph).
    *
    * Scale shape: the edge relation (distinct cust–part, built once per
    * session) is the big side; each half-round is one edges⋈scores
    * hash join on the score key plus a map-side-combinable sum — the
    * PageRank shuffle pattern with node-scale score frames. The two
    * 1-row max normalizers ride the house crossJoin(broadcast) scalar.
    * Output: top-`topK` per side (auth = most-endorsed parts, hub =
    * widest-reaching customers), rank ties broken by node id.
    */
  def hitsScores(spark: SparkSession, dir: String, rounds: Int = 3,
      topK: Int = 15): DataFrame =
    hitsOn(cachedPurchaseEdges(spark, dir), rounds, topK)

  private val purchaseEdgesCache =
    SessionCaches.newCache[(SparkSession, String)]()

  /** Distinct (cust, part) purchase edges, session-cached: one
    * orders⋈lineitem join keyed on the order id, then the distinct
    * pair grid — both shuffles are the unavoidable minimum and every
    * bench rep after the first reads the persisted frame.
    */
  private def cachedPurchaseEdges(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(purchaseEdgesCache, (spark, dir))(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("cust"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
          Seq("okey"))
        .select(col("cust"), col("part"))
        .distinct()
        .persist())

  private[graft] def hitsOn(edges: DataFrame, rounds: Int,
      topK: Int): DataFrame = {
    require(rounds >= 1, s"hitsOn needs rounds >= 1, got $rounds")
    // Magnitude budget (PARITY rule 24): each half-round sums ppm scores
    // (≤ 1e6) over a node's neighbors, so raw ≤ degree × 1e6 and the
    // normalizer cross-product raw * 1e6 ≤ degree × 1e12. Long overflow
    // needs degree > ~9.2e6 — the purchase bipartite's max degree is
    // orders-per-customer × parts-per-order (≪ 1e4 even at 100 TB
    // because it's bounded by a single customer's purchase history).
    // If a grid with unbounded degree ever reuses this kernel, cap or
    // rescale raw before the * 1e6 step.
    val Unit6 = 1000000L
    // normalize a raw score frame to ppm of its max (floor division —
    // exact, order-independent; max ≥ 1 because raw sums ≥ 1 ppm unit).
    // raw feeds two consumers (the max aggregate and the scored rows):
    // materialize it once per half-round or the edge join + aggregation
    // behind it runs twice (round-17 A/B: 12 → 6 edge-join evaluations
    // across the 3 rounds)
    def normed(raw0: DataFrame, key: String, out: String): DataFrame = {
      val raw = raw0.localCheckpoint(eager = false)
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col(key), expr(s"raw * ${Unit6}L div mx").as(out))
    }
    // lazy round checkpoints (r18, the q113/q336 iteration shape): the
    // half-rounds consume each other STRICTLY sequentially (each
    // normed's broadcast normalizer must complete before its join
    // stage runs), so deferring materialization into the final action
    // turns 7 synchronous per-rep checkpoint jobs into one job
    // cascade; lineage still truncates at every round
    var hub = edges.select(col("cust")).distinct()
      .withColumn("hub", lit(Unit6)).localCheckpoint(eager = false)
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      auth = normed(
        edges.join(hub, Seq("cust"))
          .groupBy(col("part")).agg(sum(col("hub")).as("raw")),
        "part", "auth").localCheckpoint(eager = false)
      hub = normed(
        edges.join(auth, Seq("part"))
          .groupBy(col("cust")).agg(sum(col("auth")).as("raw")),
        "cust", "hub").localCheckpoint(eager = false)
    }
    val topAuth = auth
      .select(lit("auth").as("side"), col("part").as("node_id"),
        col("auth").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("node_id")).limit(topK)
    val topHub = hub
      .select(lit("hub").as("side"), col("cust").as("node_id"),
        col("hub").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("node_id")).limit(topK)
    val wSide = Window.partitionBy(col("side"))
      .orderBy(col("score_ppm").desc, col("node_id"))
    topAuth.unionByName(topHub)
      .withColumn("rk", row_number().over(wSide).cast("long"))
      .orderBy(col("side"), col("rk"))
  }

  /** Personalized PageRank from hub seeds (q336): q113's fixed-point
    * integer kernel with the teleport mass restricted to a seed set —
    * the "expand from what I trust" primitive of training-data
    * selection (seed benchmark-adjacent items, harvest the
    * neighborhood by PPR mass) and of related-item retrieval. Seeds
    * are the `nSeeds` highest-degree items of the co-occurrence grid
    * (ties → smaller id) — deterministic, data-derived, and the
    * interesting case (hub-seeded mass spreads fastest). All
    * arithmetic in integer billionths with floor division (the q113
    * device): init = U/|S| on seeds, per round each node keeps 15% of
    * its teleport share (seeds only) + 85% of neighbor contributions.
    * Non-seed ranks measure PROXIMITY to the seed set; items never
    * reached stay at exactly 0.
    *
    * Scale shape: identical to q113 — one ranks⋈edges join per round
    * on the session-cached degreed edge relation, node-scale rank
    * frames, fixed round count, no collect. The seed pick is one
    * degree-frame TakeOrdered.
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
      iters: Int = 3, nSeeds: Int = 4, minSupport: Int = 5,
      topK: Int = 20): DataFrame =
    pprOnEdges(cachedDegreedEdges(spark, dir, minSupport), iters, nSeeds,
      topK)

  private[graft] def pprOnEdges(edgesD: DataFrame, iters: Int,
      nSeeds: Int, topK: Int): DataFrame = {
    val nodes = edgesD.select(col("src").as("item")).distinct()
    val seeds = edgesD.select(col("src"), col("d")).distinct()
      .orderBy(col("d").desc, col("src"))
      .limit(nSeeds).select(col("src").as("item"))
      .localCheckpoint()
    // seeded is read by init + every round (iters+1 consumers); un-
    // materialized each read re-runs the node-distinct + seed join.
    // Lazy checkpoint also truncates the per-round plan the way q331's
    // label-prop loop does — without it the 3-round plan re-plans the
    // whole chain per action (the round-17 executed-plan audit measured
    // this query's plan at ~86 scan nodes).
    val seeded = nodes.join(seeds.withColumn("is_seed", lit(1)),
        Seq("item"), "left")
      .select(col("item"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"))
      .localCheckpoint(eager = false)
    val teleport = expr(
      s"CASE WHEN is_seed = 1 THEN $Unit9 div $nSeeds ELSE 0L END")
    val init = seeded.select(col("item"), col("is_seed"),
      teleport.as("r"))
    val ranks = (1 to iters).foldLeft(init) { (r, _) =>
      val contrib = edgesD
        .join(r.select(col("item").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div d")).as("c"))
      seeded
        .join(contrib, col("item") === col("dst"), "left")
        .select(col("item"), col("is_seed"),
          (expr(s"(15 * CASE WHEN is_seed = 1 THEN $Unit9 div $nSeeds" +
            " ELSE 0L END) div 100") +
            expr("(85 * coalesce(c, 0L)) div 100")).as("r"))
        .localCheckpoint(eager = false) // per-round lineage cut (q331 shape)
    }
    ranks
      .select(col("item"), col("is_seed"), col("r").as("ppr_q"),
        round(col("r").cast("double") / lit(Unit9.toDouble), 6)
          .as("ppr"))
      .orderBy(col("ppr_q").desc, col("item"))
      .limit(topK)
  }
}
