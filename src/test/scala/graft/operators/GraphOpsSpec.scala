package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Path graph 1–2–3: five users share items {1,2}, five share {2,3},
    * so both pairs clear minSupport=5. N=3, U/N=333333333, deg(2)=2.
    */
  private def pathGraphEvents = {
    val rows = (1 to 5).flatMap(u => Seq(
        (u.toLong, """{"k": 1}"""), (u.toLong, """{"k": 2}"""))) ++
      (6 to 10).flatMap(u => Seq(
        (u.toLong, """{"k": 2}"""), (u.toLong, """{"k": 3}""")))
    rows.toDF("user_id", "props")
  }

  test("pageRank: one iteration on the path graph, hand-computed cells") {
    // contrib to 2: 333333333/1 from each end -> 666666666;
    // contrib to 1 and 3: 333333333 div 2 = 166666666
    // r1(center) = (15*333333333) div 100 + (85*666666666) div 100
    //            = 49999999 + 566666666 = 616666665
    // r1(ends)   = 49999999 + (85*166666666) div 100 = 191666665
    val got = GraphOps.pageRankOn(pathGraphEvents, iters = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq === Seq(
      (2, 616666665L), (1, 191666665L), (3, 191666665L)))
  }

  test("pageRank: fixed-point mass never exceeds the unit, determinism") {
    val r3 = GraphOps.pageRankOn(pathGraphEvents, iters = 3)
    val total = r3.agg(sum("rank_q")).head().getLong(0)
    // floor division only sheds mass — never creates it
    assert(total <= 1000000000L && total > 0L)
    // symmetric ends stay exactly tied at every depth
    val byItem = r3.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byItem(1) === byItem(3))
    assert(byItem(2) > byItem(1))
    // bit-identical across runs (integer math has no order sensitivity)
    val again = GraphOps.pageRankOn(pathGraphEvents, iters = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(again.toSeq === r3.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq)
  }

  test("pageRank: hot-user edge build is bounded by the item cap") {
    // a 50-item bot alone (minSupport=1) uncapped would induce
    // C(50,2)=1225 undirected pairs; at cap=4 the graph is K4 on the
    // bot's top items {1,2,3,4}: 6 pairs -> 12 directed edges, 4 nodes
    val rows = (1 to 50).map(i => (7L, s"""{"k": $i}"""))
    val ev = rows.toDF("user_id", "props")
    val out = GraphOps.pageRankOn(ev, iters = 1, minSupport = 1,
      userItemCap = 4).collect()
    assert(out.length === 4)
    assert(out.map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3, 4))
    // K4 is symmetric: all four ranks exactly tied
    assert(out.map(_.getLong(1)).distinct.length === 1)
  }

  test("pageRank: default cap is lossless on the path graph") {
    // per-user activity (2 items) is far below DefaultUserItemCap, so
    // capped output must equal the hand-computed uncapped cells
    val got = GraphOps.pageRankOn(pathGraphEvents, iters = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq === Seq(
      (2, 616666665L), (1, 191666665L), (3, 191666665L)))
  }

  /** K4 minus edge (3,4): edges (1,2),(1,3),(2,3),(1,4),(2,4) — one
    * user per edge, minSupport=1. Triangles: (1,2,3) and (1,2,4).
    * Degrees: 1→3, 2→3, 3→2, 4→2.
    */
  private def diamondGraphEvents =
    edgeEvents(Seq((1, 2), (1, 3), (2, 3), (1, 4), (2, 4)))

  /** One dedicated user per edge, so minSupport=1 keeps every edge. */
  private def edgeEvents(edges: Seq[(Int, Int)]) =
    edges.zipWithIndex.flatMap { case ((i, j), u) =>
      Seq((u.toLong, s"""{"k": $i}"""), (u.toLong, s"""{"k": $j}"""))
    }.toDF("user_id", "props")

  test("triangles: degree-ordered counting matches hand enumeration") {
    val got = GraphOps.triangleCountOn(diamondGraphEvents, minSupport = 1)
      .as[(Int, Long, Long)].collect().toSeq
    // order: n_triangles DESC, item ASC
    assert(got === Seq((1, 3L, 2L), (2, 3L, 2L), (3, 2L, 1L), (4, 2L, 1L)))
  }

  test("triangles: triangle-free path graph reports all zeros") {
    val got = GraphOps.triangleCountOn(pathGraphEvents)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got === Seq((1, 1L, 0L), (2, 2L, 0L), (3, 1L, 0L)))
  }

  test("degree histogram: log2 bands on the diamond graph") {
    val got = GraphOps.degreeHistogramOn(diamondGraphEvents, minSupport = 1)
      .as[(Int, Long, Long, Long)].collect().toSeq
    // degrees 3,3,2,2 -> all in band 1 (bin(2)='10', bin(3)='11')
    assert(got === Seq((1, 4L, 2L, 3L)))
  }

  test("graph family shares ONE session-cached pair grid across all five ops") {
    // start from a clean registry so the delta is attributable
    DedupOps.clearSessionCaches(spark)
    val before = SessionCaches.entryCount(spark)
    assert(GraphOps.pageRank(spark, sf0001).count() > 0)
    // exactly two new registry entries: the (dir, minSupport, cap) pair
    // grid plus PageRank's degree-annotated edge relation layered on it
    val afterFirst = SessionCaches.entryCount(spark)
    assert(afterFirst === before + 2)
    // the other four operators (and a repeat) ride the SAME entry — the
    // round-9 audit measured five independent ~2 s edge rebuilds here
    assert(GraphOps.triangleCount(spark, sf0001).count() > 0)
    assert(GraphOps.degreeHistogram(spark, sf0001).count() > 0)
    assert(GraphOps.kCore(spark, sf0001).count() >= 0)
    assert(GraphOps.degreeAssortativity(spark, sf0001).count() === 1)
    assert(GraphOps.pageRank(spark, sf0001).count() > 0)
    assert(SessionCaches.entryCount(spark) === afterFirst)
    // eviction releases it; the family still works after (cache rebuilds)
    DedupOps.clearSessionCaches(spark)
    assert(SessionCaches.entryCount(spark) === 0)
    assert(GraphOps.degreeHistogram(spark, sf0001).count() > 0)
  }

  test("pageRank on the real events table: structural invariants") {
    val out = GraphOps.pageRank(spark, sf0001).cache()
    assert(out.count() > 0)
    assert(out.agg(sum("rank_q")).head().getLong(0) <= 1000000000L)
    assert(out.filter(col("rank_q") < 0).count() === 0)
    // descending by rank_q with (rank_q, item) as total order
    val ranks = out.collect().map(r => (r.getLong(1), r.getInt(0)))
    ranks.sliding(2).foreach {
      case Array((ra, ia), (rb, ib)) =>
        assert(ra > rb || (ra == rb && ia < ib))
      case _ => ()
    }
    out.unpersist()
  }

  /** Triangle {1,2,3} with a pendant path 3–4–5. */
  private def triangleTailEvents =
    edgeEvents(Seq((1, 2), (2, 3), (1, 3), (3, 4), (4, 5)))

  /** Triangle {1,2,3} with a pendant path 3–4–5–6–7–8: five peels at
    * k=2 to reach the triangle.
    */
  private def triangleLongTailEvents =
    edgeEvents(Seq((1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7),
      (7, 8)))

  /** K6: every degree is 5, so at k=3 the first peel removes nothing. */
  private def k6Events =
    edgeEvents(for (i <- 1 to 6; j <- i + 1 to 6) yield (i, j))

  private def kCoreRows(df: DataFrame): Seq[(Int, Long)] =
    df.as[(Int, Long)].collect().toSeq

  /** Reference: the fixed-peel loop that runs every one of the `peels`
    * rounds, whatever each removes.
    */
  private def fixedPeelKCore(ev: DataFrame, k: Int, peels: Int,
      minSupport: Int): Seq[(Int, Long)] = {
    var edges = GraphOps.coPairsOn(ev, minSupport, EventOps.DefaultUserItemCap)
      .select(col("i"), col("j")).localCheckpoint()
    (1 to peels).foreach { _ =>
      val keep = edges.select(col("i").as("node"))
        .union(edges.select(col("j").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("node"))
      edges = edges
        .join(keep.select(col("node").as("i")), Seq("i"), "left_semi")
        .join(keep.select(col("node").as("j")), Seq("j"), "left_semi")
        .localCheckpoint()
    }
    kCoreRows(edges.select(col("i").as("item"))
      .union(edges.select(col("j").as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("core_degree"))
      .orderBy(col("item")))
  }

  test("kCore: pendant path peels away only with cascading rounds") {
    // peel 1 removes leaf 5 (deg 1); node 4 only drops to deg 1 AFTER
    // that, so it needs peel 2 — a fixed single peel must retain it
    val one = GraphOps.kCoreOn(triangleTailEvents, k = 2, peels = 1,
      minSupport = 1).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(one.map(_._1).toSet === Set(1, 2, 3, 4))
    val two = GraphOps.kCoreOn(triangleTailEvents, k = 2, peels = 2,
      minSupport = 1).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(two.toSeq === Seq((1, 2L), (2, 2L), (3, 2L)))
    // further peels are no-ops once stable
    val four = GraphOps.kCoreOn(triangleTailEvents, k = 2, peels = 4,
      minSupport = 1).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(four.toSeq === two.toSeq)
  }

  test("kCore: stopping at the fixpoint matches the fixed-peel loop") {
    val cases = Seq(
      ("K6, stable after one peel", k6Events, 3, 4, 1),
      ("triangle + tail, 1 peel", triangleTailEvents, 2, 1, 1),
      ("triangle + tail, 2 peels", triangleTailEvents, 2, 2, 1),
      ("triangle + tail, 4 peels", triangleTailEvents, 2, 4, 1),
      ("tail longer than peels", triangleLongTailEvents, 2, 2, 1),
      // every pair has support 1, below minSupport=2
      ("empty edge set", triangleTailEvents, 2, 4, 2))
    cases.foreach { case (name, ev, k, peels, minSupport) =>
      assert(kCoreRows(GraphOps.kCoreOn(ev, k = k, peels = peels,
        minSupport = minSupport)) === fixedPeelKCore(ev, k, peels,
        minSupport), name)
    }
    assert(kCoreRows(GraphOps.kCoreOn(triangleTailEvents, k = 2, peels = 4,
      minSupport = 2)) === Seq.empty)
    assert(kCoreRows(GraphOps.kCoreOn(k6Events, k = 3, peels = 4,
      minSupport = 1)) === (1 to 6).map(i => (i, 5L)))
    // peels bounds the rounds: two peels strip only (7,8) and (6,7),
    // not the fixpoint's triangle
    assert(kCoreRows(GraphOps.kCoreOn(triangleLongTailEvents, k = 2,
      peels = 2, minSupport = 1)) ===
      Seq((1, 2L), (2, 2L), (3, 3L), (4, 2L), (5, 2L), (6, 1L)))
  }

  test("kCore: peels after the fixpoint start no jobs") {
    def run(peels: Int) = jobsOf(s"kcore-peels-$peels") {
      kCoreRows(GraphOps.kCoreOn(k6Events, k = 3, peels = peels,
        minSupport = 1))
    }
    val (one, jobsOne, failedOne) = run(1)
    val (four, jobsFour, failedFour) = run(4)
    assert(four === one)
    assert(failedOne.isEmpty && failedFour.isEmpty)
    assert(jobsFour.size === jobsOne.size,
      s"peels=4 started ${jobsFour.size} jobs, peels=1 ${jobsOne.size}")
  }

  test("kCore: a graph already at its k-core runs no peel") {
    // K6 at k=3: every degree is 5, so the first degree frame holds no
    // row below k and is the answer. Any loop that must run a peel to
    // see that it removes nothing pays at least the fixed one-peel
    // loop's jobs.
    val ((rows, jobs, failed), ran) = plansOf {
      jobsOf("kcore-at-fixpoint") {
        kCoreRows(GraphOps.kCoreOn(k6Events, k = 3, peels = 4,
          minSupport = 1))
      }
    }
    assert(rows === (1 to 6).map(i => (i, 5L)))
    assert(failed.isEmpty)
    val (_, fixedJobs, _) = jobsOf("kcore-fixed-one-peel") {
      fixedPeelKCore(k6Events, k = 3, peels = 1, minSupport = 1)
    }
    assert(jobs.size < fixedJobs.size,
      s"${jobs.size} jobs at the fixpoint, ${fixedJobs.size} for one peel")
    // the only semi-joins are the peel's, which would be checkpointed
    val semis = ran.collect { case ("localCheckpoint", qe) => qe.optimizedPlan }
      .filter(_.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      })
    assert(semis.isEmpty, semis.mkString("\n"))
  }
}
