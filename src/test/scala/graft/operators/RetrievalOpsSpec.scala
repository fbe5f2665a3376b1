package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 retrieval (q89): ranking structure on a constructed corpus where
  * the correct ordering is known from the scoring function's shape —
  * idf discrimination (rare term beats stopword-grade term), tf
  * saturation direction, and length normalization — plus the output
  * contract on the real testdata corpus.
  */
class RetrievalOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def run(rows: Seq[(Long, String)], nQueries: Int = 1,
      nTerms: Int = 3, k: Int = 10) =
    RetrievalOps.bm25TopKOn(rows.toDF("doc_id", "text"),
      nQueries, nTerms, k)

  test("idf discrimination: matching a rare term outranks matching a ubiquitous one") {
    // query doc 0 = "rare common": 'common' is in every doc (df = 6,
    // idf ~ 0), 'rare' only in docs 0 and 3. Doc 3 (rare hit) must beat
    // docs 4/5 (common-only hits) despite identical lengths.
    val corpus = Seq[(Long, String)](
      (0L, "rare common"),
      (3L, "rare common filler filler"),
      (4L, "common filler filler filler"),
      (5L, "common filler filler filler"))
    val hits = run(corpus).where(col("qid") === 0).orderBy(col("rk"))
      .select(col("hit_id")).as[Long].collect()
    assert(hits.head === 0L) // the query doc itself: both terms, shortest
    assert(hits(1) === 3L)   // rare-term match beats common-only matches
  }

  test("tf direction: more occurrences of the query term rank higher at equal length") {
    val corpus = Seq[(Long, String)](
      (0L, "target"),
      (1L, "target target target pad"),
      (2L, "target pad pad pad"))
    val hits = run(corpus).where(col("qid") === 0).orderBy(col("rk"))
      .select(col("hit_id")).as[Long].collect()
    // doc 1 (tf = 3, dl = 4) over doc 2 (tf = 1, dl = 4)
    assert(hits.indexOf(1L) < hits.indexOf(2L))
  }

  test("length normalization: same tf, shorter doc ranks higher") {
    val corpus = Seq[(Long, String)](
      (0L, "target"),
      (1L, "target pad"),
      (2L, "target pad pad pad pad pad pad pad"))
    val hits = run(corpus).where(col("qid") === 0).orderBy(col("rk"))
      .select(col("hit_id")).as[Long].collect()
    assert(hits.indexOf(1L) < hits.indexOf(2L))
  }

  test("oracle operating point: q89 SQL is generated from bm25TopK's own defaults") {
    // the r7 ADVICE guard: the oracle's QUALIFY bound and its fixed-order
    // CASE slots interpolate from RetrievalOps' constants, so a default
    // change regenerates both sides together — pinned by checking the
    // rendered SQL embeds the generated slot list and the bounds
    val sql = graft.SparkEntry.oracleSql("q89_bm25_topk")
    assert(sql.contains(
      RetrievalOps.oracleSlotSql(RetrievalOps.DefaultNTerms)))
    assert(sql.contains(s"doc_id < ${RetrievalOps.DefaultNQueries}"))
    assert(sql.contains(s"tok) <= ${RetrievalOps.DefaultNTerms}"))
    assert(sql.contains(s"rk <= ${RetrievalOps.DefaultK}"))
    // the slot renderer itself: one slot per rank, written order
    val s4 = RetrievalOps.oracleSlotSql(4)
    assert((1 to 4).forall(i => s4.contains(s"t_rank = $i")))
    assert(!s4.contains("t_rank = 5"))
  }

  test("non-default nTerms: fold covers all ranks (runs, rk dense, no oracle claim)") {
    // nTerms != default diverges from the q89 oracle BY DESIGN; what must
    // hold is the Spark-side contract alone — it runs, and widening the
    // term set can only add score mass (more candidate terms per query)
    val corpus = Seq[(Long, String)](
      (0L, "alpha beta gamma delta alpha beta gamma alpha beta alpha"),
      (1L, "alpha beta gamma delta"), (2L, "alpha beta"), (3L, "gamma delta"),
      (4L, "delta epsilon"), (5L, "epsilon zeta"))
    val k2 = RetrievalOps.bm25TopKOn(corpus.toDF("doc_id", "text"),
      nQueries = 1, nTerms = 2, k = 3).collect()
    val k5 = RetrievalOps.bm25TopKOn(corpus.toDF("doc_id", "text"),
      nQueries = 1, nTerms = 5, k = 3).collect()
    assert(k2.nonEmpty && k5.nonEmpty)
    assert(k2.map(_.getInt(3)).toSeq === (1 to k2.length))
    assert(k5.map(_.getInt(3)).toSeq === (1 to k5.length))
  }

  test("output contract on testdata: 5 queries x top-5, scores non-increasing, rk dense") {
    val out = RetrievalOps.bm25TopK(spark, sf0001).cache()
    assert(out.count() === 25)
    assert(out.groupBy("qid").count().where(col("count") =!= 5).count() === 0)
    // rk dense 1..5 and scores non-increasing within each query
    val bad = out.selectExpr("qid", "score", "rk",
        "lag(score) over (partition by qid order by rk) as prev")
      .where(col("prev").isNotNull && col("score") > col("prev"))
    assert(bad.count() === 0)
    assert(out.agg(min("rk"), max("rk")).as[(Int, Int)].head() === ((1, 5)))
    out.unpersist()
  }

  test("NULL text behaves exactly like empty text (corpus stats count every doc)") {
    // the index-derived n_docs/sum_dl invariant must not depend on
    // non-null data: a NULL-text doc tokenizes to [""] (dl = 1), stays
    // in the postings, and so stays in the corpus stats. Scores over
    // the non-null docs must be IDENTICAL whether the extra doc's text
    // is NULL or '' — if the NULL row silently dropped out of the
    // index, n_docs/sum_dl would shrink and every idf/norm would move.
    val base = Seq[(Long, String)](
      (0L, "rare common"),
      (3L, "rare common filler filler"),
      (4L, "common filler filler filler"))
    val withEmpty = run(base :+ (9L -> ""), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val withNull = RetrievalOps.bm25TopKOn(
        (base.map { case (i, t) => (i, Option(t)) } :+ (9L -> None))
          .toDF("doc_id", "text"),
        nQueries = 1, nTerms = 3, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(withEmpty === withNull)
    assert(withEmpty.nonEmpty)
  }

  /** The full-outer-join fusion that [[RetrievalOps.rrfFusionOn]]'s
    * union form replaces, kept as the reference it must equal.
    */
  private def fullOuterRrf(sparse: DataFrame, dense: DataFrame,
      k: Int): DataFrame = {
    val fused = sparse.select(col("qid"), col("hit_id"),
        col("rk").as("rk_sparse"))
      .join(dense.select(col("qid"), col("hit_id"), col("rk").as("rk_dense")),
        Seq("qid", "hit_id"), "full_outer")
      .select(col("qid"), col("hit_id"),
        coalesce(col("rk_sparse"), lit(0)).cast("int").as("rk_sparse"),
        coalesce(col("rk_dense"), lit(0)).cast("int").as("rk_dense"))
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

  private def rrfRows(df: DataFrame): Seq[(Long, Long, Int, Int, Long, Int)] =
    df.as[(Long, Long, Int, Int, Long, Int)].collect().toSeq

  test("rrfFusion: the union form equals the full-outer-join form") {
    val sparse = Seq[(Long, Long, Int)](
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // partial overlap
      (2L, 20L, 1), (2L, 21L, 2),               // no overlap
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3), // full overlap
      (4L, 40L, 1), (4L, 41L, 2))               // only in sparse
      .toDF("qid", "hit_id", "rk")
    val dense = Seq[(Long, Long, Int)](
      (1L, 12L, 1), (1L, 13L, 2), (1L, 10L, 3),
      (2L, 22L, 1), (2L, 23L, 2),
      (3L, 32L, 1), (3L, 31L, 2), (3L, 30L, 3),
      (5L, 50L, 1))                             // only in dense
      .toDF("qid", "hit_id", "rk")
    Seq(1, 2, 10).foreach { k =>
      val got = rrfRows(RetrievalOps.rrfFusionOn(sparse, dense, k))
      assert(got === rrfRows(fullOuterRrf(sparse, dense, k)), s"k=$k")
      assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L), s"k=$k")
    }
    // each list's ranks survive fusion: both on qid 3, one side elsewhere
    val all = rrfRows(RetrievalOps.rrfFusionOn(sparse, dense, 10))
    assert(all.filter(_._1 == 3L).forall(t => t._3 > 0 && t._4 > 0))
    assert(all.filter(_._1 == 2L).forall(t => (t._3 == 0) != (t._4 == 0)))
    assert(all.filter(_._1 == 4L).forall(_._4 == 0))
    assert(all.filter(_._1 == 5L).forall(_._3 == 0))
    // and on the testdata's own ranked lists
    val bm = RetrievalOps.bm25TopK(spark, sf0001, 5, 3, 25)
      .select(col("qid"), col("hit_id"), col("rk"))
    val bf = SimilarityOps.bruteForceTopK(spark, sf0001, 5, 25)
      .select(col("query_id").as("qid"), col("neighbor_id").as("hit_id"),
        col("rk"))
    assert(rrfRows(RetrievalOps.rrfFusion(spark, sf0001)) ===
      rrfRows(fullOuterRrf(bm, bf, 10)))
  }
}
