package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the corpus operators: null text, empty
  * text, sub-shingle-length docs, and single-doc corpora must neither
  * crash nor emit spurious pairs — the inputs a real 100 TB crawl corpus
  * contains in bulk.
  */
class EdgeCaseSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val degenerate = Seq(
    (0L, null.asInstanceOf[String]), // null text
    (1L, ""),                        // empty
    (2L, "   "),                     // whitespace only
    (3L, "one"),                     // below shingle arity
    (4L, "two tokens"),              // still below 3-gram arity
    (5L, "alpha beta gamma delta"),  // one real doc
    (6L, "alpha beta gamma delta")   // its exact duplicate
  ).toDF("doc_id", "text")

  test("dedup pipelines survive null/empty/short docs; exact dup still found") {
    // null/short docs produce no shingles -> excluded from pair space
    val exact = DedupOps.ngramJaccardPairsDF(degenerate).collect()
    assert(exact.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 6L)))
    assert(exact.head.getAs[Double]("jaccard") === 1.0)
    val mh = DedupOps.minhashNearDupDF(degenerate).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 6L)))
    val sh = DedupOps.simhashNearDupDF(degenerate).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 6L)))
  }

  test("connected components on an empty edge set returns no labels") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.connectedComponents(empty).collect().isEmpty)
  }

  test("single-doc corpus: no pairs anywhere, no crash") {
    val one = Seq((0L, "just one lonely document here")).toDF("doc_id", "text")
    assert(DedupOps.ngramJaccardPairsDF(one).collect().isEmpty)
    assert(DedupOps.minhashNearDupDF(one).collect().isEmpty)
    assert(DedupOps.simhashChunkCandidates(one).collect().isEmpty)
  }

  test("bloomNovelty with an EMPTY history: everything novel, no crash") {
    // every doc_id ≡ 0 mod 5 -> the history side is empty, so no filter
    // is built (Spark rejects a zero size) and every probe reads a null
    // filter; membership must come out false everywhere rather than
    // crash or fabricate hits
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-edge").toString
    Seq((0L, "alpha beta gamma delta"), (5L, "epsilon zeta eta theta"),
        (10L, "iota kappa lambda mu"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupOps.clearSessionCaches(spark)
    val rows = PipelineOps.bloomNovelty(spark, dir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_hits") === 0L, r.toString)
      assert(r.getAs[Int]("no_false_neg") === 1, r.toString)
      assert(r.getAs[Int]("fp_ok") === 1, r.toString)
    }
    DedupOps.clearSessionCaches(spark)
  }

  test("semanticDedup on a single-label corpus: one list, full pairwise, no crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sem-edge").toString
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f)
    Seq((1L, v1, 0), (2L, v2, 0), (3L, v1, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.semanticDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("kept")).toMap
    // 3 duplicates 1 (same list by construction) -> dropped; 2 orthogonal
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 0), got.toString)
  }

  test("argmax assignment: NaN scores never win; all-NaN and zero-norm vectors take the smallest label") {
    // cosine is 0.0 when either norm is 0, so a NaN score comes only
    // from a NaN element. Spark orders NaN above every number, so the
    // negated NaN score is the largest key min_by sees: it loses to any
    // real score, and a vector whose every score is NaN (or 0.0) ties
    // on all candidates and falls to the smallest label.
    val nan = Float.NaN
    def assign(cv: Seq[(Int, Array[Double])]): Map[Long, Int] = {
      val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
          (3L, Array(-1.0f, 0.0f)), (4L, Array(nan, nan)),
          (5L, Array(0.0f, 0.0f)), (6L, Array(nan, 1.0f)))
        .toDF("vec_id", "embedding")
      SimilarityOps.ivfAssign(emb, cv.toDF("clabel", "cv")).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("ivf_list")).toMap
    }
    // label 0 is a NaN centroid: it scores NaN against every vector
    // with a nonzero norm, yet wins only where every score is a tie
    assert(assign(Seq(0 -> Array(Double.NaN, 1.0), 1 -> Array(1.0, 0.0),
        2 -> Array(0.0, 1.0))) ===
      Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 0, 5L -> 0, 6L -> 0))
    assert(assign(Seq(3 -> Array(1.0, 0.0), 5 -> Array(0.0, 1.0))) ===
      Map(1L -> 3, 2L -> 5, 3L -> 5, 4L -> 3, 5L -> 3, 6L -> 3))

    // centroidAssign: label 0's centroid inherits its member's NaN
    val dir = java.nio.file.Files.createTempDirectory("graft-argmax-edge").toString
    Seq((1L, Array(nan, 1.0f), 0), (2L, Array(1.0f, 0.0f), 1),
        (3L, Array(1.0f, 0.0f), 1), (4L, Array(0.0f, 1.0f), 2),
        (5L, Array(0.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.centroidAssign(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    // vec 1 (all-NaN scores) and vec 5 (zero norm) -> label 0; the real
    // vectors reach their own labels past the NaN centroid
    assert(got === Seq((0, 0, 1L), (1, 1, 2L), (2, 0, 1L), (2, 2, 1L)))
    DedupOps.clearSessionCaches(spark)
  }
}
