package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  test("exactDedup collapses planted duplicates") {
    val got = Seq((1L, "a b c"), (2L, "a  B   c"), (3L, "x y z"))
      .toDF("doc_id", "text")
      .groupBy(graft.functions.Text.fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    val byId = got.collect().map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byId(1L) === 2) // whitespace/case variants collapse
    assert(byId(3L) === 1)
  }

  test("minhash near-dup finds planted near-duplicates in testdata") {
    val pairs = DedupOps.minhashNearDup(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("simhash: identical docs → distance 0; near docs small hamming") {
    val sh = Seq("a b c d e f g h", "a b c d e f g h", "completely different words here")
      .toDF("text").select(DedupOps.simhash(col("text")).as("s")).as[Long].collect()
    assert(sh(0) === sh(1))
    assert(java.lang.Long.bitCount(sh(0) ^ sh(2)) > 3)
  }

  test("spanDupStats flags a partial copy, not unrelated docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")   // 30 distinct tokens
    val partial = (1 to 15).map(i => s"w$i").mkString(" ") +
      " " + (100 to 114).map(i => s"x$i").mkString(" ")   // first half copied
    val other = (200 to 229).map(i => s"y$i").mkString(" ")
    val docs = Seq((1L, base), (2L, partial), (3L, other)).toDF("doc_id", "text")
    val got = DedupOps.spanDupStatsDF(docs, spanLen = 10, minDupFrac = 0.2)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("dup_frac")).toMap
    // docs 1 and 2 share the 6 ten-token windows inside w1..w15; doc 3 clean
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) > 0.2 && got(2L) > 0.2)
  }

  test("spanDupStats hashed-key variant matches the exact string-key result") {
    // the 100 TB path keys both span shuffles by xxhash64(span); absent a
    // collision (~2^-64) the per-doc stats are identical to the exact keys
    val exact = DedupOps.spanDupStats(spark, sf0001).collect().map(_.toSeq)
    val hashed = DedupOps.spanDupStats(spark, sf0001, hashedKeys = true)
      .collect().map(_.toSeq)
    assert(exact.toSeq === hashed.toSeq)
    assert(exact.nonEmpty)
  }

  test("tokenEntropy: repeated-token doc scores 0, diverse doc > 3 bits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-entropy").toString
    Seq((1L, "same same same same same same"),
        (2L, (1 to 32).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysisOps.tokenEntropy(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("entropy_bits")).toMap
    assert(got(1L) === 0.0)           // zero entropy, +0.0 normalized
    assert(got(2L) === 5.0)           // 32 equiprobable tokens = 5 bits
  }

  test("brute-force topk: k neighbors per query, ranked by cosine") {
    val got = SimilarityOps.bruteForceTopK(spark, sf0001, nQueries = 3, k = 4).collect()
    val byQuery = got.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq === Seq(1, 2, 3, 4))
      val cs = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }) // descending
    }
  }

  test("gopherRules: each rule independently fails the right doc") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    val pass60 = ((1 to 58).map(i => s"word$i") ++ Seq("the", "and")).mkString(" ")
    val short10 = ((1 to 8).map(i => s"word$i") ++ Seq("the", "and")).mkString(" ")
    val noStop60 = (1 to 60).map(i => s"word$i").mkString(" ")
    val longWords = ((1 to 58).map(i => s"verylongtoken$i") ++ Seq("the", "and")).mkString(" ")
    Seq((1L, pass60), (2L, short10), (3L, noStop60), (4L, longWords))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysisOps.gopherRules(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("stop_hits"), r.getAs[Int]("passes"))).toMap
    assert(got(1L)._3 === 1, got(1L).toString)             // all rules pass
    assert(got(2L)._1 === 10L && got(2L)._3 === 0)         // word-count floor
    assert(got(3L)._2 === 0L && got(3L)._3 === 0)          // stopword rule
    assert(got(4L)._3 === 0)                               // mean-word-length cap
  }

  test("bloomNovelty: fp bound is a real tripwire, not a tautology") {
    // deliberately undersize the filter 8x (2 bits/item, so Spark picks
    // one hash): false positives must trip fp_ok=0 on a meaningful
    // fraction of docs (54/100 measured at sf0.01, deterministic — fixed
    // corpus, fixed hashes) while the no-false-negative guarantee still
    // holds on every doc
    DedupOps.clearSessionCaches(spark)
    val rows = PipelineOps.bloomNovelty(spark, "/root/testdata/sf0.01",
      bitsPerItem = 2L).collect()
    assert(rows.exists(_.getAs[Int]("fp_ok") === 0), "undersized bloom produced no FP trips")
    assert(rows.forall(_.getAs[Int]("no_false_neg") === 1))
    DedupOps.clearSessionCaches(spark)
  }

  test("bloomNovelty: a second call in a session builds its frame without a Spark job, and its action starts fewer jobs than the first call's") {
    // the history and its filter are built once per session: the first
    // call's jobs include that build (history count, filter aggregate),
    // the second call only probes
    DedupOps.clearSessionCaches(spark)
    val dir = "/root/testdata/sf0.01"
    val (first, firstBuild, _) =
      jobsOf("bloom-first-build")(PipelineOps.bloomNovelty(spark, dir))
    val (firstRows, firstAction, _) = jobsOf("bloom-first-action")(first.collect())
    val (second, secondBuild, _) =
      jobsOf("bloom-second-build")(PipelineOps.bloomNovelty(spark, dir))
    val (secondRows, secondAction, _) = jobsOf("bloom-second-action")(second.collect())
    assert(firstBuild.nonEmpty)
    assert(secondBuild.isEmpty, s"second build ran jobs $secondBuild")
    assert(secondAction.size < firstBuild.size + firstAction.size,
      s"second action ${secondAction.size} jobs, first call " +
        s"${firstBuild.size} + ${firstAction.size}")
    assert(secondRows.toSeq === firstRows.toSeq)
    DedupOps.clearSessionCaches(spark)
  }

  test("bloomNovelty: one session at bitsPerItem 16 then 2 (no cache clear) still trips fp_ok") {
    // the filter's cache key carries bitsPerItem: a key without it would
    // hand the 2-bit call the 16-bit filter and trip nothing
    DedupOps.clearSessionCaches(spark)
    val dir = "/root/testdata/sf0.01"
    val wide = PipelineOps.bloomNovelty(spark, dir).collect()
    assert(wide.forall(_.getAs[Int]("fp_ok") === 1))
    val narrow = PipelineOps.bloomNovelty(spark, dir, bitsPerItem = 2L).collect()
    assert(narrow.exists(_.getAs[Int]("fp_ok") === 0), "2-bit filter produced no FP trips")
    assert(narrow.forall(_.getAs[Int]("no_false_neg") === 1))
    DedupOps.clearSessionCaches(spark)
  }

  test("semanticDedup: within-list duplicate dropped (higher id), distinct vectors kept") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Array(0.0f, 1.0f, 0.0f, 0.0f)
    // ids 1 and 2 are identical (cos 1.0, same list by construction);
    // id 3 is orthogonal to both
    Seq((1L, vA, 0), (2L, vA, 0), (3L, vB, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.semanticDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("kept")).toMap
    assert(got === Map(1L -> 1, 2L -> 0, 3L -> 1), got.toString)
  }

  test("quantile sketch: percentiles ordered, sketch exact at test accuracy") {
    val rows = CoreQueries.q74QuantileSketch(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("p25") <= r.getAs[Long]("p50"), r.toString)
      assert(r.getAs[Long]("p50") <= r.getAs[Long]("p75"), r.toString)
      assert(r.getAs[Int]("approx_ok") === 1, r.toString)
    }
  }

  test("lmPerplexity: corpus-typical docs score below novel-bigram docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    // docs 1-8 repeat the same phrasing (their bigrams are corpus-common);
    // doc 9 is internally diverse but globally unseen bigrams
    val common = (1 to 8).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val novel = Seq((9L, "zeta omega kappa sigma lambda theta epsilon delta rho"))
    (common ++ novel).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysisOps.lmPerplexity(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy_bits")).toMap
    assert(got(1L) < got(9L), got.toString)
    // identical docs score identically
    assert(got(1L) === got(8L))
  }

  test("bloomNovelty: known member/novel split, no false negatives by construction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val shared = "alpha beta gamma delta epsilon zeta"
    // ids: %5==0 -> batch, else history. Doc 0 duplicates history doc 1;
    // doc 5 is fully novel; docs 1-4 are history.
    Seq((0L, shared), (5L, "nov1 nov2 nov3 nov4 nov5"),
        (1L, shared), (2L, "one two three four five"),
        (3L, "six seven eight nine ten"), (4L, "alpha beta gamma junk1 junk2"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupOps.clearSessionCaches(spark)
    val got = PipelineOps.bloomNovelty(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val dup = got(0L)
    assert(dup.getAs[Long]("n_exact_hits") === dup.getAs[Long]("n_shingles"))
    val novel = got(5L)
    assert(novel.getAs[Long]("n_exact_hits") === 0L)
    got.values.foreach { r =>
      assert(r.getAs[Int]("no_false_neg") === 1, r.toString)
      assert(r.getAs[Int]("fp_ok") === 1, r.toString)
    }
    DedupOps.clearSessionCaches(spark)
  }

  test("ivf topk: probing every inverted list reproduces brute force exactly") {
    // with nProbe = #lists the probed union IS the corpus, so the IVF
    // pipeline must collapse to bruteForceTopK row-for-row (same rounding,
    // same tie order) — the strongest mechanism check available on a
    // corpus whose labels carry no cosine structure
    val nLists = graft.Tables.embeddings(spark, sf0001)
      .select("label").distinct().count().toInt
    val ivf = SimilarityOps.ivfTopK(spark, sf0001, nProbe = nLists).collect()
    val bf = SimilarityOps.bruteForceTopK(spark, sf0001).collect()
    assert(ivf.toSeq === bf.toSeq)
  }

  test("ivf topk sized codebook: probing all kFor lists reproduces brute force exactly") {
    // the same degenerate-probe identity as the label-codebook test, on
    // the CORPUS-SIZED codebook (kFor + sampledCentroids) — proves the
    // scale knob changes the partitioning, never the scoring
    val k = SimilarityOps.kFor(500L, targetList = 100) // 5 lists at sf0.001
    val ivf = SimilarityOps.ivfTopKSized(spark, sf0001, kLists = k, nProbe = k)
      .collect()
    val bf = SimilarityOps.bruteForceTopK(spark, sf0001).collect()
    assert(ivf.toSeq === bf.toSeq)
    // fewer probes: bounded per-query results, neighbors from the corpus
    val ids = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    val one = SimilarityOps.ivfTopKSized(spark, sf0001, kLists = k, nProbe = 1)
      .collect()
    assert(one.nonEmpty)
    assert(one.forall(r => ids(r.getAs[Long]("neighbor_id"))))
    one.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rows => assert(rows.length <= 5))
  }

  test("ivf topk: fewer probes never invent neighbors outside the corpus") {
    val ids = graft.Tables.embeddings(spark, sf0001).select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.ivfTopK(spark, sf0001, nProbe = 1).collect()
    assert(got.forall(r => ids(r.getAs[Long]("neighbor_id"))))
    assert(got.nonEmpty)
    // per-query result count never exceeds k
    got.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rows => assert(rows.length <= 5))
  }

  test("ivfUpsert: mass conserved on both sides, growth arithmetic, fit envelope sane") {
    val out = SimilarityOps.ivfUpsert(spark, sf0001).collect()
    val emb = graft.Tables.embeddings(spark, sf0001)
    // every base and every batch vector lands in exactly one list
    assert(out.map(_.getAs[Long]("n_base")).sum ===
      emb.filter(col("vec_id") % 5 =!= 0).count())
    assert(out.map(_.getAs[Long]("n_new")).sum ===
      emb.filter(col("vec_id") % 5 === 0).count())
    out.foreach { r =>
      val nb = r.getAs[Long]("n_base"); val nn = r.getAs[Long]("n_new")
      val g = r.getAs[Double]("growth")
      assert(math.abs(g - nn.toDouble / (nb + nn)) <= 5e-5, s"growth off: $r")
      if (nn > 0) {
        val lo = r.getAs[Double]("min_cos_new")
        val hi = r.getAs[Double]("max_cos_new")
        assert(lo <= hi && lo >= -1.0 && hi <= 1.0, s"fit envelope: $r")
      }
    }
    // deterministic under re-execution (window tiebreaks fully ordered)
    assert(SimilarityOps.ivfUpsert(spark, sf0001).collect().toSeq ===
      out.toSeq)
  }

  test("truncatedRerank: full shortlist collapses to brute force; narrow funnel never invents") {
    val n = graft.Tables.embeddings(spark, sf0001).count().toInt
    // shortlist = corpus ⇒ the coarse stage prunes nothing and the exact
    // rerank IS bruteForceTopK (same rounding, same tiebreaks)
    val full = SimilarityOps.truncatedRerank(spark, sf0001, shortlist = n)
      .collect()
    val bf = SimilarityOps.bruteForceTopK(spark, sf0001).collect()
    assert(full.toSeq === bf.toSeq)
    // narrow funnel: per (query, neighbor) the exact cosine must agree
    // with brute force (the funnel may MISS a true neighbor, never
    // mis-score one), and ranks stay dense 1..k
    val bfCos = bf.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos")).toMap
    val narrow = SimilarityOps.truncatedRerank(spark, sf0001).collect()
    narrow.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bfCos.get(key).foreach(c => assert(c === r.getAs[Double]("cos")))
    }
    assert(narrow.groupBy(_.getAs[Long]("query_id"))
      .forall { case (_, rs) => rs.map(_.getAs[Int]("rk")).sorted ===
        (1 to rs.length) })
    // deterministic under re-execution
    assert(SimilarityOps.truncatedRerank(spark, sf0001).collect().toSeq ===
      narrow.toSeq)
  }

  test("kMeansRefine: Lloyd iterations monotonically improve the spherical objective") {
    def summary(iters: Int) =
      SimilarityOps.kMeansRefine(spark, sf0001, iters = iters).collect()
    def objective(rows: Array[org.apache.spark.sql.Row]): Double = {
      val n = rows.map(_.getAs[Long]("n_members")).sum
      rows.map(r => r.getAs[Long]("n_members") * r.getAs[Double]("avg_cos")).sum / n
    }
    val base = summary(0)
    val one = summary(1)
    val two = summary(2)
    // every vector stays assigned, no cluster dies on this data
    Seq(base, one, two).foreach { rows =>
      assert(rows.map(_.getAs[Long]("n_members")).sum === 500)
      assert(rows.length === 10)
    }
    // the refinement actually refines: mean member→centroid cosine climbs
    // each step (0.2226 → 0.2627 → 0.2750 measured; deterministic inputs
    // and rounding make this a stable pin, not a statistical hope)
    assert(objective(one) > objective(base))
    assert(objective(two) > objective(one))
    // rerun-deterministic
    assert(summary(2).map(_.toSeq).toSeq === two.map(_.toSeq).toSeq)
  }

  test("kMeansRefineSized: sampled-init Lloyd improves the objective; mass conserved") {
    // the sized build (md5-sampled init, kFor(500, 100) = 5 lists) — the
    // same monotone-objective contract as the label-init spec; q81
    // oracle-gates the full chain cell-exact
    def summary(iters: Int) = SimilarityOps
      .kMeansRefineSized(spark, sf0001, targetList = 100, iters = iters)
      .collect()
    def objective(rows: Array[org.apache.spark.sql.Row]): Double = {
      val n = rows.map(_.getAs[Long]("n_members")).sum
      rows.map(r => r.getAs[Long]("n_members") * r.getAs[Double]("avg_cos")).sum / n
    }
    val base = summary(0)
    val two = summary(2)
    // every vector stays assigned through the chain (lists may die —
    // standard Lloyd — but mass cannot)
    Seq(base, two).foreach { rows =>
      assert(rows.map(_.getAs[Long]("n_members")).sum === 500)
      assert(rows.length <= 5 && rows.nonEmpty)
    }
    assert(objective(two) > objective(base))
    // rerun-deterministic
    assert(summary(2).map(_.toSeq).toSeq === two.map(_.toSeq).toSeq)
  }

  test("pqTopK: ADC scores bounded by Cauchy-Schwarz, full result structure, deterministic") {
    val ids = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.pqTopK(spark, sf0001).collect()
    // 8 queries × top-5, ranks contiguous, neighbors real, never self
    assert(got.length === 40)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to 5))
      assert(rows.forall(r => ids(r.getAs[Long]("neighbor_id"))))
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
    }
    // score = dot(q, v̂)/(|q||v̂|) with v̂ the exact reconstruction, so
    // Cauchy-Schwarz bounds it in [-1, 1] — a norm-bookkeeping bug
    // (vnorm2 not summed over all m subspaces, wrong codebook row) breaks
    // this before it breaks ordering
    assert(got.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0))
    assert(SimilarityOps.pqTopK(spark, sf0001).collect().map(_.toSeq).toSeq
      === got.map(_.toSeq).toSeq)
  }

  test("pqTopKSized: kFor-sized sampled codebook — ADC volume bounds hold and structure matches q77's") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val m = 8
    val kCodes = SimilarityOps.kFor(n, targetList = 100) // 5 codes/subspace
    assert(kCodes === 5)
    // volume bounds of the actual ADC building blocks — the quantities
    // that carry the 100 TB storage argument: the corpus rides as n·m
    // code rows, the codebook is m·kCodes (broadcast-sized at any
    // realistic kCodes), and the LUT join is nQueries·m·kCodes
    val subs = SimilarityOps.pqSubvectors(emb, m)
    assert(subs.count() === n * m)
    val cb = SimilarityOps.pqSizedCodebook(emb, kCodes, m)
    assert(cb.count() === m.toLong * kCodes)
    assert(cb.select("s", "code").distinct().count() === m.toLong * kCodes)
    val lutRows = subs.filter(col("vec_id") < 8)
      .join(cb.withColumnRenamed("cv", "ccv"), Seq("s")).count()
    assert(lutRows === 8L * m * kCodes)
    // end-to-end: same result contract as the label operating point
    val ids = emb.select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.pqTopKSized(spark, sf0001, kCodes).collect()
    assert(got.length === 40)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to 5))
      assert(rows.forall(r => ids(r.getAs[Long]("neighbor_id"))))
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
    }
    // Cauchy-Schwarz bound on the reconstruction cosine, as in q77's spec
    assert(got.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0))
    assert(SimilarityOps.pqTopKSized(spark, sf0001, kCodes).collect()
      .map(_.toSeq).toSeq === got.map(_.toSeq).toSeq)
  }

  test("sqTopK: int8 code contract, reconstruction error bound, exact-rank fidelity") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val enc = SimilarityOps.sqEncoded(emb)
    // the array<byte> storage contract: every code integral in [0, 255]
    val badCodes = enc.select(explode(col("c")).as("c"))
      .filter(col("c") < 0 || col("c") > 255 || col("c") =!= floor(col("c")))
      .count()
    assert(badCodes === 0)
    // quantization error ≤ half a step per dimension (round-to-nearest;
    // tiny slack for the clamp ulp at the max edge)
    val stats = SimilarityOps.sqStats(emb)
    val overStep = enc.crossJoin(broadcast(stats))
      .select(posexplode(
        zip_with(
          zip_with(col("embedding").cast("array<double>"), col("vq"),
            (x, v) => abs(x - v)),
          col("scs"), (e, s) => e - s * lit(0.5000001))).as(Seq("d", "over")))
      .filter(col("over") > 1e-12).count()
    assert(overStep === 0)
    // int8 barely moves cosine on this data: top-5 sets match brute force
    // exactly at sf0.001/sf0.01 (measured; pinned with headroom) and the
    // result structure matches q31's
    val sq = SimilarityOps.sqTopK(spark, sf0001).collect()
    val bf = SimilarityOps.bruteForceTopK(spark, sf0001).collect()
    assert(sq.length === 40)
    val sqSets = sq.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val bfSets = bf.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val overlaps = bfSets.map { case (q, s) => sqSets(q).intersect(s).size / 5.0 }
    assert(overlaps.sum / overlaps.size >= 0.8,
      s"mean top-5 overlap ${overlaps.sum / overlaps.size}")
    // rerun-deterministic
    assert(SimilarityOps.sqTopK(spark, sf0001).collect().map(_.toSeq).toSeq
      === sq.map(_.toSeq).toSeq)
  }

  test("pqTopKFused: fused encode ≡ relational window encode; fused scorer structure + determinism") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val m = 8
    // relational encode: the q77 window argmin, mapped to 0-based
    // per-subspace code indices via rank within s — must equal the fused
    // expression's emitted codes BIT-EXACTLY (same 6dp rounding, same
    // tiebreak) for every (vec, subspace)
    val subs = SimilarityOps.pqSubvectors(emb, m)
    val rel = {
      import org.apache.spark.sql.expressions.Window
      val cbl = subs
        .select(col("label"), col("s"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("label"), col("s"), col("d"))
        .agg(round(avg(col("x")), 6).as("c"))
        .groupBy(col("s"), col("label").as("code"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          t => t.getField("c")).as("cv"))
        .withColumn("cnorm2",
          graft.functions.Vectors.dotNative(col("cv"), col("cv")))
        .withColumn("idx",
          row_number().over(Window.partitionBy(col("s")).orderBy(col("code"))) - 1)
      val wEnc = Window.partitionBy(col("vec_id"), col("s"))
        .orderBy(col("dist"), col("code"))
      subs.join(broadcast(cbl), Seq("s"))
        .withColumn("dist", round(
          graft.functions.Vectors.dotNative(col("sv"), col("sv"))
            - lit(2.0) * graft.functions.Vectors.dotNative(col("sv"), col("cv"))
            + col("cnorm2"), 6))
        .withColumn("rk", row_number().over(wEnc))
        .filter(col("rk") === 1)
        .groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(struct(col("s"), col("idx")))),
          t => t.getField("idx").cast("double")).as("rel_codes"))
    }
    val fused = SimilarityOps.pqFusedCodes(spark, sf0001, m)
    val joined = fused.join(rel, Seq("vec_id"))
      .filter(col("code_idx") =!= col("rel_codes")).count()
    assert(joined === 0, "fused encode diverged from the relational window encode")
    // fused scorer: q31-shaped result, never self, deterministic
    val got = SimilarityOps.pqTopKFused(spark, sf0001).collect()
    assert(got.length === 40)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to 5))
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
    }
    assert(got.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0))
    assert(SimilarityOps.pqTopKFused(spark, sf0001).collect().map(_.toSeq).toSeq
      === got.map(_.toSeq).toSeq)
  }

  test("ivfPqTopK: composed index structure — bounded scores, real neighbors, deterministic") {
    val ids = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.ivfPqTopK(spark, sf0001).collect()
    // 8 queries × top-5 within probed lists; ranks contiguous, no self
    assert(got.length === 40)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to 5))
      assert(rows.forall(r => ids(r.getAs[Long]("neighbor_id"))))
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
    }
    // score = dot(q, v̂)/(|q|·|v̂|) with |v̂|² assembled EXACTLY
    // (|c|² + 2·dot(c, r̂) + |r̂|²) — Cauchy-Schwarz bounds it; a broken
    // norm correction (wrong pseudo-query slot, missing 2×) breaks this
    // before it breaks ordering
    assert(got.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0001))
    assert(SimilarityOps.ivfPqTopK(spark, sf0001).collect().map(_.toSeq).toSeq
      === got.map(_.toSeq).toSeq)
  }

  test("random projection: deterministic, and 4x compression preserves cosine in the aggregate") {
    val got = SimilarityOps.rpCosinePairs(spark, sf0001).collect()
    assert(got.length === 40 * 39 / 2)
    // deterministic (fixed md5 sign matrix → rerun-identical)
    assert(SimilarityOps.rpCosinePairs(spark, sf0001).collect().map(_.toSeq).toSeq
      === got.map(_.toSeq).toSeq)
    // distortion is a measured fact of the fixed matrix on this data
    // (mean |Δcos| = 0.1989 at 64→16) — pinned with headroom so a matrix
    // or scaling regression (wrong 1/√dOut, sign drift) trips it while
    // run-to-run it cannot move at all
    val ds = got.map(r =>
      math.abs(r.getAs[Double]("cos_orig") - r.getAs[Double]("cos_proj")))
    assert(ds.sum / ds.length < 0.25, s"mean distortion ${ds.sum / ds.length}")
    // cosines stay cosines
    assert(got.forall(r => math.abs(r.getAs[Double]("cos_proj")) <= 1.0))
  }

  test("lsh topk is a subset-quality ANN: all results are true vectors") {
    val ids = graft.Tables.embeddings(spark, sf0001).select("vec_id").as[Long].collect().toSet
    val got = SimilarityOps.lshTopK(spark, sf0001, nQueries = 4, k = 3).collect()
    assert(got.forall(r => ids(r.getAs[Long]("neighbor_id"))))
    assert(got.nonEmpty)
  }

  test("qualityClassifier: dyadic sums are partitioning-independent; labels split; deterministic") {
    val got = TextAnalysisOps.qualityClassifier(spark, sf0001).collect()
    assert(got.length === 500)
    // the parity design claim: per-doc weight sums are EXACT dyadic
    // arithmetic, so the logit cannot depend on partial-agg order —
    // recompute under a different partitioning and require bit equality
    val repartitioned = graft.Tables.documents(spark, sf0001).repartition(13)
    val alt = repartitioned
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .withColumn("wt",
        (expr("instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1") * lit(256)
          + expr("instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1") * lit(16)
          + expr("instr('0123456789abcdef', substring(md5(tok), 3, 1)) - 1")
          - lit(2048)).cast("double") / lit(4096.0))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("wt")) / count(lit(1)), 6).as("logit"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logit")).toMap
    got.foreach { r =>
      assert(r.getAs[Double]("logit") === alt(r.getAs[Long]("doc_id")))
    }
    // a mean of ~n symmetric hashed weights lands on both sides of 0
    val labels = got.map(_.getAs[Int]("label")).toSet
    assert(labels === Set(0, 1))
    // label consistent with the logit sign
    assert(got.forall(r =>
      r.getAs[Int]("label") === (if (r.getAs[Double]("logit") > 0) 1 else 0)))
    // rerun-deterministic
    assert(TextAnalysisOps.qualityClassifier(spark, sf0001).collect()
      .map(_.toSeq).toSeq === got.map(_.toSeq).toSeq)
  }

  test("spanScrub: planted cross-doc span removed from the non-owner only; counts consistent") {
    val run = (1 to 12).map(i => s"w$i").mkString(" ") // a 12-token run
    val docs = Seq(
      (1L, s"alpha beta $run gamma"),          // owner of the run (min id)
      (2L, s"$run tail one two three"),        // non-owner: run scrubbed
      (3L, "totally unrelated text with no duplicate spans at all here"))
      .toDF("doc_id", "text")
    val got = DedupOps.spanScrubDF(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // owner keeps everything
    assert(got(1L).getAs[Long]("n_kept") === got(1L).getAs[Long]("n_tokens"))
    assert(got(1L).getAs[String]("text_scrubbed") === s"alpha beta $run gamma")
    // non-owner loses exactly the covered positions of the duplicated
    // spans (the 12-token run = three overlapping 10-token spans whose
    // union covers tokens 0..11) and keeps its own tail
    assert(got(2L).getAs[String]("text_scrubbed") === "tail one two three")
    assert(got(2L).getAs[Long]("n_kept") === 4L)
    // untouched doc unchanged
    assert(got(3L).getAs[Long]("n_kept") === got(3L).getAs[Long]("n_tokens"))
    // corpus run: counts consistent (scrubbed token count == n_kept) and
    // deterministic
    val full = DedupOps.spanScrub(spark, sf0001).collect()
    assert(full.forall { r =>
      val n = r.getAs[Long]("n_kept")
      val txt = r.getAs[String]("text_scrubbed")
      n <= r.getAs[Long]("n_tokens") &&
        (if (n == 0) txt.isEmpty else txt.split(" ").length.toLong == n)
    })
    assert(DedupOps.spanScrub(spark, sf0001).collect().map(_.toSeq).toSeq
      === full.map(_.toSeq).toSeq)
  }

  test("langId deterministic with fixed tiebreak; quality in [0,1]") {
    val l = TextAnalysisOps.langId(spark, sf0001).collect()
    assert(l.map(_.getAs[Long]("n_docs")).sum === 500)
    val q = TextAnalysisOps.qualityScore(spark, sf0001)
      .select(min(col("quality")), max(col("quality"))).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  test("multimodal: stub decode preserves ids, batch shape, frame slicing") {
    val feats = MultimodalOps.extractFeatures(spark, sf0001).collect()
    assert(feats.length === 500)
    assert(feats.forall(_.feature.length === 8))
    val frames = MultimodalOps.frameSample(spark, sf0001, n = 4)
    assert(frames.count() > 0)
    val f0 = frames.filter(col("doc_id") === 0).collect()
    assert(f0.map(_.getAs[Int]("frame_no")).toSeq === f0.map(_.getAs[Int]("frame_no")).sorted.toSeq)
  }
}
