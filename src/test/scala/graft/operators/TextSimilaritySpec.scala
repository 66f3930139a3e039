package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Semantic invariants of the text-analysis and similarity operators —
  * properties the DuckDB hash-compare can't express (it only proves
  * engine agreement, not algorithmic soundness). */
class TextSimilaritySpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  test("winnowing guarantee: docs sharing a >= w+k-1 substring share a fingerprint") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    // k=8, w=4: any shared substring of length >= 11 must always yield a
    // shared fingerprint HASH (Schleimer et al. theorem 1); doc 2 shares
    // no 8-gram with the others, so it must share no fingerprint
    val shared = "thequickbrownfox" // 16 chars >> 11
    Seq(
      (0L, s"aaaaaaaaaa${shared}aaaaaaaaaa", "en", "s", 36L),
      (1L, s"zzzz${shared}zzzzzzzzzzzzzzzz", "en", "s", 36L),
      (2L, "0123456789012345678901234567890123456789", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val fps = TextAnalysis.winnow(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((fps(0L) & fps(1L)).nonEmpty,
      "a 16-char shared substring must produce a shared fingerprint")
    assert((fps(0L) & fps(2L)).isEmpty && (fps(1L) & fps(2L)).isEmpty,
      "disjoint gram sets must not share fingerprints")
    // selection density: every window of w grams contains a selection,
    // so gaps between consecutive selected positions are < w + w
    val pos0 = TextAnalysis.winnow(spark, d).filter(col("doc_id") === 0L)
      .select("fp_pos").collect().map(_.getLong(0)).sorted
    assert(pos0.zip(pos0.tail).forall { case (a, b) => b - a <= 4 },
      "winnowing must select at least one fingerprint per window stride")
  }

  test("count-min estimates are always >= the true frequency") {
    val rows = TextAnalysis.cmsEstimates(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS under-counted ${r.getString(0)}: est ${r.getLong(2)} < true ${r.getLong(1)}")
    }
  }

  test("tf-idf ranks are contiguous 1..k per document with positive scores") {
    val byDoc = TextAnalysis.tfidfTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length),
        s"doc $doc ranks not contiguous")
      assert(rs.forall(_.getDouble(5) > 0))
    }
  }

  test("every ANN variant returns contiguous ranks, bounded cosines, no self-matches") {
    for (df <- Seq(Similarity.bruteTopK(spark, sf), Similarity.ivfTopK(spark, sf),
        Similarity.lshTopK(spark, sf), Similarity.sqTopK(spark, sf),
        Similarity.pqTopK(spark, sf), Similarity.ivfPqTopK(spark, sf))) {
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length), s"query $q")
        rs.foreach { r =>
          assert(r.getLong(2) != q, s"query $q returned itself")
          assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
        }
      }
    }
    spark.catalog.clearCache() // sqTopK's cache contract: caller releases
  }

  test("hard negatives = band-restricted top-k of the exact scan") {
    val vecs = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    val want = (0L until 10L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(q, n)))
        .filter { case (_, c) => c >= 0.15 && c < 0.35 }
        .sortBy { case (n, c) => (-c, n) }
        .take(5).zipWithIndex
        .map { case ((n, c), i) => (q, (i + 1).toLong, n,
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toSet
    val got = Similarity.hardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty, "fixture must contain band cosines")
    assert(got == want)
    // every mined negative sits strictly inside the band — never a
    // near-dup (>= 0.4 is dedup territory), never an unrelated vector
    got.foreach { case (_, _, _, c) => assert(c >= 0.149999 && c < 0.350001) }
  }

  test("sampled recall twin: 10 sampled queries, recalls in [0,1]") {
    val r = Similarity.recallEval(spark, sf, keepMod = Some(5L), nQueries = 50)
      .collect().head
    assert(r.getLong(0) == 50L, "10 sampled anchors x top-5 brute rows")
    // recall_{ivf,sq,lsh,pq,ivfpq,hnsw} — after the 7 count columns
    (7 to 12).foreach { i =>
      val rec = r.getDouble(i)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    spark.catalog.clearCache()
  }

  test("brute-force top-1 is the ceiling: no ANN variant beats it") {
    val best = Similarity.bruteTopK(spark, sf).filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    for (df <- Seq(Similarity.ivfTopK(spark, sf), Similarity.lshTopK(spark, sf),
        Similarity.sqTopK(spark, sf), Similarity.pqTopK(spark, sf))) {
      df.filter(col("rank") === 1).collect().foreach { r =>
        assert(r.getDouble(3) <= best(r.getLong(0)) + 1e-9,
          s"approximate variant exceeded the exact optimum for query ${r.getLong(0)}")
      }
    }
    spark.catalog.clearCache() // sqTopK's cache contract: caller releases
  }

  test("SQ8 with a full-corpus rerank pool degenerates to exact brute force") {
    // when every candidate is reranked, quantization error can't change
    // the answer — the integer prune is only a candidate ORDER
    val n = graft.sources.Tables(spark, sf, "embeddings").count().toInt
    val got = Similarity.sqTopK(spark, sf, rerank = n).collect().map(_.toSeq).toSeq
    val want = Similarity.bruteTopK(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
    spark.catalog.clearCache() // sqTopK's cache contract: caller releases
  }

  test("PQ with a full-corpus rerank pool degenerates to exact brute force") {
    // same argument as SQ8: when every candidate is reranked, the ADC
    // scan is only a candidate ORDER and cannot change the answer
    val n = graft.sources.Tables(spark, sf, "embeddings").count().toInt
    val got = Similarity.pqTopK(spark, sf, rerank = n).collect().map(_.toSeq).toSeq
    val want = Similarity.bruteTopK(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
    spark.catalog.clearCache()
  }

  test("random projection of a unit basis vector reads out the sign matrix") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_rp").toString
    def unit(at: Int) = Array.tabulate(64)(i => if (i == at) 1.0f else 0.0f).toSeq
    Seq((0L, unit(0), 0), (1L, unit(5), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.randomProjection(spark, d).collect()
    assert(rows.length == 2 * Similarity.RP_D)
    rows.foreach { r =>
      val (vid, j, v) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val i = if (vid == 0L) 0 else 5
      val sgn = if (graft.functions.HashOps.wordHashNScala(s"rp_$j:$i", 15) % 2 == 0) 1.0 else -1.0
      assert(v == sgn / math.sqrt(Similarity.RP_D.toDouble), s"vec $vid comp $j")
    }
  }

  test("IVF+PQ with a full rerank pool degenerates to trained IVF") {
    // both pipelines probe the SAME cells (same trained quantizer, same
    // probe rank); when every probed member is exact-reranked, the PQ
    // ADC order cannot change the answer — ivf_pq == ivf_trained
    val n = graft.sources.Tables(spark, sf, "embeddings").count().toInt
    val got = Similarity.ivfPqTopK(spark, sf, rerank = n).collect().map(_.toSeq).toSeq
    val want = Similarity.ivfTrainedTopK(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
    spark.catalog.clearCache()
  }

  test("IVF layout probe: partition-pruned scan, identical results") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfLayout(spark, sf, s"$out/emb")
    // one directory per coarse cell
    val dirs = new java.io.File(s"$out/emb").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=")))
    val fromLayout = Similarity.ivfTopKLayout(spark, s"$out/emb", sf)
    // the corpus scan carries the probed cells as PARTITION filters
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // and the result is exactly the plain ivfTopK
    val want = Similarity.ivfTopK(spark, sf).collect().map(_.toSeq).toSeq
    val got = fromLayout.collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("hashed linear classifier: score is the hand-computed feature-weight fold") {
    import spark.implicits._
    import graft.functions.HashOps.wordHashNScala
    val d = java.nio.file.Files.createTempDirectory("graft_clf").toString
    Seq(
      (0L, "good clean text", "en", "s", 15L),
      (1L, "solo", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    def w(feat: String): Long = {
      val bkt = wordHashNScala(s"clff_$feat", 15) % TextAnalysis.CLF_BUCKETS
      (wordHashNScala(s"clfw_$bkt", 15) % 256) - 128
    }
    val rows = TextAnalysis.classifierScores(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 0: 3 unigrams + 2 bigrams = 5 features, fold order irrelevant (sum)
    val feats0 = Seq("good", "clean", "text", "good_clean", "clean_text")
    val score0 = feats0.map(w).sum
    assert(rows(0L) == ((5L, score0, if (score0 >= 0) 1L else 0L)))
    // doc 1: single token => no bigram features
    assert(rows(1L) == ((1L, w("solo"), if (w("solo") >= 0) 1L else 0L)))
  }

  test("rag retrieval: ranks match a hand-computed hash-embedding dot product") {
    import spark.implicits._
    import graft.functions.HashOps.wordHashNScala
    val d = java.nio.file.Files.createTempDirectory("graft_rag").toString
    // one query doc (doc 0) + three single-block candidate docs; doc 3
    // repeats the query's words so it must outscore the unrelated ones
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (1L, "delta epsilon zeta", "en", "s", 18L),
      (2L, "eta theta iota", "en", "s", 14L),
      (3L, "alpha beta alpha beta", "en", "s", 21L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    def embed(text: String): Array[Long] = {
      val v = Array.fill(Similarity.RAG_DIM)(0L)
      text.split(" ").foreach { w =>
        val dim = (wordHashNScala(s"ragd_$w", 15) % Similarity.RAG_DIM).toInt
        v(dim) += (wordHashNScala(s"rags_$w", 15) % 2) * 2 - 1
      }
      v
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val q = embed(docs.head._2)
    val want = docs.tail
      .map { case (id, t, _, _, _) => (id, dot(q, embed(t))) }
      .sortBy { case (id, s) => (-s, id) }
    val got = Similarity.ragRetrieve(spark, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq == (1L to got.length), "ranks must be dense from 1")
    assert(got.map(t => (t._2, t._4)).toSeq == want.take(Similarity.RAG_K),
      s"got ${got.toSeq} want $want")
    assert(got.forall(_._2 != 0L), "self-doc passages must be excluded")
    // the word-repeating doc is the top hit (its vector is 2x the query's
    // nonzero dims, minus hash-collision noise at these tiny sizes)
    assert(got.head._2 == 3L)
  }

  test("rag mmr equals an independent greedy reimplementation over sf0.001") {
    val sfd = sf
    val scored = Similarity.ragDenseScored(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val vecs = Similarity.ragPassageVecs(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = scored.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rows) =>
      val cand = rows.map { case (_, pd, pb, s) => (pd, pb, s) }
        .sortBy { case (pd, pb, s) => (-s, pd, pb) }.take(Similarity.RAG_R)
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      val s1 = cand.head
      sel += ((s1._1, s1._2, s1._3, s1._3))
      for (_ <- 2 to 3) {
        val pick = cand
          .filter(c => !sel.exists(s => s._1 == c._1 && s._2 == c._2))
          .map { c =>
            val maxSim = sel.map(s => dot(vecs((c._1, c._2)), vecs((s._1, s._2)))).max
            (c._1, c._2, c._3, c._3 - maxSim)
          }
          .minBy { case (pd, pb, _, m) => (-m, pd, pb) }
        sel += pick
      }
      sel.zipWithIndex.map { case ((pd, pb, d0, m), i) =>
        (q, (i + 1).toLong, pd, pb, d0, m) }
    }
    val got = Similarity.ragMmr(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    spark.catalog.clearCache() // ragMmr's candidate persist: caller releases
    assert(got == want)
    // diversification must actually bite somewhere: some query's MMR
    // selection departs from the pure-relevance top-3
    val pure = scored.groupBy(_._1).map { case (q, rows) =>
      q -> rows.map { case (_, pd, pb, s) => (pd, pb) }
        .sortBy { case (pd, pb) => (-rows.find(r => r._2 == pd && r._3 == pb).get._4, pd, pb) }
        .take(3)
    }
    val mmrSel = got.groupBy(_._1).map { case (q, rs) =>
      q -> rs.sortBy(_._2).map(r => (r._3, r._4)) }
    assert(pure.exists { case (q, p) => mmrSel(q) != p.toSeq })
  }

  test("bm25 + rrf hybrid: integer scores match the hand-computed formula") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    // query doc 0 "alpha beta"; doc 1 repeats both query terms, doc 2
    // shares only alpha, doc 3 shares nothing (must be absent)
    val docs = Seq(
      (0L, "alpha beta", "en", "s", 10L),
      (1L, "alpha alpha beta", "en", "s", 16L),
      (2L, "alpha delta epsilon", "en", "s", 19L),
      (3L, "zeta eta theta", "en", "s", 14L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val bm = Similarity.ragBm25(spark, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(!bm.exists(_._2 == 3L), "doc sharing no query term must be absent")
    assert(bm.map(_._2).toSeq == Seq(1L, 2L),
      "the doc matching both terms at higher tf must outrank the one-term doc")
    // doc 2 by hand: N=4 passages, L=11 words, one matching term (alpha:
    // tf=1, df=3, plen=3):
    //   t1 = (1e6*22*1*11) div (10*11 + 3*11 + 9*3*4) = 242e6 div 251 = 964143
    //   ts = (964143 * (2*4-2*3+1)) div (2*3+1)       = 2892429 div 7 = 413204
    assert(bm.find(_._2 == 2L).get._3 == 413204L)
    // hybrid = sum over legs of 1e6 div (60 + leg rank), legs read back
    // from the two ranked queries themselves (candidate sets < RAG_R
    // here, so the visible top-k IS the full leg)
    val denseR = Similarity.ragRetrieve(spark, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(2), r.getLong(3)) -> r.getLong(1)).toMap
    val bmR = Similarity.ragBm25(spark, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(2), r.getLong(3)) -> r.getLong(1)).toMap
    val hy = Similarity.ragHybrid(spark, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => ((r.getLong(2), r.getLong(3)), r.getLong(1), r.getLong(4)))
    val want = (denseR.keySet ++ bmR.keySet).toSeq
      .map { p =>
        val s = Seq(denseR.get(p), bmR.get(p)).flatten
          .map(r => 1000000L / (60L + r)).sum
        (p, s)
      }
      .sortBy { case ((pd, pb), s) => (-s, pd, pb) }
      .take(Similarity.RAG_K)
    assert(hy.map(t => (t._1, t._3)).toSeq == want, s"got ${hy.toSeq} want $want")
    assert(hy.map(_._2).toSeq == (1L to hy.length), "ranks must be dense from 1")
  }

  test("pca top component concentrates on the planted high-variance axis") {
    import spark.implicits._
    // corpus varying ONLY along dim 5 (alternating ±2) with every other
    // dim constant: centering kills the constants, so the scatter
    // matrix is rank-1 on axis 5 and the power iteration must converge
    // to |loading| = 1e6 at dim 5 and EXACTLY 0 elsewhere
    val d = java.nio.file.Files.createTempDirectory("graft_pca").toString
    (0 until 16).map { i =>
      val v = Array.fill(64)(0.25f)
      v(5) = if (i % 2 == 0) 2.0f else -2.0f
      (i.toLong, v, "x")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.pcaTopComponent(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 64)
    assert(math.abs(rows(5L)) == 1000000L, s"axis 5 must carry the component: $rows")
    assert((rows - 5L).values.forall(_ == 0L),
      "constant axes are centered away exactly")
    // deterministic across evaluations (the fixed-seed contract)
    val again = Similarity.pcaTopComponent(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == again)
  }

  test("pca degenerate corpora yield the stable all-zero profile, no crash") {
    import spark.implicits._
    // constant corpus: centering zeroes the scatter matrix — the old
    // code divided BigInt by zero (r12 self-review)
    val d = java.nio.file.Files.createTempDirectory("graft_pca_deg").toString
    (0 until 8).map(i => (i.toLong, Array.fill(64)(1.5f), "x"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.pcaTopComponent(spark, d).collect()
      .map(r => (r.getLong(1), r.getString(2)))
    assert(rows.length == 64 && rows.forall(_ == (0L, "0")))
    // empty corpus: same fixed shape (the old code threw on sums.head)
    val e = java.nio.file.Files.createTempDirectory("graft_pca_empty").toString
    Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$e/embeddings.parquet")
    val rows2 = Similarity.pcaTopComponent(spark, e).collect()
      .map(r => (r.getLong(1), r.getString(2)))
    assert(rows2.length == 64 && rows2.forall(_ == (0L, "0")))
  }

  test("pca basis: deflation finds planted axes in variance order, exactly orthogonal") {
    import spark.implicits._
    // rank-2 planted corpus: dim 5 varies ±4 on i%2, dim 11 varies ±2
    // on (i/2)%2 — balanced over 16 rows, so the two axes are exactly
    // uncorrelated and the scatter matrix is diag on {5, 11}. The
    // deflation sequence must peel them in variance order.
    val d = java.nio.file.Files.createTempDirectory("graft_pca_basis").toString
    (0 until 16).map { i =>
      val v = Array.fill(64)(0.5f)
      v(5) = if (i % 2 == 0) 4.0f else -4.0f
      v(11) = if ((i / 2) % 2 == 0) 2.0f else -2.0f
      (i.toLong, v, "x")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.pcaBasis(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3))))
      .toMap
    assert(rows.size == 3 * 64)
    assert(math.abs(rows((1L, 5L))._1) == 1000000L, "component 1 = axis 5")
    assert((0 until 64).filter(_ != 5)
      .forall(i => rows((1L, i.toLong))._1 == 0L))
    assert(math.abs(rows((2L, 11L))._1) == 1000000L, "component 2 = axis 11")
    assert((0 until 64).filter(_ != 11)
      .forall(i => rows((2L, i.toLong))._1 == 0L))
    // scale pins the eigenvalue magnitudes: strictly decreasing here
    val scales = (1 to 3).map(c => BigInt(rows((c.toLong, 0L))._2))
    assert(scales(0) > scales(1) && scales(1) >= scales(2),
      s"eigenvalue scales must be non-increasing: $scales")
  }

  test("pca projection applies the trained basis as an exact integer map") {
    import spark.implicits._
    // same rank-2 planted corpus as the basis test: component 1 = axis
    // 5 (loading ±1e6), so each doc's c1 projection must be EXACTLY
    // xq(5)·loading(5) + Σ_other xq(i)·0 = ±4000·(±1e6) — sign-split by
    // the ±4 alternation — and component 3 (no variance left) is 0
    val d = java.nio.file.Files.createTempDirectory("graft_pca_proj").toString
    (0 until 16).map { i =>
      val v = Array.fill(64)(0.5f)
      v(5) = if (i % 2 == 0) 4.0f else -4.0f
      v(11) = if ((i / 2) % 2 == 0) 2.0f else -2.0f
      (i.toLong, v, "x")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val basis = Similarity.pcaBasis(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val proj = Similarity.pcaProject(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(proj.size == 16 * 3)
    def xq(i: Int, j: Int): Long =
      if (j == 5) { if (i % 2 == 0) 4000L else -4000L }
      else if (j == 11) { if ((i / 2) % 2 == 0) 2000L else -2000L }
      else 500L
    for { i <- 0 until 16; c <- 1L to 3L } {
      val ref = (0 until 64).map(j => xq(i, j) * basis((c, j.toLong))).sum
      assert(proj((i.toLong, c)) == ref,
        s"doc $i component $c: got ${proj((i.toLong, c))}, want the exact dot $ref")
    }
    // component 1 = axis 5 with |loading| = 1e6: the projection
    // separates the ±4 groups by sign with the exact magnitude
    assert(math.abs(proj((0L, 1L))) == 4000L * 1000000L)
    assert(proj((0L, 1L)) == -proj((1L, 1L)))
  }

  test("pca basis components are near-orthogonal in ppm on the real fixture") {
    val basis = Similarity.pcaBasis(spark, "/root/testdata/sf0.001").collect()
      .groupBy(_.getLong(0))
      .map { case (c, rs) =>
        c -> rs.sortBy(_.getLong(1)).map(r => BigInt(r.getLong(2)))
      }
    def cosPpm(a: Array[BigInt], b: Array[BigInt]): Long = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => (x * x).toDouble).sum)
      val nb = math.sqrt(b.map(x => (x * x).toDouble).sum)
      if (na == 0 || nb == 0) 0L
      else math.abs(dp.toDouble / (na * nb) * 1e6).round
    }
    // per-round projection makes orthogonality STRUCTURAL: the only
    // residue is the final renormalization's <= 1-unit/entry truncation
    // (~sub-ppm measured; 100 ppm leaves an order of margin)
    for (Seq(c1, c2) <- Seq(1L, 2L, 3L).combinations(2)) {
      val ppm = cosPpm(basis(c1), basis(c2))
      assert(ppm <= 100L,
        s"components $c1,$c2 must be orthogonal at ppm scale: $ppm ppm")
    }
  }

  test("isqrt is the exact floor root on edges, perfect squares and big values") {
    assert(Similarity.isqrt(BigInt(-5)) == BigInt(0))
    assert(Similarity.isqrt(BigInt(0)) == BigInt(0))
    for (n <- 0 to 10000)
      assert(Similarity.isqrt(BigInt(n)) == BigInt(math.sqrt(n).toLong),
        s"isqrt($n)")
    // around perfect squares at HUGEINT-envelope magnitudes
    for (r <- Seq(BigInt(10).pow(16), BigInt(10).pow(17) + 12345,
        BigInt(3).pow(40)); d <- Seq(-1, 0, 1)) {
      val n = r * r + d
      val got = Similarity.isqrt(n)
      assert(got * got <= n && (got + 1) * (got + 1) > n, s"isqrt($r²$d)")
    }
  }

  test("pcaWhiten: planted fixture has exactly unit variance and zero mean per live component") {
    import spark.implicits._
    // the rank-2 planted corpus of the basis tests: components 1/2 carry
    // ALL the variance (axes 5 and 11), component 3 is degenerate
    // (vᵀSv = 0 → whitened 0 by the D = 0 guard)
    val d = java.nio.file.Files.createTempDirectory("graft_pca_whiten").toString
    (0 until 16).map { i =>
      val v = Array.fill(64)(0.5f)
      v(5) = if (i % 2 == 0) 4.0f else -4.0f
      v(11) = if ((i / 2) % 2 == 0) 2.0f else -2.0f
      (i.toLong, v, "x")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.pcaWhiten(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(rows.size == 16 * 3)
    for (c <- 1L to 2L) {
      val xs = (0 until 16).map(i => rows((i.toLong, c)) / 1e6)
      val mean = xs.sum / xs.length
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      // Var_pop(proj) = vᵀSv/N² EXACTLY for any v, so whitening is
      // unit-variance up to the ≤2/D integer-root truncation
      assert(math.abs(mean) < 1e-3, s"component $c mean $mean")
      assert(math.abs(varp - 1.0) < 1e-3, s"component $c variance $varp")
      // the planted ±axes give exactly two whitened levels ±1
      assert(xs.map(x => math.abs(math.abs(x) - 1.0)).max < 1e-3)
    }
    assert((0 until 16).forall(i => rows((i.toLong, 3L)) == 0L),
      "degenerate component (zero eigenvalue) whitens to 0 by the guard")
  }

  test("pcaWhiten: near-unit variance per component on the real fixture") {
    val rows = Similarity.pcaWhiten(spark, "/root/testdata/sf0.001").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(rows.nonEmpty)
    for (c <- 1L to 3L) {
      val xs = rows.collect { case ((_, cc), w) if cc == c => w / 1e6 }
      val mean = xs.sum / xs.length
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      assert(math.abs(mean) < 0.01, s"component $c mean $mean")
      assert(math.abs(varp - 1.0) < 0.01, s"component $c variance $varp")
    }
  }

  test("matryoshka recall emits a row for EVERY prefix dim, zero-hit dims included") {
    import spark.implicits._
    // adversarial corpus (ADVICE r11): every vector shares an identical
    // 32-dim prefix, so the d=8/16/32 legs are all-ties and pick the
    // LOWEST n_ids by tie-break — while the tail dims make the TRUTH
    // (d=64) prefer the HIGHEST ids. The prefix legs then score zero
    // hits, and each must still emit its row with n_hits = 0 (the
    // oracle's UNION ALL always emits one row per dim).
    val d = java.nio.file.Files.createTempDirectory("graft_mrl").toString
    val vecs = (0 to 9).map { i =>
      val tail = if (i == 0) 0.0f else (11 - i).toFloat
      (i.toLong, Array.fill(32)(1.0f) ++ Array.fill(32)(tail), "x")
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.matryoshkaRecall(spark, d, nQueries = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rows.map(_._1) == Similarity.MrlDims.map(_.toLong),
      s"one row per prefix dim expected, got $rows")
    assert(rows.take(3).forall(_._2 == 0L),
      s"all-ties prefixes must score ZERO hits yet still emit rows: $rows")
    assert(rows.last == (64L, 2L), s"the full-dim leg IS the truth: $rows")
  }
}
