package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for dedup operators on a synthetic mini documents table
  * (written as parquet so operators exercise the same source path). */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Mini corpus: 0/1 identical, 2 near-dup of 0 (one word changed),
    * 3 unrelated, 4 too short for 3-grams. */
  lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_dedup").toString
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
      (2L, "the quick brown fox jumps over the lazy cat again and again", "en", "s", 60L),
      (3L, "completely different content with no overlap whatsoever here", "en", "s", 60L),
      (4L, "too short", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("shingles: distinct word 3-grams; short texts yield empty") {
    import spark.implicits._
    val sh = Seq("a b c d", "x y").toDF("text")
      .select(Dedup.shingles(col("text")).as("s")).collect()
    assert(sh(0).getSeq[String](0).toSet == Set("a b c", "b c d"))
    assert(sh(1).getSeq[String](0).isEmpty)
  }

  test("exact dedup keeps min doc_id and counts duplicates") {
    val rows = Dedup.exact(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("passage dedup keeps only corpus-first occurrences of word blocks") {
    // blocks of 3 words: doc0 owns all four of its blocks; identical
    // doc1 keeps none; doc2 differs only in block 2 ("the lazy cat");
    // doc3/4 are unique throughout
    val r = Dedup.passageDedup(spark, dir, blockWords = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
    assert(r.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, 4L, 4L), (1L, 4L, 0L), (2L, 4L, 1L), (3L, 3L, 3L), (4L, 1L, 1L)))
    assert(r(2)._4 == "the lazy cat".length.toLong)
    // a doc that keeps nothing reassembles to the empty string
    assert(r(1)._5 == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("ngram jaccard finds identical and near-dup pairs, not unrelated") {
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccard prefix: exact threshold excludes the 7/13 near-dup pair") {
    // docs 0/2 share 7 of 13 distinct trigrams (J ≈ 0.538 < 3/5): the
    // exact-integer test must EXCLUDE them; only the identical pair stays
    val rows = Dedup.jaccardPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 1L, 1000000L)))
  }

  test("jaccard prefix equals the naive all-pairs exact join (recall 1.0)") {
    import spark.implicits._
    // 24 docs with graded overlap: group g of 4 docs shares a 20-word
    // base with doc j of the group mutating j words at spread positions
    // — J(base, j-mutant) steps through ~1.0 .. ~0.4 so pairs straddle
    // the 3/5 threshold from both sides
    val docs = (0 until 24).map { id =>
      val g = id / 4; val j = id % 4
      val base = (0 until 20).map(p => f"g${g}w$p").toArray
      (0 until j).foreach(m => base(m * 5) = f"mut${id}x$m")
      (id.toLong, base.mkString(" "), "en", "s", 0L)
    }
    val d2 = Files.createTempDirectory("graft_jp").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    // naive exact reference, computed in Scala over the same shingles
    val sets = graft.sources.Tables(spark, d2, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      c = (sets(a) & sets(b)).size; u = sets(a).size + sets(b).size - c
      if u > 0 && c * Dedup.JacDen >= u * Dedup.JacNum
    } yield (a, b, c.toLong * 1000000L / u)).toSeq.sorted
    val got = Dedup.jaccardPrefix(spark, d2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(naive.nonEmpty && naive.exists(_._3 < 1000000L)) // non-trivial
    assert(got == naive)
  }

  test("minhash LSH finds the identical pair with jaccard 1.0") {
    val pairs = Dedup.minhashLSH(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical docs always share every band
  }

  test("distributed label propagation matches union-find on a known graph") {
    import spark.implicits._
    // two chains (7-5-3-1, 2-4) and a singleton edge 10-20:
    // components {1,3,5,7}→1, {2,4}→2, {10,20}→10
    val pairs = Seq((5L, 7L), (3L, 5L), (1L, 3L), (2L, 4L), (10L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.componentsDistributed(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L,
      2L -> 2L, 4L -> 2L, 10L -> 10L, 20L -> 10L))
  }

  test("canonical selection keeps the best-quality member per cluster, lowest id on ties") {
    val rows = Dedup.canonical(spark, dir).collect()
    // docs 0/1 identical + 2 near-dup form ONE cluster (component 0);
    // their texts have identical length/punct/stopword structure, so
    // scores tie and doc 0 wins the tie-break
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    assert(r.getLong(3) == 3L && r.getLong(4) == 2L)
    val q0 = TextAnalysis.quality(spark, dir)
      .filter(col("doc_id") === 0L).collect().head.getDouble(4)
    assert(r.getDouble(2) == q0,
      "canonical score must equal the kept doc's quality score")
  }

  test("semantic dedup = dominance rule over exact within-cluster pairs") {
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // independent re-derivation: the exact all-pairs baseline
    // (cosineNearDup) restricted to same-cluster pairs; per pair the
    // loser is the higher (cos-to-assigned-centroid, vec_id)
    val assign = graft.kmeans.FitFinal.finalAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = graft.kmeans.FitFinal.result(spark, sf)
      .centroids.sortBy(_._1).map(_._2)
    val vecs = graft.sources.Tables.points(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // same sequential left-to-right fold as the DotProduct kernel
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosc(id: Long): Double = {
      val v = vecs(id); val c = cents(assign(id).toInt)
      dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c)))
    }
    val losers = Dedup.cosineNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => assign(a) == assign(b) }
      .map { case (a, b) =>
        val ca = cosc(a); val cb = cosc(b)
        if (ca > cb || (ca == cb && a > b)) a else b }
    assert(losers.nonEmpty, "fixture must contain within-cluster near-dups")
    val want = losers.groupBy(identity).map { case (id, ls) =>
      (id, assign(id), ls.size.toLong) }.toSet
    assert(got.map(t => (t._1, t._2, t._4)).toSet == want)
    got.foreach { case (id, _, cosC, _) =>
      assert(math.abs(cosC - cosc(id)) < 1e-6, s"cos_centroid drift for $id") }
    // removals must be a strict subset of the corpus, never a whole pair
    // family: every removed vector lost to SOMEONE still standing or not,
    // but each pair retains at least one member by construction
    val removed = got.map(_._1).toSet
    assert(removed.size < vecs.size)
  }

  test("semanticDedupScaled k=1 degenerates to all-pairs dominance") {
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.semanticDedupScaled(spark, sf, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // with ONE bucket, every exact pair is within-cluster: removals must
    // equal the dominance losers of the full cosineNearDup pair set,
    // with cosc taken against the same k=1 trained centroid
    val c = graft.kmeans.RefKMeans.fit(
      graft.sources.Tables.points(spark, sf),
      graft.kmeans.RefKMeans.Config(k = 1, maxIter = 5))
      .centroids.head._2
    val vecs = graft.sources.Tables.points(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosc(id: Long): Double = {
      val v = vecs(id)
      dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c)))
    }
    val losers = Dedup.cosineNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) =>
        val ca = cosc(a); val cb = cosc(b)
        if (ca > cb || (ca == cb && a > b)) a else b }
    val want = losers.groupBy(identity)
      .map { case (id, ls) => (id, 0L, ls.size.toLong) }.toSet
    assert(got.toSet == want)
  }

  test("sampled semantic recall = full recall restricted to %5 pairs") {
    val sf = "/root/testdata/sf0.001"
    // independent re-derivation: the sampled twin must count exactly the
    // full-corpus-bucketing agreements over cosineNearDup's %5-sampled
    // pair set — sampling thins the measured pairs, not the bucketings
    val frozen = graft.kmeans.FitFinal.result(spark, sf, "fit")
      .centroids.sortBy(_._1).map(_._2)
    val vecs = graft.sources.Tables.points(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
      def sq(c: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }; s
      }
      cs.indices.minBy(i => (sq(cs(i)), i))
    }
    val pairs = Dedup.cosineNearDup(spark, sf, keepMod = Some(5L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a % 5 == 0 && b % 5 == 0 })
    val wantFrozen = pairs.count { case (a, b) =>
      nearest(frozen, vecs(a)) == nearest(frozen, vecs(b)) }
    val r = Dedup.semanticRecall(spark, sf, keepMod = Some(5L)).collect().head
    assert(r.getLong(0) == pairs.length.toLong, "n_exact = sampled pair count")
    assert(r.getLong(1) == wantFrozen.toLong, "n_frozen = frozen-bucket agreements")
    assert(r.getDouble(3) ==
      BigDecimal(wantFrozen.toDouble / pairs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("simhash: identical docs have identical signatures, hamming 0") {
    val sigs = Dedup.simhashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs.values.forall(s => s >= 0L && s < (1L << Dedup.SIMHASH_BITS)))
    val pairs = Dedup.simhashPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) == 0L)
  }

  test("winnow pairs find every dedup_ngram near-dup pair and nothing unrelated") {
    // The mini corpus's near-dup pairs all share runs far beyond the
    // winnowing guarantee length w+k-1 = 11 chars, so every pair
    // ngramJaccard reports must also surface as a MOSS match — with
    // shared counts ranking the identical pair at the top. Doc 3 shares
    // no 11-char run with anything; doc 4 is shorter than one k-gram
    // window and must produce no fingerprints at all.
    val ngramPairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngramPairs.nonEmpty)
    val winnow = Dedup.winnowPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(ngramPairs.subsetOf(winnow.keySet),
      s"ngram pairs missing from winnow: ${ngramPairs -- winnow.keySet}")
    assert(!winnow.keySet.exists { case (a, b) =>
      a == 3L || b == 3L || a == 4L || b == 4L })
    // identical docs share every fingerprint: their count dominates the
    // one-word-changed pairs
    assert(winnow((0L, 1L)) >= winnow.getOrElse((0L, 2L), 0L))
    assert(winnow((0L, 1L)) >= winnow.getOrElse((1L, 2L), 0L))
  }

  test("cdc chunks tile each document; identical docs chunk identically and share dup groups") {
    val ch = Dedup.cdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDoc = ch.groupBy(_._1)
    // actual length(text) per doc (the corpus's n_chars column is
    // nominal): docs 0-2 are 59 chars, doc 3 is 60, doc 4 is 9
    val lens = Map(0L -> 59L, 1L -> 59L, 2L -> 59L, 3L -> 60L, 4L -> 9L)
    for ((d, rows) <- byDoc) {
      val sorted = rows.sortBy(_._2)
      // chunk_idx contiguous from 0; chunks tile the text exactly
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong).toSeq)
      assert(sorted.head._3 == 0L)
      assert(sorted.map(_._4).sum == lens(d), s"doc $d chunks must tile the text")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"doc $d chunks must abut")
        case _ => ()
      }
    }
    // doc 4 is shorter than one k-gram: exactly one whole-doc chunk
    assert(byDoc(4L).length == 1 && byDoc(4L).head._4 == 9L)
    // identical texts produce identical chunk sequences
    assert(byDoc(0L).map(t => (t._2, t._3, t._4, t._5)).toSeq.sortBy(_._1) ==
      byDoc(1L).map(t => (t._2, t._3, t._4, t._5)).toSeq.sortBy(_._1))
    // every doc-0 chunk long enough for the dup ledger is shared with
    // doc 1, so it must appear as a cross-doc dup group (ledger keys
    // are the FULL md5 of the chunk body — recompute from the fixture)
    val text0 = "the quick brown fox jumps over the lazy dog again and again"
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val eligible = byDoc(0L).filter(_._4 >= Dedup.CdcMinDupLen)
      .map(c => md5hex(text0.substring(c._3.toInt, (c._3 + c._4).toInt))).toSet
    assert(eligible.nonEmpty, "mini corpus must yield at least one ledger-sized chunk")
    val dups = Dedup.chunkDupGroups(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(eligible.subsetOf(dups.keySet))
    dups.values.foreach { case (nDocs, nOcc) =>
      assert(nDocs >= 2 && nOcc >= nDocs)
    }
    // canonical action: the keeper of every dup group is its first
    // occurrence — here always doc 0 (docs 0/1 identical, 0 < 1), and
    // keep_idx must point at a doc-0 chunk with the same key
    val canon = Dedup.chunkCanonical(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(canon.keySet == dups.keySet)
    canon.foreach { case (k, (nDocs, nOcc, keepDoc, keepIdx)) =>
      assert((nDocs, nOcc) == dups(k))
      val owner = byDoc(keepDoc).find(_._2 == keepIdx)
      assert(owner.isDefined, s"keep_idx $keepIdx not a chunk of doc $keepDoc")
      assert(md5hex(text0.substring(owner.get._3.toInt,
        (owner.get._3 + owner.get._4).toInt)) == k || keepDoc != 0L)
    }
    assert(canon.values.forall(_._3 == 0L), "doc 0 is the first occurrence everywhere here")
  }

  test("chunk dup stats: identical docs are fully duplicated, unrelated docs not at all") {
    val st = Dedup.chunkDupStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(st.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // docs 0/1 are identical: every ledger-sized chunk is shared, and
    // their stats rows are equal
    assert(st(0L) == st(1L))
    assert(st(0L)._4 > 0 && st(0L)._5 > 0L)
    // bytes accounting: dup_bytes never exceeds n_bytes; ppm is the
    // exact floor division
    st.foreach { case (d, (nc, nb, ndc, db, ppm)) =>
      assert(db <= nb && ndc <= nc)
      assert(ppm == db * 1000000L / math.max(nb, 1L))
    }
    // doc 3 shares nothing 20+ chars with any other doc
    assert(st(3L)._4 == 0L && st(3L)._5 == 0L)
  }

  test("min-size cdc keeps a subset of pure cuts, tiles, and only the tail may undershoot m") {
    val pure = Dedup.cdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ms = Dedup.cdcChunksMinSize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lens = Map(0L -> 59L, 1L -> 59L, 2L -> 59L, 3L -> 60L, 4L -> 9L)
    for ((d, rows) <- ms.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      // starts are a subset of the pure variant's starts (greedy keep)
      assert(sorted.map(_._3).toSet.subsetOf(pure(d)))
      // tiling still holds
      assert(sorted.head._3 == 0L && sorted.map(_._4).sum == lens(d))
      // every chunk but the per-doc tail is >= CdcMinSize
      sorted.dropRight(1).foreach(c =>
        assert(c._4 >= Dedup.CdcMinSize, s"doc $d non-tail chunk ${c._4} < m"))
    }
  }

  test("concurrent first use of the scaled centroids trains once and tags one build") {
    import graft.sources.CacheProbe
    val sf = "/root/testdata/sf0.001"
    val key = s"semdedup:$sf"
    def mine() = CacheProbe.drain().filter(_.key == key)
    CacheProbe.setEnabled(true)
    try {
      // make the entry cold: look it up once, then evict it
      Dedup.scaledCentroids(spark, sf)
      mine().foreach(_.evict())
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val calls = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Array[Array[Double]]] {
          def call(): Array[Array[Double]] = { start.await(); Dedup.scaledCentroids(spark, sf) }
        }))
        start.countDown()
        val results = calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(results(0) eq results(1), "both callers must get the one trained centroid set")
      } finally pool.shutdown()
      val accesses = mine()
      assert(accesses.size == 2)
      assert(accesses.count(_.built) == 1, s"built flags: ${accesses.map(_.built)}")
    } finally CacheProbe.setEnabled(false)
  }
}
