package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** BPE trainer + greedy longest-match encode on a hand-computable
  * corpus (merge sequence and token ids derived by hand in the
  * comments). */
class BpeSpec extends AnyFunSuite with LocalSpark {

  // Corpus: abab×3, abc×2, cd×1.
  //   pair counts: (a,b)=3·2+2=8, (b,a)=3, (b,c)=2, (c,d)=1 → merge (a,b)
  //   then: (ab,ab)=3, (ab,c)=2, (c,d)=1                    → merge (ab,ab)
  //   then: (ab,c)=2, (c,d)=1                               → merge (ab,c)
  //   then: (c,d)=1 < 2                                     → stop
  // vocab: a=0 b=1 c=2 d=3, ab=4, abab=5, abc=6
  private val freqs = Seq(("abab", 3L), ("abc", 2L), ("cd", 1L))

  test("trainer merges most-frequent pairs deterministically and stops when none repeats") {
    val m = Bpe.train(freqs, nMerges = 10)
    assert(m.nMergesDone == 3)
    assert(m.vocab == Seq("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L,
      "ab" -> 4L, "abab" -> 5L, "abc" -> 6L))
  }

  test("merge cap truncates training") {
    val m = Bpe.train(freqs, nMerges = 1)
    assert(m.nMergesDone == 1 && m.vocab.map(_._1).contains("ab")
      && !m.vocab.map(_._1).contains("abab"))
  }

  test("distributed trainer learns the identical model as the driver trainer") {
    import spark.implicits._
    def wfDf(rows: Seq[(String, Long)]) = rows.toDF("w", "f")
    // the hand-computed corpus, a tie/overlap-heavy one, and the real
    // fixture word table must all produce bit-identical models
    assert(Bpe.trainDistributed(spark, wfDf(freqs), nMerges = 10)
      == Bpe.train(freqs, nMerges = 10))
    // overlap: "aaa" counts (a,a) at BOTH adjacent positions (4 total
    // weighted) so it beats the 3-count ties; then (a,b) vs (b,a) tie
    // at 3 resolves lexicographically to (a,b) on both paths
    val tricky = Seq(("aaa", 2L), ("ab", 3L), ("ba", 3L))
    val dDriver = Bpe.train(tricky, nMerges = 10)
    val dDist = Bpe.trainDistributed(spark, wfDf(tricky), nMerges = 10)
    assert(dDist == dDriver)
    assert(dDriver.vocab.map(_._1).take(2) == Seq("a", "b") &&
      dDriver.vocab.map(_._1).contains("aa"))
    // real corpus: the exact word table the production model() builds
    val wf = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("w"))
      .filter(org.apache.spark.sql.functions.col("w") =!= "")
      .groupBy("w").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("f"))
    val driverModel =
      Bpe.train(wf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(Bpe.trainDistributed(spark, wf) == driverModel,
      "the two trainer paths must freeze the identical vocabulary")
  }

  test("all-tied corpus: the tie pick stays bounded and both paths agree (VERDICT r14)") {
    import spark.implicits._
    // every adjacent pair ties at the max count (2): the distributed
    // trainer's lexicographic argmin must reduce in Spark (one row per
    // round) and still match the driver's (count desc, pair asc) order
    val tied = ('a' to 'z').grouped(2)
      .map(p => (p.mkString, 2L)).toSeq
    val dDriver = Bpe.train(tied, nMerges = 5)
    val dDist = Bpe.trainDistributed(spark, tied.toDF("w", "f"), nMerges = 5)
    assert(dDist == dDriver)
    // merges proceed in lexicographic pair order: ab, cd, ef, gh, ij
    assert(dDriver.vocab.map(_._1).drop(26) == Seq("ab", "cd", "ef", "gh", "ij"))
  }

  test("non-BMP text: code-point split + UTF-16 tie order keep the paths bit-identical (ADVICE r14)") {
    import spark.implicits._
    // 😀 (U+1F600) is one symbol on both paths (the old driver split
    // broke it into two surrogate code units); and in the tie between
    // (😀,x) and (�,x) the UTF-16 code-unit order picks 😀 first
    // (high surrogate 0xD83D < 0xFFFD) while UTF-8/code-point binary
    // order would pick � — the divergence the UTF-16BE min_by key
    // exists to close
    val astral = Seq(("😀x", 2L), ("�x", 2L))
    val dDriver = Bpe.train(astral, nMerges = 1)
    val dDist = Bpe.trainDistributed(spark, astral.toDF("w", "f"), nMerges = 1)
    assert(dDist == dDriver)
    assert(dDriver.vocab.map(_._1).contains("😀x"),
      s"UTF-16 tie order must merge the astral pair first: ${dDriver.vocab}")
    assert(!dDriver.vocab.map(_._1).contains("�x"))
    // split parity on its own: an astral word with no ties at all
    val plain = Seq(("a😀b", 3L), ("a😀c", 2L))
    assert(Bpe.trainDistributed(spark, plain.toDF("w", "f"), nMerges = 10)
      == Bpe.train(plain, nMerges = 10))
  }

  test("greedy longest-match encode against a frozen vocab (Spark fold)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_bpe").toString
    // ababc → abab(5) c(2); abcd → abc(6) d(3); abab → abab(5);
    // cd → c(2) d(3)  [cd never became a token]
    Seq((0L, "ababc abcd", "en", "s", 10L), (1L, "abab cd", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = Bpe.train(freqs, nMerges = 10)
    val enc = Bpe.encodeDistinctWords(spark, d, m).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(enc("ababc") == (2L, "5 2"))
    assert(enc("abcd") == (2L, "6 3"))
    assert(enc("abab") == (1L, "5"))
    assert(enc("cd") == (2L, "2 3"))
  }

  test("per-doc encode counts words and BPE tokens; hash pins the id sequence") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_bpe2").toString
    Seq((0L, "abab abab abc", "en", "s", 13L), (1L, "cd", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Bpe.encode(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // trained on THIS corpus: words abab(f2… per doc occurrences 2+… )
    // — the registry model is corpus-trained, so just pin the invariants
    // plus the hash's consistency with the distinct-word encode
    val m = Bpe.model(spark, d)
    val enc = Bpe.encodeDistinctWords(spark, d, m).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows(0L)._1 == 3L && rows(1L)._1 == 1L)
    assert(rows(0L)._2 == enc("abab")._1 * 2 + enc("abc")._1)
    assert(rows(0L)._3 == md5hex(Seq(enc("abab")._2, enc("abab")._2, enc("abc")._2)
      .mkString(" ")))
    assert(rows(1L)._3 == md5hex(enc("cd")._2))
  }

  test("decode roundtrip re-materializes every word from its ids") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_bpe3").toString
    Seq((0L, "abab abab abc", "en", "s", 13L), (1L, "cd abc", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Bpe.roundtrip(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // lossless: every word decodes back, char counts agree exactly
    assert(rows(0L) == (3L, 3L, 11L, 11L))
    assert(rows(1L) == (2L, 2L, 5L, 5L))
  }

  test("empty words from repeated/leading/trailing spaces never count (ADVICE r10)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_bpe4").toString
    // doc 0 has a DOUBLE space, doc 1 leading+trailing spaces: split()
    // yields '' words, which the oracle's recursion drops — both sides
    // must drop them, or n_words/tok_hash drift
    Seq((0L, "abab  abc", "en", "s", 9L), (1L, " cd ", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = Bpe.model(spark, d)
    val encWords = Bpe.encodeDistinctWords(spark, d, m).collect()
      .map(_.getString(0)).toSet
    assert(!encWords.contains(""), "'' must not reach the encode fold")
    val rows = Bpe.encode(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(0L -> 2L, 1L -> 1L),
      s"empty words must not count toward n_words: $rows")
    val rt = Bpe.roundtrip(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rt == Map(0L -> (2L, 2L), 1L -> (1L, 1L)))
  }
}
