package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Unit tests for the training-data pipeline operators on a synthetic
  * mini documents table (written as parquet so operators exercise the
  * same source path). */
class PipelineSpec extends AnyFunSuite with LocalSpark {

  lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_pipeline").toString
    // doc i has i+1 tokens; languages cycle through 5 values
    val langs = Seq("en", "zh", "es", "de", "xx")
    (0 until 40).map { i =>
      (i.toLong, Seq.fill(i + 1)("w").mkString(" "), langs(i % 5), "s", (2 * i + 1).toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("temperatureSample: uniform mixture keeps the budget rate; skew flattens toward the tail") {
    import spark.implicits._
    // the shared fixture is UNIFORM (5 langs x 8 docs): T=2 leaves a
    // uniform mixture at exactly the half-corpus budget — permille 500
    // for every language
    val rows = Pipeline.temperatureSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 40)
    assert(rows.forall(_._3 == 500L), "uniform mixture must rate 500 everywhere")
    // deterministic admit: identical on re-run
    val again = Pipeline.temperatureSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
    // skewed twin: 30 en / 10 zh. Z = sqrt(30)+sqrt(10) = 8.639528...;
    // en: floor(1000*20*(sqrt(30)/Z)/30) = 422, zh: ... = 732 — the
    // head is cut below its share (500-equivalent) and the tail raised
    val d2 = Files.createTempDirectory("graft_pipeline_skew").toString
    (0 until 40).map { i =>
      (i.toLong, "w", if (i < 30) "en" else "zh", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val rates = Pipeline.temperatureSample(spark, d2).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rates == Map("en" -> 422L, "zh" -> 732L))
  }

  test("packSequences: per-shard greedy concat-split accounting") {
    val rows = Pipeline.packSequences(spark, dir, budget = 10L, nShards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // brute-force re-derivation
    val want = (0 until 40).map(i => (i.toLong % 4, i.toLong, (i + 1).toLong))
      .groupBy(_._1).toSeq.flatMap { case (shard, ds) =>
        var cum = 0L
        ds.sortBy(_._2).map { case (_, _, n) =>
          val seq = cum / 10L; cum += n; (shard, seq) -> n
        }
      }.groupBy(_._1).map { case (k, vs) =>
        k -> (vs.size.toLong, vs.map(_._2).sum)
      }
    assert(rows == want)
    // every document's tokens are counted exactly once
    assert(rows.values.map(_._2).sum == (1 to 40).map(_.toLong).sum)
  }

  test("piiScrub: counts match the planted contacts and redaction is total") {
    val rows = Pipeline.piiScrub(spark, dir).collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == (if (id % 3 != 0) 1L else 0L), s"emails doc $id")
      assert(r.getLong(2) == (if (id % 2 == 0) 1L else 0L), s"phones doc $id")
    }
    // scrubbed text of a planted doc differs from the unplanted hash and
    // contains no residual address (re-scrubbing is a fixpoint)
    val again = Pipeline.piiScrub(spark, dir).collect()
    assert(rows.map(_.getString(3)).toSeq == again.map(_.getString(3)).toSeq)
  }

  test("stratifiedSample: deterministic, respects per-language keep sets") {
    val a = Pipeline.stratifiedSample(spark, dir).collect().map(_.getLong(0)).toSeq
    val b = Pipeline.stratifiedSample(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    // membership is exactly the hash predicate, re-derived independently
    val want = (0 until 40).filter { i =>
      val hk = graft.functions.HashOps.wordHashNScala(s"strat:$i", 15) % 1000
      val rate = Pipeline.StratPermille.toMap
        .getOrElse(Seq("en", "zh", "es", "de", "xx")(i % 5), Pipeline.StratDefault)
      hk < rate
    }.map(_.toLong)
    assert(a == want)
  }

  test("importanceSample: likelihood ratios and keep decisions match hand math") {
    import spark.implicits._
    // corpus {0: "a a a b" (target), 1: "a b b b", 7: "b b" (target)}:
    // cf_c(a)=4, cf_c(b)=6, cf_t(a)=3, cf_t(b)=3, N_c=10, N_t=6
    // → r(a)=30/24=1.25, r(b)=30/36=0.8333…
    val d = Files.createTempDirectory("graft_imp").toString
    Seq((0L, "a a a b", "en", "s", 7L), (1L, "a b b b", "en", "s", 7L),
      (7L, "b b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Pipeline.importanceSample(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val rb = 30.0 / 36.0
    def imp(rs: Double*) = BigDecimal(rs.sum / rs.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wantImp = Map(
      0L -> imp(1.25, 1.25, 1.25, rb),
      1L -> imp(1.25, rb, rb, rb),
      7L -> imp(rb, rb))
    assert(got.view.mapValues(_._1).toMap == wantImp)
    // keep rule: permille hash < floor(min(1000, importance·500))
    got.foreach { case (id, (im, kept)) =>
      val thr = math.floor(math.min(1000.0, im * 500)).toLong
      val hk = graft.functions.HashOps.wordHashNScala(s"imp:$id", 15) % 1000
      assert(kept == (if (hk < thr) 1L else 0L), s"keep decision doc $id")
    }
    // determinism across runs (retry/partition stability is the contract)
    val again = Pipeline.importanceSample(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(again == got)
  }

  test("cleanCorpus: funnel stages drop the designed offenders cumulatively") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft_clean").toString
    val good = "the quick fox and the lazy dog it is of to and the " * 3 // 36 tok, en
    Seq(
      (0L, good + "unique zero"),          // survives everything
      (1L, "too short"),                   // dies at length (< 20 tokens)
      (2L, ("zz yy " * 60).trim),          // 120 tok, no punct: quality 0.7
                                           // but zero lexicon hits -> und,
                                           // dies at language
      (3L, good + "dup body"),             // dup pair, min id keeps
      (4L, good + "dup body"),             // dies at dedup
      (5L, ("xx! " * 25).trim))            // 25 tok all-punct no-stopword:
                                           // score ~0.32, dies at quality
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val got = Pipeline.cleanCorpus(spark, d2, minTok = 20L, maxTok = 200L, minScore = 0.5)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("all" -> 6L, "length" -> 5L, "quality" -> 4L,
      "language" -> 3L, "dedup" -> 2L))
  }

  test("repetitionStats: fractions match hand-derived values") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq(
      (0L, "a"),               // 1 token: top 1/1, no bigrams -> 0
      (1L, "a b"),             // 2 distinct: top 1/2, bigram unique -> 0
      (2L, "a a a a"),         // top 4/4=1; bigrams "a a"x3 all dup -> 1
      (3L, "a b a b a"),       // top 3/5; bigrams: "a b"x2,"b a"x2 -> 4/4
      (4L, "a b c d b"))       // top 2/5; 4 distinct bigrams -> 0
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val got = Pipeline.repetitionStats(spark, d2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == Map(
      0L -> ((1.0, 0.0)), 1L -> ((0.5, 0.0)), 2L -> ((1.0, 1.0)),
      3L -> ((0.6, 1.0)), 4L -> ((0.4, 0.0))))
  }

  test("decontaminate: counts distinct leaked 8-grams vs brute force") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft_decon").toString
    // overlapping sliding windows over a small token universe so that
    // 8-gram sharing occurs across documents naturally
    val texts = (0 until 60).map { i =>
      i.toLong -> (i until i + 12).map(v => s"t${v % 17}").mkString(" ")
    }
    texts.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    def isEval(id: Long) =
      graft.functions.HashOps.wordHashNScala(s"eval:$id", 15) % 1000 <
        Pipeline.DecontamEvalPermille
    def grams(t: String): Set[String] =
      t.split(" ").sliding(Pipeline.DecontamGram).map(_.mkString(" ")).toSet
    val evalGrams = texts.filter(t => isEval(t._1)).flatMap(t => grams(t._2)).toSet
    assert(evalGrams.nonEmpty, "test corpus must produce an eval split")
    val want = texts.filterNot(t => isEval(t._1))
      .map { case (id, t) => id -> (grams(t) & evalGrams).size.toLong }
      .filter(_._2 > 0).toMap
    val got = Pipeline.decontaminate(spark, d2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("pipelineE2e: monotone funnel, token conservation through packing, one documents scan") {
    // the real sf0.001 fixture: a corpus where every stage survives
    // (the synthetic "w w w" fixture dies at the quality stage)
    val df = Pipeline.pipelineE2e(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.head._1 == 1L && rows.head._2 == "all" && rows.head._3 == 500L)
    // stages 1..5 are cumulative filters: doc and token counts monotone
    val filterStages = rows.filter(_._1 <= 5L)
    filterStages.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3 && b._4 <= a._4,
        s"funnel must be monotone: $a -> $b")
      case _ => ()
    }
    // packing conserves survivor tokens exactly; sequences are fewer
    // than (or equal to) surviving docs
    val bal = rows.find(_._1 == 5L)
    val packed = rows.find(_._1 == 6L)
    assert(bal.isDefined && packed.isDefined)
    assert(packed.get._4 == bal.get._4, "packing must conserve tokens")
    assert(packed.get._3 <= bal.get._3)
    // composition claim: ONE parquet scan of documents feeds all stages
    // — in the cache-substituted optimized plan, every documents access
    // must ride the persisted base (InMemoryRelation), with NO direct
    // parquet relation bypassing it (the cached plan's own scan is the
    // single real read and lives inside the InMemoryRelation leaf)
    val lp = df.queryExecution.optimizedPlan
    val direct = lp.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    val cached = lp.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(direct.isEmpty,
      s"stages must not re-read documents directly:\n${direct.mkString("\n")}")
    assert(cached.nonEmpty, "the persisted base must appear in the plan")
  }

  test("weightedSample: the k smallest hand-computed rational priorities, weight-favored") {
    import graft.functions.HashOps.wordHashNScala
    val k = 5
    val rows = Pipeline.weightedSample(spark, dir, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(_._1) == (1L to k), "ranks dense from 1")
    // doc i has i+1 tokens (= its weight): replay h div w exactly
    val want = (0 until 40)
      .map(i => (wordHashNScala(s"wres_$i", 15) / (i + 1L), i.toLong))
      .sorted.take(k)
    assert(rows.map(t => (t._4, t._2)) == want,
      s"selection must be the $k smallest (priority, doc_id): $rows vs $want")
    assert(rows.map(t => t._4 * t._3 <= wordHashNScala(s"wres_${t._2}", 15))
      .forall(identity), "priority = h div w (truncated)")
    // weight preference: the sampled docs' mean weight exceeds the
    // corpus mean (weights 1..40, mean 20.5) — h/w shrinks with w
    val meanW = rows.map(_._3).sum.toDouble / k
    assert(meanW > 20.5, s"weighted sampling should favor heavy docs, mean $meanW")
  }

  test("bottomKSample: exactly k per stratum, the k smallest priorities") {
    import graft.functions.HashOps.wordHashNScala
    val rows = Pipeline.bottomKSample(spark, dir, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.keySet == Set("en", "zh", "es", "de", "xx"))
    assert(byLang.values.forall(_.length == 3), "exactly k rows per stratum")
    // per stratum: the selected ids ARE the 3 smallest hand-computed
    // md5 priorities, ranked 1..k in priority order
    val langs = Seq("en", "zh", "es", "de", "xx")
    for ((lang, got) <- byLang) {
      val want = (0 until 40).filter(i => langs(i % 5) == lang)
        .map(i => (wordHashNScala(s"res_$i", 15), i.toLong))
        .sorted.take(3)
      assert(got.sortBy(_._2).map(t => (t._4, t._3)).toSeq == want,
        s"stratum $lang selected the wrong members")
      assert(got.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("hashSplits: every (split, source) cell matches an independent per-doc replay") {
    import graft.functions.HashOps.wordHashNScala
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "source", "n_chars").collect()
    def splitOf(id: Long): String = {
      val hv = wordHashNScala(s"split:$id", 15) % 1000
      if (hv < Pipeline.SplitTrainPermille) "train"
      else if (hv < Pipeline.SplitValPermille) "val" else "test"
    }
    val want = docs.groupBy(r => (splitOf(r.getLong(0)), r.getString(1)))
      .map { case (k, v) => k -> ((v.length.toLong, v.map(_.getLong(2)).sum)) }
    val got = Pipeline.hashSplits(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, "aggregate cells must equal the driver-side replay")
    // the split partitions the corpus and lands near 80/10/10
    val bySplit = got.groupBy(_._1._1).view
      .mapValues(_.values.map(_._1).sum).toMap
    assert(bySplit.values.sum == docs.length)
    val trainFrac = bySplit.getOrElse("train", 0L).toDouble / docs.length
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
  }
}
