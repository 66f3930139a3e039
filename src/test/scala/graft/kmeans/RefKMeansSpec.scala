package graft.kmeans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobs.jobsOf
import graft.functions.VectorOps
import graft.sources.Tables
import graft.LocalSpark

/** Golden micro-fixture tests (FIXTURES.md §A) pinning reference semantics:
  * maximin seeding (`/root/reference/main/master/master.go:157-190`),
  * first-index tie-breaks (`main/worker/worker.go:271-285,297-301`),
  * Lloyd stop rule incl. both exit paths (`master.go:212-231`),
  * empty-cluster carry-over (`master.go:579-600`). */
class RefKMeansSpec extends AnyFunSuite with LocalSpark {

  def pts(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "features")
  }

  /** FIXTURES.md §A: two obvious blobs. */
  def blobs: DataFrame = pts(
    0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 0.0),
    3L -> Seq(10.0, 10.0), 4L -> Seq(10.0, 11.0), 5L -> Seq(11.0, 10.0))

  test("distance kernel matches hand values (utils/utils.go:46-54)") {
    val df = pts(0L -> Seq(0.0, 3.0)).select(
      VectorOps.dist(col("features"), array(lit(4.0), lit(0.0))).as("d"))
    assert(df.head().getDouble(0) === 5.0)
  }

  test("maximin seeding from id 0 picks (10,11) second (first-index tie-break)") {
    val cents = RefKMeans.seed(blobs, RefKMeans.Config(k = 2, firstId = Some(0L)))
    assert(cents(0).toSeq == Seq(0.0, 0.0))
    // ids 4 (10,11) and 5 (11,10) tie at dist sqrt(221); id 4 wins.
    assert(cents(1).toSeq == Seq(10.0, 11.0))
  }

  test("golden 2-blob fixture converges to exact centroids and membership") {
    val res = RefKMeans.fit(blobs, RefKMeans.Config(k = 2, firstId = Some(0L)))
    assert(res.converged)
    val cs = res.centroids.map(_._2.toSeq)
    assert(cs(0) == Seq(1.0 / 3, 1.0 / 3))
    assert(cs(1) == Seq(31.0 / 3, 31.0 / 3))
    val asg = RefKMeans.assign(blobs, res.centroids)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(asg.toSeq == Seq(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1))
  }

  test("assignment argmin breaks ties on lowest cluster id (worker.go:297-301)") {
    // point equidistant from both centroids
    val cid = pts(0L -> Seq(5.0, 5.0))
      .select(VectorOps.nearestCid(col("features"),
        Seq(0 -> Array(0.0, 0.0), 1 -> Array(10.0, 10.0))).as("cid"))
      .head().getInt(0)
    assert(cid === 0)
  }

  test("empty cluster keeps previous centroid (master.go:579-600)") {
    // k=2 but all points identical → second cluster gets no members after
    // the first update and must carry its seed centroid forward.
    val degenerate = pts(0L -> Seq(1.0, 1.0), 1L -> Seq(1.0, 1.0), 2L -> Seq(1.0, 1.0))
    val res = RefKMeans.fit(degenerate, RefKMeans.Config(k = 2, firstId = Some(0L)))
    assert(res.centroids(0)._2.toSeq == Seq(1.0, 1.0))
    assert(res.centroids(1)._2.toSeq == Seq(1.0, 1.0)) // seed carried
    assert(res.converged)
  }

  test("iteration cap exit reports centroids one update ahead (master.go:222-228 quirk)") {
    // maxIter=1 with far-apart blobs: delta after one update >= threshold,
    // so the loop exits on the cap with UPDATED centroids.
    val res = RefKMeans.fit(blobs, RefKMeans.Config(k = 2, firstId = Some(0L), maxIter = 1))
    assert(!res.converged && res.iterations == 1)
    // after one Lloyd step from seeds (0,0) and (10,11):
    // cluster0 = {0,1,2} → (1/3, 1/3); cluster1 = {3,4,5} → (31/3, 31/3)
    assert(res.centroids(0)._2.toSeq == Seq(1.0 / 3, 1.0 / 3))
    assert(res.centroids(1)._2.toSeq == Seq(31.0 / 3, 31.0 / 3))
  }

  test("reshape splits dims into contiguous averaged buckets (plotter.go:114-137)") {
    val out = pts(0L -> Seq(1.0, 3.0, 5.0, 7.0))
      .select(VectorOps.reshape(col("features"), 4, 2).as("r"))
      .head().getSeq[Double](0)
    assert(out == Seq(2.0, 6.0))
  }

  test("D² k-means++ seeding: deterministic, distinct data points, never re-picks") {
    val cfg = RefKMeans.Config(k = 3, seed = 7L, ppSeeding = true)
    val a = RefKMeans.seedPP(blobs, cfg).map(_.toSeq)
    val b = RefKMeans.seedPP(blobs, cfg).map(_.toSeq)
    assert(a.toSeq == b.toSeq, "same seed must reproduce the same centers")
    val data = blobs.collect().map(_.getSeq[Double](1).toSeq).toSet
    assert(a.forall(data.contains), "every seed must be an input point")
    assert(a.distinct.length == 3, "D²=0 points must never be re-sampled")
    // a different seed changes at least the sampled (non-first) picks
    val c = RefKMeans.seedPP(blobs, cfg.copy(seed = 8L)).map(_.toSeq)
    assert(a.toSeq != c.toSeq || a.head == c.head)
  }

  test("fit with pp seeding converges on the 2-blob fixture") {
    val res = RefKMeans.fit(blobs, RefKMeans.Config(k = 2, seed = 7L, ppSeeding = true))
    assert(res.converged)
    val sizes = RefKMeans.assign(blobs, res.centroids)
      .groupBy("cluster_id").count().collect().map(_.getLong(1)).sorted
    assert(sizes.sum == 6L)
  }

  test("seeding agreement: maximin, D²++, and large-k path cover the same blobs " +
      "when maximin is unambiguous (k <= 8)") {
    // k tight, far-separated blobs (spread 1e-9, separation ~1e3): the
    // maximin argmax is unambiguous, and seedPP's exponential race
    // cannot flip — a covered-blob point's key is bounded by
    // spread²·N/ln-floor, ~20 orders below an uncovered blob's
    // sep²/ln(N). The property the Scaladoc crossover ladder claims:
    // on unambiguous data all seeding strategies agree on BLOB COVERAGE
    // (one seed per blob), differing only in which member they pick.
    for (k <- Seq(2, 4, 8)) {
      val perBlob = 5
      val rows = for {
        b <- 0 until k
        i <- 0 until perBlob
      } yield ((b * perBlob + i).toLong,
        Seq(b * 1000.0 + i * 1e-9, (b % 3) * 1000.0 + i * 1e-9))
      val df = pts(rows: _*)
      def blobOf(v: Seq[Double]): Int = math.round(v.head / 1000.0).toInt
      val maximin = RefKMeans.seed(df, RefKMeans.Config(k = k, firstId = Some(0L)))
      val dpp = RefKMeans.seedPP(df, RefKMeans.Config(k = k, firstId = Some(0L),
        seed = 7L, ppSeeding = true))
      assert(maximin.map(c => blobOf(c.toSeq)).toSet == (0 until k).toSet,
        s"k=$k: maximin must place exactly one seed per blob")
      assert(dpp.map(c => blobOf(c.toSeq)).toSet == (0 until k).toSet,
        s"k=$k: D² seeding must place exactly one seed per blob")
      // the maximin pick inside each blob is the unambiguous argmax
      // (lowest id on ties) — pinned exactly, not just by coverage
      val data = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      assert(maximin.forall(c => data.values.exists(_ == c.toSeq)),
        s"k=$k: every maximin seed must be an input point")
    }
  }

  test("concurrent fits on one session are deterministic and interference-free " +
      "(master.go:18-23,60-120)") {
    // the reference master serves concurrent clients from one process;
    // the Spark analogue is two fit jobs sharing one SparkSession on
    // parallel driver threads — results must be bit-identical to the
    // sequential runs (same plans, same partitioning, same fold order)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sf = "/root/testdata/sf0.001"
    val ptsA = graft.sources.Tables.points(spark, sf)
    val ptsB = graft.sources.Tables.lineitemPointsStd(spark, sf)
    val cfgA = RefKMeans.Config(k = 4, firstId = Some(0L))
    val cfgB = RefKMeans.Config(k = 3, seed = 42L, maxIter = 10)
    def key(r: RefKMeans.Result): (Seq[(Int, Seq[Double])], Int, Double, Boolean) =
      (r.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq, r.iterations,
        r.finalDelta, r.converged)
    val goldA = key(RefKMeans.fit(ptsA, cfgA))
    val goldB = key(RefKMeans.fit(ptsB, cfgB))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      for (_ <- 1 to 2) { // two rounds: concurrent churn, stable answers
        val fa = Future(key(RefKMeans.fit(ptsA, cfgA)))
        val fb = Future(key(RefKMeans.fit(ptsB, cfgB)))
        assert(Await.result(fa, 120.seconds) == goldA,
          "concurrent fit A diverged from its sequential result")
        assert(Await.result(fb, 120.seconds) == goldB,
          "concurrent fit B diverged from its sequential result")
      }
    } finally pool.shutdown()
  }

  /** The read-only fixture tables of TESTDATA.md. */
  private def fixture(sf: String) = s"/root/testdata/sf$sf"
  private val sf001 = fixture("0.001")
  private val sf01 = fixture("0.01")

  /** First 16 hex digits of a SHA-256 over the raw bits of `cs`, in order. */
  private def bits(cs: Seq[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    cs.foreach(_.foreach { x =>
      bb.clear(); bb.putLong(java.lang.Double.doubleToRawLongBits(x)); md.update(bb.array())
    })
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** A Result as "centroid bits, iterations, finalDelta bits, converged". */
  private def pin(r: RefKMeans.Result): String =
    s"${bits(r.centroids.sortBy(_._1).map(_._2).toSeq)} ${r.iterations} " +
      s"${java.lang.Double.doubleToRawLongBits(r.finalDelta).toHexString} ${r.converged}"

  test("fixture fits reproduce the DataFrame-plan fit bit-for-bit at 1 and 4 partitions") {
    // Recorded from the per-round DataFrame-plan implementation (one
    // groupBy job per Lloyd round, one top-1 job per seeding round):
    // centroid bits, iterations, finalDelta bits, converged, and the bits
    // of the seeds that `seed` / `seedPP` return for the same config.
    val fitCfg = RefKMeans.Config(k = 8, firstId = Some(0L))
    val ppCfg = RefKMeans.Config(k = 8, seed = 42L, ppSeeding = true)
    val hashCfg = RefKMeans.Config(k = 8, seed = 7L)
    val liCfg = FitFinal.CfgLineitem
    val tsCfg = graft.operators.TimeSeries.ClusterCfg
    def emb(sf: String) = Tables.points(spark, sf)
    def li(sf: String) = Tables.lineitemPointsStd(spark, sf)
    def ts(sf: String) = graft.operators.TimeSeries.roundedPoints(spark, sf)
    val cases: Seq[(String, () => DataFrame, RefKMeans.Config, String, String)] = Seq(
      ("emb sf0.001", () => emb(sf001), fitCfg,
        "29fd7d099de298c7 11 3f6e9c9b18dc2901 true", "f2935e161cb60a6b"),
      ("emb sf0.001 x4", () => emb(sf001).repartition(4), fitCfg,
        "29fd7d099de298c7 11 3f6e9c9b18dc2901 true", "f2935e161cb60a6b"),
      ("emb sf0.01", () => emb(sf01), fitCfg,
        "313fb533a4933960 9 3f81a5e5c6ad17b9 true", "7c67604f9f61b714"),
      ("emb sf0.01 x4", () => emb(sf01).repartition(4), fitCfg,
        "313fb533a4933960 9 3f81a5e5c6ad17b9 true", "7c67604f9f61b714"),
      ("emb sf0.1", () => emb(fixture("0.1")), fitCfg,
        "fa18bb189d90f8d1 14 3f836681c08a837e true", "373fe42d56d27fd8"),
      ("emb sf0.1 x4", () => emb(fixture("0.1")).repartition(4), fitCfg,
        "fa18bb189d90f8d1 14 3f836681c08a837e true", "373fe42d56d27fd8"),
      ("lineitem sf0.001", () => li(sf001), liCfg,
        "14ade14af8549d05 20 3f9e7755b064621b false", "38abedd4d98a8081"),
      ("lineitem sf0.01", () => li(sf01), liCfg,
        "6c51a0cfca5f0122 20 3f895e136ffbcb7b false", "c90b9241ca4809da"),
      // row order changes across partitions, and so do the sums' bits
      ("lineitem sf0.01 x4", () => li(sf01).repartition(4), liCfg,
        "cd9ca63b738403ca 20 3f895e136ffbca28 false", "c90b9241ca4809da"),
      ("pp sf0.01", () => emb(sf01), ppCfg,
        "68355429fcade2f2 9 3f6ce5d7700a589d true", "404b754bc895f10f"),
      ("pp sf0.01 x4", () => emb(sf01).repartition(4), ppCfg,
        "68355429fcade2f2 9 3f6ce5d7700a589d true", "404b754bc895f10f"),
      ("hashed first pick sf0.01", () => emb(sf01), hashCfg,
        "6d56a5d14c3c1129 8 3f7f4c7502181e92 true", "724aa2a17dd83abf"),
      ("hashed first pick sf0.01 x4", () => emb(sf01).repartition(4), hashCfg,
        "6d56a5d14c3c1129 8 3f7f4c7502181e92 true", "724aa2a17dd83abf"),
      ("ts sf0.001", () => ts(sf001), tsCfg,
        "ac9cb9d244bc4fdb 22 0 true", "487f493cfaa7d9b0"),
      ("ts sf0.01", () => ts(sf01), tsCfg,
        "d3864a484d0cb57d 25 3fa8030714ed60a0 false", "8ae6dd0e45645e31"))
    for ((name, df, cfg, fitPin, seedPin) <- cases) {
      val p = df()
      assert(pin(RefKMeans.fit(p, cfg)) == fitPin, s"$name: fit result")
      val seeds = if (cfg.ppSeeding) RefKMeans.seedPP(p, cfg) else RefKMeans.seed(p, cfg)
      assert(bits(seeds.toSeq) == seedPin, s"$name: seeds")
    }
  }

  test("block-side hash and D² race keys equal the Spark expressions over the sf0.001 ids") {
    val p = Tables.points(spark, sf001)
    for (seed <- Seq(7L, 42L); round <- 1 to 3) {
      // the expressions the DataFrame-plan seeders ordered by
      val u = (pmod(xxhash64(col("id"), lit(seed), lit(round.toLong)), lit(Long.MaxValue)) +
        lit(1L)).cast("double") / lit(Long.MaxValue.toDouble + 1.0)
      val d2 = col("id").cast("double") * lit(0.37) + lit(0.5)
      val rows = p.select(col("id"), xxhash64(col("id"), lit(seed)),
        (d2 / greatest(-log(u), lit(1e-300))).as("key")).collect()
      assert(rows.length > 100)
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(RefKMeans.idHash(id, seed) == r.getLong(1), s"hash of id $id")
        val key = RefKMeans.raceKey(id.toDouble * 0.37 + 0.5, id, seed, round)
        assert(java.lang.Double.doubleToRawLongBits(key) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"race key of id $id, seed $seed, round $round")
      }
    }
  }

  test("degenerate inputs: k > n and all-duplicate points keep the recorded output") {
    val dup = pts(0L -> Seq(1.0, 1.0), 1L -> Seq(1.0, 1.0), 2L -> Seq(1.0, 1.0))
    val small = pts(3L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(5.0, 0.0))
    def cents(r: RefKMeans.Result) = r.centroids.map(_._2.toSeq).toSeq
    val a = RefKMeans.fit(dup, RefKMeans.Config(k = 2, firstId = Some(0L)))
    assert(pin(a) == "ef8f88e97b8447fa 1 0 true")
    assert(cents(a) == Seq.fill(2)(Seq(1.0, 1.0)))
    val b = RefKMeans.fit(dup, RefKMeans.Config(k = 4))
    assert(pin(b) == "c290c2d5369c1a09 1 0 true")
    // k = 5 > n = 3: once every point is a seed, the zero-distance picks
    // go to the lowest id; the surplus clusters stay empty
    val want = Seq(Seq(0.0, 1.0), Seq(5.0, 0.0), Seq(0.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 1.0))
    for (p <- Seq(small, small.coalesce(1))) {
      val c = RefKMeans.fit(p, RefKMeans.Config(k = 5, firstId = Some(1L)))
      assert(pin(c) == "c8e85c101d9e37ad 1 0 true")
      assert(cents(c) == want)
    }
    val d = RefKMeans.fit(small, RefKMeans.Config(k = 5, seed = 3L, ppSeeding = true))
    assert(pin(d) == "aace80468c9e6c96 1 0 true")
    assert(cents(d) ==
      Seq(Seq(0.0, 0.0), Seq(5.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 1.0), Seq(0.0, 1.0)))
  }

  test("degenerate inputs: empty table, missing firstId and non-finite coordinates are rejected") {
    import spark.implicits._
    def rejects(p: DataFrame, cfg: RefKMeans.Config, words: String*): Unit = {
      val e = intercept[IllegalArgumentException](RefKMeans.fit(p, cfg))
      words.foreach(w => assert(e.getMessage.contains(w), s"'${e.getMessage}' should name $w"))
    }
    // no partitions, one empty partition, four empty partitions
    val none = Tables.points(spark, sf001).filter(col("id") < 0L)
    val cfg = RefKMeans.Config(k = 2, firstId = Some(0L))
    for (p <- Seq(Seq.empty[(Long, Seq[Double])].toDF("id", "features"), none,
        none.repartition(4))) {
      rejects(p, cfg, "no points")
      rejects(p, RefKMeans.Config(k = 2), "no points")
      rejects(p, cfg.copy(initialCentroids = Some(Array(Array(0.0), Array(1.0)))), "no points")
    }
    rejects(blobs, cfg.copy(firstId = Some(99L)), "firstId 99")
    rejects(blobs.coalesce(1), cfg.copy(firstId = Some(99L)), "firstId 99")
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val p = pts(0L -> Seq(0.0, 0.0), 7L -> Seq(bad, 1.0), 2L -> Seq(5.0, 0.0))
      for (q <- Seq(p, p.coalesce(1))) {
        rejects(q, cfg, "point 7", "non-finite")
        rejects(q, cfg.copy(ppSeeding = true), "point 7", "non-finite")
      }
    }
    rejects(pts(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0)).coalesce(1), cfg, "point 1", "coordinates")
    rejects(blobs, cfg.copy(initialCentroids = Some(Array(Array(0.0), Array(1.0)))),
      "coordinates")
  }

  test("both schedulers return identical results on the same one-partition blocks") {
    val p = Tables.points(spark, sf01)
    for (cfg <- Seq(RefKMeans.Config(k = 8, firstId = Some(0L)),
        RefKMeans.Config(k = 8, seed = 42L, ppSeeding = true),
        RefKMeans.Config(k = 6, seed = 7L, maxIter = 3))) {
      val blocks = RefKMeans.blocksOf(p)
      assert(blocks.getNumPartitions == 1)
      val inTask =
        RefKMeans.schedule(RefKMeans.blocksOf(p), oneTask = true)(RefKMeans.fitOn(_, cfg))
      val perRound = RefKMeans.schedule(blocks, oneTask = false)(RefKMeans.fitOn(_, cfg))
      assert(pin(inTask) == pin(perRound), s"$cfg")
    }
  }

  test("a one-partition fit is one Spark job; a 4-partition fit is one job per round") {
    val p1 = Tables.points(spark, sf001)
    assert(p1.queryExecution.toRdd.getNumPartitions == 1)
    val cfg = RefKMeans.Config(k = 4, firstId = Some(0L))
    val (r1, jobs1) = jobsOf(spark)(RefKMeans.fit(p1, cfg))
    assert(jobs1 == 1, s"one-partition fit ran $jobs1 jobs")
    // the same rows as a 4-slice local relation: 4 partitions, no shuffle
    val p4 = spark.createDataFrame(p1.collect().toSeq.asJava, p1.schema)
    assert(p4.queryExecution.toRdd.getNumPartitions == 4)
    val (r4, jobs4) = jobsOf(spark)(RefKMeans.fit(p4, cfg))
    // the first pick, one candidates round that certifies the other
    // k − 1 = 3 picks, then one job per Lloyd round
    assert(jobs4 == 2 + r4.iterations,
      s"4-partition fit ran $jobs4 jobs for ${r4.iterations} Lloyd rounds")
    assert(pin(r4) == pin(r1))
  }

  /** `rows` as a `parts`-partition table, split in order. */
  private def sliced(rows: Seq[(Long, Array[Double])], parts: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, x) => Row(id, x.toSeq) }, parts), schema)
  }

  /** Brute-force seeding over `p`'s collected partitions: the first pick
    * is the first row (partition, then scan order) of least
    * (`firstKey`, id); each later pick is the row of greatest
    * `key(id, squared min distance to the picks, picks so far)`, ties to
    * the lowest id, then the earliest partition, then scan order. */
  private def bruteSeeds(p: DataFrame, k: Int, firstKey: Long => Long)(
      key: (Long, Double, Int) => Double): Seq[Seq[Double]] = {
    val rows = p.rdd.glom().collect().toSeq.flatMap(_.map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray)))
    def sqDist(x: Array[Double], c: Array[Double]): Double =
      x.indices.foldLeft(0.0) { (s, i) => s + (x(i) - c(i)) * (x(i) - c(i)) }
    val cents = scala.collection.mutable.ArrayBuffer(rows.minBy { case (id, _) =>
      (firstKey(id), id) }._2)
    while (cents.length < k) {
      var best: (Long, Array[Double]) = null
      var bestKey = 0.0
      rows.foreach { case (id, x) =>
        val kk = key(id, cents.map(sqDist(x, _)).reduce((a, b) => math.min(a, b)), cents.length)
        if (best == null || kk > bestKey || kk == bestKey && id < best._1) {
          best = (id, x); bestKey = kk
        }
      }
      cents += best._2
    }
    cents.map(_.toSeq).toSeq
  }

  test("certified maximin picks equal a brute-force maximin at 1, 4 and 7 partitions") {
    val rnd = new scala.util.Random(11)
    val gauss = (0 until 300).map(i => (i.toLong, Array.fill(3)(rnd.nextGaussian())))
    // a 6×6 lattice, many rows per point: equal keys everywhere
    val lattice = (0 until 200).map(i => Array((i % 6).toDouble, (i / 6 % 6).toDouble))
    val ties = lattice.zipWithIndex.map { case (x, i) => ((i * 37 % 200).toLong, x) }
    val dupIds = lattice.zipWithIndex.map { case (x, i) => ((i % 7).toLong, x) }
    val small = Seq(3L -> Array(0.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(5.0, 0.0),
      1L -> Array(4.0, 4.0), 9L -> Array(-2.0, 1.0))
    val same = (0 until 10).map(i => ((9 - i).toLong, Array(1.0, 1.0)))
    // three points, each +∞ from every other point
    val far = gauss.take(100).map { case (id, x) => (id, x.take(2)) } ++
      Seq(500L -> Array(1e300, 0.0), 501L -> Array(0.0, 1e300), 502L -> Array(-1e300, 0.0))
    val cases: Seq[(String, Seq[(Long, Array[Double])], RefKMeans.Config)] = Seq(
      ("gaussian k=16", gauss, RefKMeans.Config(k = 16, firstId = Some(5L))),
      ("gaussian k=80", gauss, RefKMeans.Config(k = 80, firstId = Some(5L))),
      ("gaussian hashed first pick", gauss, RefKMeans.Config(k = 12, seed = 7L)),
      ("equal keys", ties, RefKMeans.Config(k = 12, firstId = Some(74L))),
      ("duplicate ids", dupIds, RefKMeans.Config(k = 40, firstId = Some(3L))),
      ("k > n", small, RefKMeans.Config(k = 8, firstId = Some(1L))),
      ("all duplicates", same, RefKMeans.Config(k = 4, seed = 3L)),
      ("+inf distances", far, RefKMeans.Config(k = 6, firstId = Some(0L))))
    for ((name, rows, cfg) <- cases; parts <- Seq(1, 4, 7)) {
      val p = sliced(rows, parts)
      val firstKey: Long => Long = id => cfg.firstId match {
        case Some(f) => if (id == f) 0L else 1L
        case None => RefKMeans.idHash(id, cfg.seed)
      }
      val maximin = bruteSeeds(p, cfg.k, firstKey)((_, d2, _) => math.sqrt(d2))
      assert(RefKMeans.seed(p, cfg).map(_.toSeq).toSeq == maximin, s"$name x$parts: seed")
      val race = bruteSeeds(p, cfg.k, firstKey)((id, d2, round) =>
        RefKMeans.raceKey(d2, id, cfg.seed, round))
      assert(RefKMeans.seedPP(p, cfg).map(_.toSeq).toSeq == race, s"$name x$parts: seedPP")
    }
  }

  test("a candidate that only ties the best other row is not certified, and a +inf rest " +
      "certifies nothing") {
    val r = RefKMeans.Farthest(Array(Array(0.0, 0.0)))
    def block(rows: (Long, Array[Double])*) =
      new RefKMeans.Block(rows.map(_._1).toArray, rows.map(_._2).toArray)
    // one candidate per block: id 7 (key 4) ties rest = 4, the key of id 1,
    // which is no candidate and goes first on the lower id
    val a = RefKMeans.cands(block(9L -> Array(10.0, 0.0), 1L -> Array(0.0, 4.0)), r, 1)
    val b = RefKMeans.cands(block(7L -> Array(0.0, -4.0)), r, 1)
    assert(a.ids.toSeq == Seq(9L) && a.rest == 4.0 && b.rest == Double.NegativeInfinity)
    assert(RefKMeans.picks(Seq(a, b), r, 3).map(_.toSeq) == Seq(Seq(10.0, 0.0)))
    val far = block(0L -> Array(0.0, 0.0), 1L -> Array(1e300, 0.0), 2L -> Array(-1e300, 0.0),
      3L -> Array(0.0, 1.0))
    val one = RefKMeans.cands(far, r, 1)
    assert(one.ids.toSeq == Seq(1L) && one.rest == Double.PositiveInfinity)
    assert(RefKMeans.picks(Seq(one), r, 3).map(_.toSeq) == Seq(Seq(1e300, 0.0)))
    // with both far rows as candidates the second is +∞ from the first
    // pick too, so it certifies against rest = 1; the near row never does
    val two = RefKMeans.cands(far, r, 2)
    assert(two.ids.toSeq == Seq(1L, 2L) && two.rest == 1.0)
    assert(RefKMeans.picks(Seq(two), r, 3).map(_.toSeq) ==
      Seq(Seq(1e300, 0.0), Seq(-1e300, 0.0)))
  }

  test("maximin seeding of one far outlier per blob over 4 partitions runs at most 3 jobs") {
    // the benchmark's large-fit shape at small n: 8 blobs at 10·e_i in
    // d = 8 (σ = 2.2), and each blob's outlier at 3× its centre
    val rnd = new scala.util.Random(3)
    val (k, d) = (8, 8)
    def centre(b: Int, scale: Double) = Array.tabulate(d)(j => if (j == b) scale else 0.0)
    val rows = (0 until 400).map { i =>
      (i.toLong, centre(i % k, 10.0).map(_ + 2.2 * rnd.nextGaussian()))
    } ++ (0 until k).map(b => ((400 + b).toLong, centre(b, 30.0)))
    val p = sliced(rows, 4)
    val cfg = RefKMeans.Config(k = k, firstId = Some(0L))
    val (seeds, jobs) = jobsOf(spark)(RefKMeans.seed(p, cfg))
    assert(jobs <= 3, s"seeding ran $jobs jobs")
    assert(seeds.map(_.toSeq).toSeq ==
      bruteSeeds(p, k, id => if (id == 0L) 0L else 1L)((_, d2, _) => math.sqrt(d2)))
  }

  test("kmeans_fit_lineitem and ts_cluster at sf0.001 run one job once their inputs are built") {
    // both read one-partition inputs, so the whole fit runs in one task
    for ((name, want) <- Seq("kmeans_fit_lineitem" -> 1, "ts_cluster" -> 1)) {
      val q = graft.SparkEntry.queries(name)
      q(spark, sf001).df.collect() // builds any scratch table the query reads
      val (_, jobs) = jobsOf(spark)(q(spark, sf001).df.collect())
      assert(jobs == want, s"$name ran $jobs jobs")
    }
  }

  test("fitSizes equals the assign + groupBy table: converged, cap exit, k > n, 1 and 4 partitions") {
    // the table fitSizes built before it read the fit's own rounds
    def grouped(p: DataFrame, cfg: RefKMeans.Config): Seq[(Int, Long)] =
      RefKMeans.assign(p, RefKMeans.fit(p, cfg).centroids)
        .groupBy("cluster_id").agg(count(lit(1)).as("n")).orderBy("cluster_id")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    def sizes(p: DataFrame, cfg: RefKMeans.Config): Seq[(Int, Long)] =
      RefKMeans.fitSizes(spark, p, cfg).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val emb = Tables.points(spark, sf001)
    val emb4 = spark.createDataFrame(emb.collect().toSeq.asJava, emb.schema)
    val li = Tables.lineitemPointsStd(spark, sf001)
    val small = pts(3L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(5.0, 0.0))
    // (1e300, 0) is +∞ from the one centroid, so it joins no cluster
    val far = pts(0L -> Seq(0.0, 0.0), 1L -> Seq(1e300, 0.0), 2L -> Seq(0.0, 1.0))
    val fitCfg = RefKMeans.Config(k = 8, firstId = Some(0L))
    val cases: Seq[(String, DataFrame, RefKMeans.Config, Boolean)] = Seq(
      ("emb sf0.001", emb, fitCfg, true),
      ("emb sf0.001 x4", emb4, fitCfg, true),
      ("lineitem sf0.001", li, FitFinal.CfgLineitem, false),
      ("lineitem sf0.01 x4", Tables.lineitemPointsStd(spark, sf01).repartition(4),
        FitFinal.CfgLineitem, false),
      ("ts sf0.01", graft.operators.TimeSeries.roundedPoints(spark, sf01),
        graft.operators.TimeSeries.ClusterCfg, false),
      ("k > n", small, RefKMeans.Config(k = 5, firstId = Some(1L)), true),
      ("k > n x1", small.coalesce(1), RefKMeans.Config(k = 5, firstId = Some(1L)), true),
      ("unassigned point", far.coalesce(1), RefKMeans.Config(k = 1, firstId = Some(0L)), true))
    for ((name, p, cfg, converges) <- cases) {
      assert(RefKMeans.fit(p, cfg).converged == converges, s"$name: exit path")
      val want = grouped(p, cfg)
      assert(sizes(p, cfg) == want, name)
      assert(want.map(_._2).sum == p.count(), s"$name: every point counted once")
    }
    assert(emb4.queryExecution.toRdd.getNumPartitions == 4)
    assert(sizes(small, RefKMeans.Config(k = 5, firstId = Some(1L))).length == 3,
      "empty clusters are absent")
    assert(sizes(far.coalesce(1), RefKMeans.Config(k = 1, firstId = Some(0L))) ==
      Seq((-1, 1L), (0, 2L)))
  }

  test("a one-partition fitSizes, collected, is one Spark job") {
    val p = Tables.points(spark, sf001)
    val cfg = RefKMeans.Config(k = 4, firstId = Some(0L))
    val (_, jobs) = jobsOf(spark)(RefKMeans.fitSizes(spark, p, cfg).collect())
    assert(jobs == 1, s"fitSizes ran $jobs jobs")
  }

  /** The first `k` rows of `p` as centroids 0..k−1. */
  private def firstCents(p: DataFrame, k: Int): Array[(Int, Array[Double])] =
    p.filter(col("id") < k).orderBy("id").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }

  /** The client's size summary over [[RefKMeans.assign]]. */
  private def summary(m: DataFrame): Seq[(Int, Long)] =
    m.groupBy("cluster_id").agg(count(lit(1)).as("n")).orderBy("cluster_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  test("the size summary over a one-partition membership is 1 job, over 4 partitions 4, " +
      "with the rows of the plain membership") {
    val p1 = Tables.points(spark, sf001)
    val p4 = spark.createDataFrame(p1.collect().toSeq.asJava, p1.schema)
    val cents = firstCents(p1, 8)
    for ((p, want) <- Seq(p1 -> 1, p4 -> 4)) {
      val plain = p.select(col("id"),
        VectorOps.nearestCidK(col("features"), cents.map(_._2)).as("cluster_id"))
      val (got, jobs) = jobsOf(spark)(summary(RefKMeans.assign(p, cents)))
      assert(jobs == want, s"the summary ran $jobs jobs, want $want")
      assert(got == summary(plain))
      assert(RefKMeans.assign(p, cents).collect().toSeq == plain.collect().toSeq)
    }
  }

  test("the layout check runs no Spark job: a table, a scratch read, a cache, an exchange") {
    val li = Tables.lineitemPointsStd(spark, sf001) // built here, read back below
    val p = Tables.points(spark, sf001)
    val built = p.filter(col("id") >= 0L).persist(StorageLevel.MEMORY_AND_DISK)
    val unbuilt = p.repartition(2).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      built.count()
      val cases = Seq(
        ("Tables.points", () => Tables.points(spark, sf001), true),
        ("scratch read", () => Tables.lineitemPointsStd(spark, sf001), true),
        ("coalesced", () => p.coalesce(1), true),
        ("built cache", () => built, true),
        ("local relation, 4 slices", () => spark.createDataFrame(
          li.limit(8).collect().toSeq.asJava, li.schema), false),
        ("hash exchange", () => p.repartition(4), false),
        ("aggregate", () => p.groupBy("id").agg(first("features").as("features")), false),
        ("cache of an exchange, unbuilt", () => unbuilt, false))
      for ((name, df, want) <- cases) {
        val d = df()
        val (one, jobs) = jobsOf(spark)(RefKMeans.onePartition(d))
        assert(jobs == 0, s"$name: the check ran $jobs jobs")
        assert(one == want, name)
      }
    } finally {
      built.unpersist(blocking = true)
      unbuilt.unpersist(blocking = true)
    }
  }

  test("a sort-merge join of a one-partition membership with a 4-partition relation " +
      "hash-shuffles both sides into the shuffle partitions") {
    val p1 = Tables.points(spark, sf001)
    val m = RefKMeans.assign(p1, firstCents(p1, 4))
    val other = spark.createDataFrame(p1.collect().toSeq.asJava, p1.schema)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val j = m.join(other, "id")
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case q => q
      }
      assert(plan.collect { case s: SortMergeJoinExec => s }.length == 1, plan.treeString)
      val parts = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(parts.length == 2 && parts.forall {
        case h: HashPartitioning => h.numPartitions == n
        case _ => false
      }, plan.treeString)
      assert(j.count() == p1.count())
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
