package graft.kmeans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobs.jobsOf
import graft.functions.VectorOps.nearestCidK
import graft.sources.Tables
import graft.LocalSpark

/** Invariant tests for the evaluation-step queries over sf0.001 (the
  * exact values are pinned by the DuckDB oracle at sf0.01; these pin the
  * mathematical shape). */
class KMeansStepsSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  test("elbow: WCSS is non-increasing in k and consistent with wcss()") {
    val curve = KMeansSteps.elbow(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(curve.keySet == (1L to KMeansSteps.K).toSet)
    (2L to KMeansSteps.K).foreach { k =>
      assert(curve(k) <= curve(k - 1) + 1e-6,
        s"WCSS must not increase when a centroid is added (k=$k)")
    }
    // the k=K point of the curve equals the per-cluster wcss() total
    val total = KMeansSteps.wcss(spark, sf).collect().map(_.getDouble(1)).sum
    assert(math.abs(curve(KMeansSteps.K.toLong) - total) < 1e-4)
  }

  test("fitSteps: two Lloyd rounds, complete grid, sizes sum to N, loop progresses") {
    val rows = KMeansSteps.fitSteps(spark, sf, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val k = KMeansSteps.K
    val d = 64
    assert(rows.length == 2 * k * d, "one row per (iter, cluster, dim)")
    // the (iter, cid, dim) grid is complete — empty clusters carry, never vanish
    assert(rows.map(t => (t._1, t._2, t._3)).toSet ==
      (for (it <- 1L to 2L; c <- 0L until k; dm <- 0L until d) yield (it, c, dm)).toSet)
    val n = Tables_pointCount
    Seq(1L, 2L).foreach { it =>
      val sizes = rows.filter(t => t._1 == it && t._3 == 0L).map(_._4)
      assert(sizes.sum == n, s"iter $it cluster sizes must sum to N")
    }
    // iteration 2 must actually move at least one centroid coordinate
    val m1 = rows.filter(_._1 == 1L).map(t => (t._2, t._3) -> t._5).toMap
    val m2 = rows.filter(_._1 == 2L).map(t => (t._2, t._3) -> t._5).toMap
    assert(m1 != m2, "second Lloyd round must recenter")
    // deterministic: a second evaluation is bit-identical
    val again = KMeansSteps.fitSteps(spark, sf, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == again.toSeq)
  }

  /** (cluster_id, dim) → (n, raw bits of mean) of long recenter rows. */
  private def bitsOf(rows: Seq[(Long, Long, Long, Double)]): Map[(Long, Long), (Long, Long)] =
    rows.map { case (c, d, n, m) => (c, d) -> (n, java.lang.Double.doubleToRawLongBits(m)) }.toMap

  test("round 1 of fitStepsOf equals recenterLong's rows bit-for-bit at scale 6 and micro-unit scale 0") {
    val emb = Tables.points(spark, sf)
    assert(emb.queryExecution.toRdd.getNumPartitions == 1)
    val micro = emb.select(col("id"),
      transform(col("features"), x => round(round(x, 6) * 1e6, 0)).as("features"))
    def seedsOf(p: DataFrame) = p.filter(col("id") < KMeansSteps.K).orderBy("id").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }.toSeq
    // the standalone query itself, on the one-partition table
    val recenter = KMeansSteps.recenterLong(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2), r.getDouble(3))).toSeq
    val cases = Seq(("emb", emb, 6), ("emb x4", emb.repartition(4), 6),
      ("micro", micro, 0), ("micro x4", micro.repartition(4), 0))
    for ((name, p, scale) <- cases) {
      val seeds = seedsOf(p)
      val cents = seeds.sortBy(_._1).map(_._2).toArray
      val want = KMeansSteps.recenterAggLong(
          p.select(nearestCidK(col("features"), cents).as("cluster_id"), col("features")),
          cents.head.length, scale).collect()
        .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2), r.getDouble(3))).toSeq
      if (name == "emb") assert(want == recenter, "recenterLong's own rows")
      val got = KMeansSteps.fitStepsOf(spark, p, seeds, iters = 1, scale = scale).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
      val (w, g) = (bitsOf(want), bitsOf(got))
      assert(w.forall { case (key, v) => g(key) == v }, s"$name: recentered rows")
      assert(got.filterNot(t => w.contains((t._1, t._2))).forall(_._3 == 0L),
        s"$name: only empty clusters carry")
      assert(want.map(_._3).sum > 0 && got.length == KMeansSteps.K * cents.head.length, name)
    }
  }

  test("fitTrajectory: a fixed job count on one partition, at most one more job per round on four") {
    val (short, jobsShort) = jobsOf(spark)(KMeansSteps.fitTrajectory(spark, sf, threshold = 0.1))
    val (long, jobsLong) = jobsOf(spark)(KMeansSteps.fitTrajectory(spark, sf))
    val (nShort, nLong) = (short.df.count(), long.df.count())
    assert(nShort < nLong, s"the thresholds must give different round counts ($nShort, $nLong)")
    assert(jobsShort == jobsLong, s"$nShort rounds ran $jobsShort jobs, $nLong rounds $jobsLong")
    // the same rows as a 4-slice local relation: 4 partitions, no shuffle
    val p1 = Tables.points(spark, sf)
    val p4 = spark.createDataFrame(p1.collect().toSeq.asJava, p1.schema)
    assert(p4.queryExecution.toRdd.getNumPartitions == 4)
    val cs0 = KMeansSteps.centroids(spark, sf)
    val cents = cs0.sortBy(_._1).map(_._2).toArray
    def run(p: DataFrame) = KMeansSteps.trajectoryOf(spark, p, _ => cents, threshold = 0.01,
      cap = 60, scale = 6, requireConverge = true, "trajectory")(_ => "")
    val (t1, jobs1) = jobsOf(spark)(run(p1))
    val (t4, jobs4) = jobsOf(spark)(run(p4))
    assert(jobs1 == 1, s"one-partition loop ran $jobs1 jobs")
    assert(t4.df.count() == nLong)
    assert(jobs4 <= jobs1 + nLong, s"4-partition loop ran $jobs4 jobs for $nLong rounds")
    assert(t4.df.collect().toSeq == t1.df.collect().toSeq)
    assert(t1.df.collect().toSeq == long.df.collect().toSeq)
  }

  private lazy val Tables_pointCount: Long =
    graft.sources.Tables.points(spark, sf).count()

  test("daviesBouldin: one positive ratio per cluster") {
    val rows = KMeansSteps.daviesBouldin(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.map(_._1).toSeq == (0L until KMeansSteps.K).toSeq)
    assert(rows.forall(_._2 > 0))
  }

  /** Spark jobs per collect of the step, metric and end-state queries
    * over the one-partition sf0.001 points, each measured after a first
    * call built its inputs and memoized fits. */
  private val jobLedger = Seq(
    "kmeans_min_dist" -> 2, "kmeans_farthest" -> 2, "kmeans_assign" -> 2,
    "kmeans_sizes" -> 2, "kmeans_recenter" -> 2, "kmeans_delta" -> 3,
    "kmeans_reshape" -> 1, "kmeans_silhouette" -> 2, "kmeans_wcss" -> 2,
    "kmeans_dbi" -> 5, "kmeans_elbow" -> 2, "kmeans_scatter_data" -> 5,
    "kmeans_fit_final" -> 1, "kmeans_fit_assign" -> 1)

  test("job ledger: the k-means step, metric and end-state queries over one partition") {
    assert(Tables.points(spark, sf).queryExecution.toRdd.getNumPartitions == 1)
    val runs = jobLedger.map { case (name, _) =>
      val q = graft.SparkEntry.queries(name)
      q(spark, sf).df.collect()
      name -> (1 to 3).map(_ => jobsOf(spark)(q(spark, sf).df.collect())._2)
    }
    for (((name, want), (_, got)) <- jobLedger.zip(runs))
      assert(got.forall(_ == want), s"$name ran $got jobs, pinned $want")
  }
}
