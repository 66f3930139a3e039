package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Property-based invariants (SURVEY.md §5.3) checked against a plain
  * Scala brute-force model of the reference's kernels
  * (`/root/reference/utils/utils.go:46-54`,
  * `main/worker/worker.go:271-304`). Deterministic seeded ScalaCheck
  * sampling (the scalatest-scalacheck bridge isn't on the offline
  * classpath). */
class KMeansPropertySpec extends AnyFunSuite with LocalSpark {

  /** n deterministic samples from a generator. */
  def forAll[A](g: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  val genPoints: Gen[List[Seq[Double]]] = for {
    n <- Gen.choose(4, 20)
    d <- Gen.choose(1, 4)
    pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-50.0, 50.0)).map(_.toSeq))
  } yield pts

  private def df(pts: List[Seq[Double]]): DataFrame = {
    import spark.implicits._
    pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "features")
  }

  private def sqd(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("assignment equals brute-force argmin with first-index tie-break") {
    forAll(genPoints) { (pts: List[Seq[Double]]) =>
      val k = math.min(3, pts.length)
      val cents = pts.take(k).zipWithIndex.map { case (c, i) => (i, c.toArray) }
      val got = RefKMeans.assign(df(pts), cents.toArray)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      pts.zipWithIndex.foreach { case (p, i) =>
        val want = cents.map { case (cid, c) => (sqd(p, c.toSeq), cid) }.min._2
        assert(got(i.toLong) == want, s"point $i")
      }
    }
  }

  test("every point assigned exactly once; cluster sizes sum to N") {
    forAll(genPoints) { (pts: List[Seq[Double]]) =>
      val k = math.min(3, pts.length)
      val res = RefKMeans.fit(df(pts), RefKMeans.Config(k = k, firstId = Some(0L)))
      val asg = RefKMeans.assign(df(pts), res.centroids).collect()
      assert(asg.length == pts.length)
      assert(asg.map(_.getLong(0)).distinct.length == pts.length)
      assert(asg.map(_.getInt(1)).forall(c => c >= 0 && c < k))
    }
  }

  test("maximin seeding picks the point with maximal min-distance each round") {
    forAll(genPoints) { (pts: List[Seq[Double]]) =>
      val k = math.min(3, pts.length)
      val got = RefKMeans.seed(df(pts), RefKMeans.Config(k = k, firstId = Some(0L)))
      // brute-force maximin from point 0 with lowest-index tie-break
      val cents = scala.collection.mutable.ArrayBuffer(pts.head)
      while (cents.length < k) {
        val far = pts.zipWithIndex
          .map { case (p, i) => (cents.map(c => sqd(p, c)).min, i) }
          .reduceLeft((a, b) => if (b._1 > a._1) b else a) // strict > keeps first max
        cents += pts(far._2)
      }
      assert(got.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    }
  }

  test("fit is deterministic given a fixed seed") {
    forAll(genPoints) { (pts: List[Seq[Double]]) =>
      val k = math.min(2, pts.length)
      val a = RefKMeans.fit(df(pts), RefKMeans.Config(k = k, seed = 7L))
      val b = RefKMeans.fit(df(pts), RefKMeans.Config(k = k, seed = 7L))
      assert(a.centroids.map(_._2.toSeq).toSeq == b.centroids.map(_._2.toSeq).toSeq)
      assert(a.iterations == b.iterations)
    }
  }

  test("D² k-means++ seeding: k distinct input points, deterministic, for any dataset") {
    forAll(genPoints) { (pts: List[Seq[Double]]) =>
      val k = math.min(3, pts.length)
      val cfg = RefKMeans.Config(k = k, seed = 11L, ppSeeding = true)
      val a = RefKMeans.seedPP(df(pts), cfg).map(_.toSeq)
      assert(a.length == k)
      val data = pts.toSet
      assert(a.forall(data.contains), "every pp seed must be an input point")
      assert(a.distinct.length == k, "D²=0 forbids re-picking a chosen value")
      val b = RefKMeans.seedPP(df(pts), cfg).map(_.toSeq)
      assert(a.toSeq == b.toSeq)
    }
  }

  test("singleton cluster centroid equals its point") {
    import spark.implicits._
    // two coincident points + one far singleton, k=2
    val pts = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(100.0, 100.0)))
      .toDF("id", "features")
    val res = RefKMeans.fit(pts, RefKMeans.Config(k = 2, firstId = Some(0L)))
    assert(res.centroids(1)._2.toSeq == Seq(100.0, 100.0))
    assert(res.centroids(0)._2.toSeq == Seq(0.0, 0.0))
  }
}
