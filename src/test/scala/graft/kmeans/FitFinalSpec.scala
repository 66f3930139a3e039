package graft.kmeans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps._
import graft.sources.Tables

/** The converged fit really is converged: replaying one Lloyd round from
  * the reported centroids must move them by less than the threshold.
  * This is the invariant the round-4 loop silently broke — a single
  * Dataset reused across iterations had its shuffle-map stage skipped by
  * the scheduler, so every "fit" was one real round reporting delta 0 —
  * and the invariant a reused-stage regression would break again. */
class FitFinalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("reported state is a true stop-rule fixpoint; the loop iterates for real") {
    val res = FitFinal.result(spark, sf)
    assert(res.converged)
    // the stage-reuse bug reported iters == 2 (round 1 + a zero-delta
    // "round 2" that reused round 1's shuffle output) with delta == 0.0
    assert(res.finalDelta > 0.0, "a bitwise-zero delta means the round re-used stale shuffle output")

    // independent one-round replay from the reported centroids
    val cs = res.centroids.sortBy(_._1).map(_._2)
    val d = cs.head.length
    val pts = Tables.points(spark, sf)
    val aggs = count(lit(1)).as("n") +:
      (0 until d).map(i => sum(col("features").getItem(i)).as(s"s$i"))
    val rows = pts
      .select(nearestCidK(col("features"), cs).as("cid"), col("features"))
      .groupBy("cid").agg(aggs.head, aggs.tail: _*).collect()
    val byCid = rows.map { r =>
      val cid = r.getInt(0); val n = r.getLong(1)
      cid -> Array.tabulate(d)(i => r.getDouble(2 + i) / n)
    }.toMap
    val newC = Array.tabulate(cs.length)(i => byCid.getOrElse(i, cs(i)))
    val replay = cs.zip(newC).map { case (o, n) =>
      math.sqrt(o.zip(n).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sum / cs.length
    assert(replay == res.finalDelta,
      s"replayed delta $replay must equal the loop's recorded final delta ${res.finalDelta}")
    assert(replay < FitFinal.Cfg.deltaThreshold)
  }

  /** Each query's returned oracle, keyed by query name. */
  private def returnedOracles(names: String*): Map[String, String] =
    names.flatMap(n => graft.SparkEntry.queries(n)(spark, sf).oracleSql.map(n -> _)).toMap

  test("oracle SQL is generated from the frozen centroids after a fit ran") {
    FitFinal.result(spark, sf)
    val sqls = returnedOracles("kmeans_fit_final", "kmeans_fit_assign")
    assert(Set("kmeans_fit_final", "kmeans_fit_assign").subsetOf(sqls.keySet))
    // literals present: at least k rows of VALUES with full-precision doubles
    assert(sqls("kmeans_fit_final").contains("VALUES"))
    assert(sqls("kmeans_fit_assign").contains("CAST(["))
  }

  test("cap-exit variant records its end state without a convergence claim") {
    val res = FitFinal.result(spark, sf, "lineitem")
    assert(!res.converged && res.iterations == FitFinal.CfgLineitem.maxIter)
    val sqls = returnedOracles("kmeans_fit_lineitem_final")
    assert(!sqls("kmeans_fit_lineitem_final").contains("converged"))
    // the frozen standardization stats ride in the oracle's pts CTE
    assert(sqls("kmeans_fit_lineitem_final").contains("l_quantity -"))
  }

  test("concurrent first lookups run one fit and tag exactly one access as the build") {
    import graft.sources.CacheProbe
    val key = s"kmeans_fit:${(sf, "fit")}"
    def mine() = CacheProbe.drain().filter(_.key == key)
    CacheProbe.setEnabled(true)
    try {
      // make the entry cold: look it up once, then evict it
      FitFinal.result(spark, sf)
      mine().foreach(_.evict())
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val calls = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[RefKMeans.Result] {
          def call(): RefKMeans.Result = { start.await(); FitFinal.result(spark, sf) }
        }))
        start.countDown()
        val results = calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(results(0) eq results(1), "both callers must get the one frozen fit")
      } finally pool.shutdown()
      val accesses = mine()
      assert(accesses.size == 2)
      assert(accesses.count(_.built) == 1, s"built flags: ${accesses.map(_.built)}")
    } finally CacheProbe.setEnabled(false)
  }
}
