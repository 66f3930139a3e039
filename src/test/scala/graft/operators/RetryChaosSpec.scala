package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.RefKMeans

/** Retry-determinism chaos gate: at 100 TB, task retries and speculative
  * execution re-run partitions as a matter of course — every operator
  * must produce IDENTICAL results when any task's first attempt dies.
  * The oracle conventions (sequential folds, rounded carries, integer
  * arithmetic) all assume per-partition recomputation is deterministic;
  * this suite proves that assumption survives the scheduler's actual
  * failure path, not just clean runs.
  *
  * Mechanism: a `mapPartitions` wrapper that throws on every task's
  * FIRST attempt (`TaskContext.attemptNumber == 0`) — the retry
  * (attempt 1) recomputes the partition's whole narrow chain, including
  * whatever pipeline stage the wrapper is fused into. Needs a context
  * that allows task retries: local mode defaults to maxFailures = 1
  * (fail-fast), so this suite owns a dedicated `local[4,4]` session and
  * stops it afterwards (suites run sequentially in the forked test JVM;
  * the next suite's getOrCreate builds a fresh default session).
  *
  * Covered stages: a full iterative fit under both of its schedules (the
  * one-task fit of a one-partition input; block decoding + persistence +
  * per-round k×(d+1) partials of a four-partition input), the MinHash LSH sweep
  * (native signature kernel + banding + verification joins over a
  * persisted intermediate), and the real GIF encode `mapPartitions`
  * codec stage.
  */
object RetryChaosSpec {
  /** In-JVM (local-mode) once-per-run injection latch for the
    * fetch-failure test — must be static so task deserialization shares
    * it instead of copying it. */
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class RetryChaosSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    // a plain-config session may already exist (earlier suites) — this
    // suite needs task retries, which are fixed at context creation
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[4,4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    super.afterAll()
  }

  val sf = "/root/testdata/sf0.001"

  /** Pass-through wrapper that kills every task's first attempt. Fused
    * into its input's stage (narrow), so the retry re-executes the
    * input's per-partition work too. */
  private def chaos(df: DataFrame): DataFrame =
    df.mapPartitions { it =>
      if (TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("chaos: injected first-attempt failure")
      it
    }(Encoders.row(df.schema))

  private def resultKey(r: RefKMeans.Result) =
    (r.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq,
      r.iterations, r.finalDelta, r.converged)

  test("iterative fit is bit-identical when every first task attempt dies") {
    val cfg = RefKMeans.Config(k = 4, firstId = Some(0L))
    val points = graft.sources.Tables.points(spark, sf)
    // one partition: the whole fit runs in one task, so a retry re-runs
    // it; four partitions: the retry re-decodes a block before the
    // blocks are persisted for the per-round jobs
    for (input <- Seq(points, points.repartition(4))) {
      val clean = resultKey(RefKMeans.fit(input, cfg))
      spark.catalog.clearCache()
      val chaotic = resultKey(RefKMeans.fit(chaos(input), cfg))
      spark.catalog.clearCache()
      assert(chaotic == clean,
        "fit under injected task failures diverged from the clean run")
    }
  }

  test("MinHash LSH sweep is bit-identical when every first task attempt dies") {
    def run(wrap: DataFrame => DataFrame): Set[(Long, Long, Double)] = {
      val base = wrap(Dedup.hashedShingles(spark, sf))
      val out = Dedup.minhashLSHFrom(base)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      out
    }
    val clean = run(identity)
    val chaotic = run(chaos)
    assert(clean.nonEmpty, "fixture must produce LSH pairs")
    assert(chaotic == clean,
      "LSH pairs under injected task failures diverged from the clean run")
  }

  test("recenter aggregate is bit-identical after an injected FETCH failure re-runs the map stage") {
    // The other half of the retry story: the first three tests kill
    // tasks (plain task retry, map outputs intact). A 1000-executor run
    // mostly sees the OTHER mode — a reduce task's fetch fails, the
    // DAGScheduler unregisters the lost map output and RESUBMITS THE
    // SHUFFLE-MAP STAGE, and the re-run reduce works over a mix of
    // original and regenerated map outputs. ChaosBridge throws a
    // genuine FetchFailedException (constructor marks the TaskContext,
    // so the scheduler takes the fetch-failure path, not the user-error
    // path) from inside the recenter aggregate's reduce stage, exactly
    // once per run.
    import graft.functions.VectorOps._
    import RetryChaosSpec.failOnce
    def chaosFetch(df: DataFrame): DataFrame =
      df.mapPartitions { it =>
        // once per run, not per attempt: the resubmitted reduce stage
        // starts a fresh stage attempt whose tasks have attemptNumber 0
        // again, so an attempt-keyed guard would fail forever. The flag
        // lives in the COMPANION OBJECT — a local val would be
        // serialized into each task closure and every attempt would see
        // its own fresh copy (observed: three consecutive stage
        // attempts all injected)
        if (failOnce.compareAndSet(false, true))
          org.apache.spark.graft.ChaosBridge.failFetch()
        it
      }(Encoders.row(df.schema))
    def recenter(wrap: DataFrame => DataFrame): Set[Seq[Any]] = {
      val points = graft.sources.Tables.points(spark, sf)
      val cs = points.filter(col("id") < 4).orderBy("id").collect()
        .map(_.getSeq[Double](1).toArray)
      val d = cs.head.length
      val aggs = count(lit(1)).as("n") +:
        (0 until d).map(i => sum(col("features").getItem(i)).as(s"s$i"))
      val agg = points
        .repartition(4, col("id")) // force a real multi-partition map stage
        .select(nearestCidK(col("features"), cs).as("cid"), col("features"))
        .groupBy("cid").agg(aggs.head, aggs.tail: _*)
      val out = wrap(agg).collect().map(_.toSeq).toSet
      spark.catalog.clearCache()
      out
    }
    val clean = recenter(identity)
    failOnce.set(false)
    val chaotic = recenter(chaosFetch)
    assert(failOnce.get(), "the fetch-failure injection never fired")
    assert(clean.nonEmpty)
    assert(chaotic == clean,
      "recenter aggregate diverged across a fetch-failure map-stage re-run")
  }

  test("semantic dedup is bit-identical when every first task attempt dies") {
    // round-8 family: self-join on bucket + float dominance + max/count
    // aggregate. The dominance rule compares UNROUNDED cos-to-centroid
    // values, so this gate proves the kernel recompute on the retried
    // partition reproduces them bit-for-bit (the assumption the oracle
    // convention rests on — FIXTURES.md r8).
    val points = graft.sources.Tables.points(spark, sf)
    val cents = graft.kmeans.RefKMeans.fit(points,
      RefKMeans.Config(k = 4, firstId = Some(0L)))
      .centroids.sortBy(_._1).map(_._2)
    spark.catalog.clearCache()
    def run(wrap: DataFrame => DataFrame): Set[Seq[Any]] = {
      val out = Dedup.semanticFromPoints(wrap(points), cents, threshold = 0.4)
        .collect().map(_.toSeq).toSet
      spark.catalog.clearCache()
      out
    }
    val clean = run(identity)
    val chaotic = run(chaos)
    assert(clean.nonEmpty, "fixture must contain within-cluster near-dups")
    assert(chaotic == clean,
      "semantic dedup under injected task failures diverged from the clean run")
  }

  test("GIF encode codec stage is byte-identical when every first task attempt dies") {
    def run(wrap: DataFrame => DataFrame): Map[Long, String] = {
      val out = wrap(Multimodal.gifMedia(spark, sf).toDF())
        .select(col("doc_id"), md5(col("media")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.catalog.clearCache()
      out
    }
    val clean = run(identity)
    val chaotic = run(chaos)
    assert(clean.nonEmpty, "fixture must contain video-slot docs")
    assert(chaotic == clean,
      "encoded GIF bytes under injected task failures diverged from the clean run")
  }
}
