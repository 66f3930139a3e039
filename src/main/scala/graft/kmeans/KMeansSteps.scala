package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checked
import graft.functions.VectorOps._
import graft.sources.Tables

/** Single K-Means *steps* with fixed literal centroids — the reference's
  * operators O7–O18/O21–O22 (SURVEY.md §2) exposed as standalone,
  * DuckDB-oracle-checkable queries. The iterative fit lives in
  * [[RefKMeans]]; these steps are its building blocks.
  *
  * Parity convention (FIXTURES.md §C): centroids are the k lowest-id
  * embedding rows (cid = vec_id), so both Spark and the SQL oracle derive
  * identical literals from the data itself.
  *
  * Scale posture: every single step is a narrow projection or one
  * partial-aggregated shuffle of k×d rows — nothing materializes O(N)
  * driver-side. Over points read as one partition there is no shuffle
  * at all: the points keep their layout ([[pts]]), so a step is one
  * job. Centroids travel as plan literals (the broadcast of
  * `master.go:313-333`). The multi-round queries ([[fitSteps]],
  * [[fitTrajectory]], the trainers) run [[RefKMeans.lloyd]] on the
  * decoded point blocks instead: the points are decoded once, and only
  * k×(d+1) sums per block cross to the driver per round.
  */
object KMeansSteps {

  /** Number of literal centroids used by the parity queries. */
  val K = 8

  /** Collect the k lowest-id embedding vectors as (cid, coords).
    * k×d doubles driver-side — the same tiny payload the reference ships
    * per RPC round (`utils/structs.go:34-37`). */
  def centroids(spark: SparkSession, sfDir: String, k: Int = K): Seq[(Int, Array[Double])] =
    centroidsOf(pts(spark, sfDir), k)

  /** [[centroids]] of points already opened: a step query takes its
    * centroids and its rows from one relation, so it opens the table and
    * checks its layout once. */
  private def centroidsOf(p: DataFrame, k: Int = K): Seq[(Int, Array[Double])] =
    p.filter(col("id") < k).orderBy("id")
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .toSeq

  /** The points in their read layout ([[RefKMeans.followLayout]]): read
    * as one partition, every k-row query over them is one stage. */
  private def pts(spark: SparkSession, sfDir: String): DataFrame =
    RefKMeans.followLayout(Tables.points(spark, sfDir))

  /** Centroid coordinate arrays in cid order (cid == array position). */
  private def centArr(cs: Seq[(Int, Array[Double])]): Array[Array[Double]] =
    cs.sortBy(_._1).map(_._2).toArray

  /** O7 — min distance of every point to the centroid set
    * (`main/worker/worker.go:232-245`). */
  def minDistances(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centArr(centroidsOf(p))
    p
      .select(col("id").as("vec_id"),
        round(minDistK(col("features"), cs), 6).as("min_dist"))
      .orderBy("vec_id")
  }

  /** O8+O10 — the farthest point (maximin seeding candidate): global
    * argmax of min-distance, lowest-id tie-break (strict `<` at
    * `main/worker/worker.go:271-285`, `worker.go:106-129`). Partial
    * per-partition top-1 then global top-1 — Spark's TakeOrderedAndProject
    * does the map-side combine the reference hand-rolls in `initCombine`. */
  def farthestPoint(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centArr(centroidsOf(p))
    p
      .select(col("id").as("vec_id"), minDistK(col("features"), cs).as("md"))
      .orderBy(desc("md"), asc("vec_id")).limit(1)
      .select(col("vec_id"), round(col("md"), 6).as("min_dist"))
  }

  /** O11 — E-step assignment: nearest centroid per point
    * (`main/worker/worker.go:248-268,288-304`). Narrow map, no shuffle. */
  def assignment(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centArr(centroidsOf(p))
    p
      .select(col("id").as("vec_id"),
        nearestCidK(col("features"), cs).as("cluster_id"))
      .orderBy("vec_id")
  }

  /** O18 — cluster sizes (`main/client/client.go:208-234`). */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    assignment(spark, sfDir)
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .orderBy("cluster_id")

  /** O12+O14 — recenter: per-cluster count + per-dimension mean
    * (`main/worker/worker.go:169-210,307-319`).
    *
    * Physical shape: ONE hash aggregate with d independent `sum` columns —
    * Catalyst emits partial (map-side) + final aggregation automatically,
    * which is exactly the reference's combiner (`worker.go:169-189`) +
    * per-cluster reducer (`worker.go:192-210`) — then the tiny k-row
    * result explodes to long format (cluster_id, dim, n, mean) for the
    * oracle compare. The shuffle carries k×(d+1) values, not N×d. */
  def recenterLong(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centroidsOf(p)
    recenterAggLong(p.select(
      nearestCidK(col("features"), centArr(cs)).as("cluster_id"), col("features")),
      cs.head._2.length)
  }

  /** The recenter aggregation contract shared with the oracle (d-column
    * sums, posexplode, round `scale`) over any assigned
    * (cluster_id, features) relation. */
  private[kmeans] def recenterAggLong(assigned: DataFrame, d: Int, scale: Int = 6): DataFrame = {
    val aggs = count(lit(1)).as("n") +: (0 until d).map(i => sum(col("features").getItem(i)).as(s"s$i"))
    assigned.groupBy("cluster_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cluster_id"), col("n"),
        posexplode(array((0 until d).map(i => col(s"s$i")): _*)).as(Seq("dim", "s")))
      .select(col("cluster_id"), col("dim"), col("n"),
        round(col("s") / col("n"), scale).as("mean"))
      .orderBy("cluster_id", "dim")
  }

  /** O16 — convergence delta: mean Euclidean displacement between the
    * literal centroids and the recentered ones
    * (`main/master/master.go:569-576`). k×d rows end-to-end. */
  def delta(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centroidsOf(p)
    val d = cs.head._2.length
    val assigned = p.select(
      nearestCidK(col("features"), centArr(cs)).as("cluster_id"), col("features"))
    val aggs = count(lit(1)).as("n") +: (0 until d).map(i => sum(col("features").getItem(i)).as(s"s$i"))
    val newLong = assigned.groupBy("cluster_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cluster_id"),
        posexplode(array((0 until d).map(i => col(s"s$i") / col("n")): _*)).as(Seq("dim", "m")))
    val oldLong = cs.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (x, i) => (cid, i, x) }
    }
    val old = spark.createDataFrame(oldLong).toDF("cluster_id", "dim", "o")
    newLong.join(old, Seq("cluster_id", "dim"))
      .groupBy("cluster_id")
      .agg(sqrt(sum((col("m") - col("o")) * (col("m") - col("o")))).as("disp"))
      .agg(round(avg("disp"), 6).as("delta"))
  }

  /** The Lloyd LOOP itself, oracle-checkable: exactly `iters` rounds of
    * assign→recenter from the literal seed centroids — the reference's
    * `kMeans` driver loop (`main/master/master.go:193-236`) with a fixed
    * iteration count instead of the delta stop rule, so DuckDB can replay
    * it as nested CTEs. Output: one long row per (iter, cluster_id, dim)
    * with the member count and the recentered (rounded) coordinate;
    * empty clusters carry the previous centroid with n = 0 (O15,
    * `master.go:579-600`).
    *
    * Float-parity contract: each iteration's means are rounded to 6
    * decimals BEFORE seeding the next assignment, in both engines, so a
    * last-ulp difference in summation order cannot propagate across
    * iterations. Within an iteration the distance kernel folds
    * sequentially (same as DuckDB's `list_distance`), which is already
    * hash-match-proven by `kmeans_assign`/`kmeans_recenter`, and the
    * per-block sums merge in partition order, bit-identical to
    * [[recenterLong]]'s hash aggregate. This query pins the round
    * semantics of [[RefKMeans.fit]]'s loop to the oracle. */
  def fitSteps(spark: SparkSession, sfDir: String, iters: Int = 2): DataFrame = {
    val p = pts(spark, sfDir)
    fitStepsOf(spark, p, centroidsOf(p), iters)
  }

  /** [[fitSteps]] over an arbitrary (id, features) point set with
    * explicit seed centroids — the same rounded-fixpoint contract reused
    * by other feature spaces (e.g. the z-window points behind
    * `ts_cluster_steps`). `scale` is the per-round rounding of the
    * carried means: 6 for raw-unit features, 0 for integer-valued
    * feature spaces (micro-units), where it makes the whole loop exact
    * integer arithmetic — order-independent, so cross-engine summation
    * order can never flip a rounding boundary. A carried (empty) cluster
    * keeps its unrounded coordinates, matching the oracle's
    * `coalesce(mean, previous)`, and reports them rounded. */
  def fitStepsOf(spark: SparkSession, points: DataFrame,
      cs0: Seq[(Int, Array[Double])], iters: Int = 2, scale: Int = 6): DataFrame = {
    val (_, l) = roundedLloyd(points, iters, scale)(literal(cs0))
    val rows = for {
      (r, it) <- l.rounds.zipWithIndex
      cid <- r.next.indices
      dim <- r.next(cid).indices
    } yield {
      val n = r.partial.counts(cid)
      val mean = r.next(cid)(dim)
      (it + 1L, cid.toLong, dim.toLong, n, if (n > 0) mean else roundHalfUp(mean, scale))
    }
    spark.createDataFrame(rows)
      .toDF("iter", "cluster_id", "dim", "n", "mean")
      .orderBy("iter", "cluster_id", "dim")
  }

  /** Trained coarse quantizer for [[graft.operators.Similarity
    * .ivfTrainedTopK]]: the centroids after `iters` rounded Lloyd rounds,
    * frozen to (cid, coords) literals — SQL-replayable training, so the
    * whole train→bucket→probe→rerank pipeline is oracle-checkable. */
  def trainedCentroids(spark: SparkSession, sfDir: String, iters: Int = 2): Seq[(Int, Array[Double])] = {
    val p = pts(spark, sfDir)
    trainedCentroidsOf(spark, p, centroidsOf(p), iters)
  }

  /** [[trainedCentroids]] over an explicit (id, features) relation with
    * explicit seeds — the sampled-corpus ANN twin's trainer
    * (`ann_recall_sampled` trains its quantizer on the vec_id%m=0
    * sample; its DuckDB oracle replays the same rounds from a sampled
    * `pts` CTE). */
  def trainedCentroidsOf(spark: SparkSession, p: DataFrame,
      seeds: Seq[(Int, Array[Double])], iters: Int = 2): Seq[(Int, Array[Double])] = {
    val (_, l) = roundedLloyd(p, iters, scale = 6)(literal(seeds))
    l.cents.zipWithIndex.map { case (v, cid) => (cid, v) }.toSeq
  }

  /** Spark's `round(x, scale)` on a DOUBLE: HALF_UP on the shortest
    * decimal that reads back as `x`; NaN and ±∞ pass through. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** Seeds given as (cid, coords) literals. */
  private def literal(cs0: Seq[(Int, Array[Double])]): RefKMeans.Rounds => Array[Array[Double]] = {
    val cents = centArr(cs0)
    _ => cents
  }

  /** The rounded Lloyd loop behind every multi-round query here: `seed`,
    * then [[RefKMeans.lloyd]] over the decoded point blocks, each
    * recentered mean rounded as `round(sum / n, scale)` before it seeds
    * the next assignment — the oracle's `round(sum(x) / count(*), scale)`.
    * With a `threshold` the loop stops once the 6-decimal delta falls
    * below it, else it runs exactly `maxIter` rounds. Seeding and rounds
    * share one [[RefKMeans.run]]: one task for a one-partition input,
    * else one job per round. Returns the seeds and the loop. */
  private def roundedLloyd(points: DataFrame, maxIter: Int, scale: Int,
      threshold: Option[Double] = None)(seed: RefKMeans.Rounds => Array[Array[Double]])
      : (Array[Array[Double]], RefKMeans.Lloyd) =
    RefKMeans.run(points) { r =>
      val cents = seed(r)
      (cents, RefKMeans.lloyd(r, cents, maxIter, roundHalfUp(_, scale))(
        d => threshold.exists(roundHalfUp(d, 6) < _)))
    }

  /** The FULL Lloyd trajectory, oracle-checkable: the rounded-fixpoint
    * loop of [[fitSteps]] run from the literal seeds until the stop rule
    * fires (delta < `threshold`), emitting one row per round —
    * (iter, delta, stopped). This pins the reference's driver loop
    * (`main/master/master.go:193-236`) at EVERY round, not just rounds
    * 1-2 (`kmeans_fit_steps`) and the end state (`kmeans_fit_final`):
    * the oracle replays all R rounds as nested CTEs and independently
    * recomputes each round's delta AND stop flag, so an intermediate
    * round that drifted — or a premature/late stop — hash-mismatches.
    *
    * Delta convention: per-cluster displacement is a sequential
    * left-to-right fold over dims (DuckDB's `list_distance`), computed
    * driver-side over the k×d rounded means of the round; the mean over
    * clusters is rounded to 6 decimals (same convention as the
    * oracle-green `kmeans_delta`). Rounded means feed the next round in
    * BOTH engines, so no float divergence propagates across rounds. */
  def fitTrajectory(spark: SparkSession, sfDir: String,
      threshold: Double = 0.01, cap: Int = 60): Checked = {
    val p = pts(spark, sfDir)
    val cs0 = centroidsOf(p)
    val head =
      s"""WITH pts AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cents0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
         |           FROM embeddings WHERE vec_id < ${cs0.length})""".stripMargin
    trajectoryOf(spark, p, literal(cs0), threshold, cap, scale = 6,
      requireConverge = true, "kmeans_fit_trajectory")(_ => head)
  }

  /** The FULL standardized-lineitem Lloyd trajectory — the cap-exit fit
    * family (`kmeans_fit_lineitem`, k = 5, cap 20) pinned at EVERY round
    * the way [[fitTrajectory]] pins the flagship: the loop runs in
    * integer micro-units over the z-standardized features (standardized
    * values are COMPUTED doubles whose cross-engine summation order can
    * flip a 6-decimal boundary — the ts_cluster_steps lesson), and the
    * oracle head embeds the per-dim standardization stats as
    * full-precision literals so both engines build features as one
    * subtract + one divide + two rounds on identical inputs.
    *
    * Seeds: the fit family's OWN maximin seeding
    * ([[RefKMeans.seed]], k = 5, seed = 42 — `kmeans_fit_lineitem`'s
    * config) run over the micro-unit points in the same pass as the
    * rounds, then FROZEN into the oracle head as full-precision VALUES
    * literals (the seeded xxhash64 first-pick is not DuckDB-expressible).
    * Only the k seed vectors are trusted from Spark — every one of the
    * up-to-20 rounds after them is independently replayed, so this is
    * strictly stronger than the end-state-only check of [[FitFinal]].
    * The oracle keys rows on an arbitrary rid (assignment is a pure
    * function of `v` — id is NOT unique in the lineitem fixture — so
    * every downstream aggregate is exact, same argument as [[FitFinal]]'s
    * lineitem variant). Expected shape: the cap exit of the real fit —
    * rounds up to the cap with `stopped = 0` throughout, each round's
    * POST-update delta (`master.go:212-231`) independently recomputed by
    * the replay. */
  def lineitemTrajectory(spark: SparkSession, sfDir: String, k: Int = 5,
      cap: Int = 20): Checked = {
    val stats = Tables.lineitemStatsShared(spark, sfDir)
    // reads the scratch-materialized std points (r16 shared build; the
    // oracle head still embeds the stats literals, identical doubles)
    val p = Tables.lineitemPointsStd(spark, sfDir)
      .select(col("id"),
        transform(col("features"), x => round(round(x, 6) * 1e6, 0)).as("features"))
    val dims = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val proj = stats.zip(dims).map { case ((m, s), c) =>
      s"round(round(($c - ${java.lang.Double.toString(m)}) / ${java.lang.Double.toString(s)}, 6) * 1000000, 0)"
    }.mkString("[", ", ", "]")
    val cfg = RefKMeans.Config(k = k, seed = 42L)
    trajectoryOf(spark, p, RefKMeans.seedOn(_, cfg, pp = false), threshold = 0.01 * 1e6,
      cap = cap, scale = 0, requireConverge = false, "kmeans_fit_lineitem_trajectory") { seeds =>
      s"""WITH pts AS MATERIALIZED (SELECT row_number() OVER () AS vec_id,
         |               $proj AS v FROM lineitem),
         |${seedsValuesCte(seeds)}""".stripMargin
    }
  }

  /** Frozen seed centroids (cid = array position) as a DuckDB VALUES CTE
    * `cents0(cid, c)` — `java.lang.Double.toString` round-trips to the
    * identical IEEE double (same device as [[FitFinal]]'s frozen-state
    * literals). */
  private[graft] def seedsValuesCte(seeds: Array[Array[Double]]): String =
    seeds.zipWithIndex.map { case (v, cid) =>
      v.map(java.lang.Double.toString).mkString(s"($cid, CAST([", ", ", "] AS DOUBLE[]))")
    }.mkString("cents0 AS (SELECT * FROM (VALUES ", ", ", ") AS t(cid, c))")

  /** [[fitTrajectory]] over an arbitrary (id, features) point set, seeded
    * by `seed` in the same pass as the rounds — the full-loop sibling of
    * [[fitStepsOf]], reused by the ts shape-clustering and
    * standardized-lineitem feature spaces (both in integer micro-units,
    * `scale = 0`, where every carried mean is an exact integer and
    * summation order cannot flip a rounding boundary; the per-round delta
    * is then a sqrt of exact integer sums, identically rounded in both
    * engines).
    *
    * `requireConverge = false` lets a cap exit return normally with the
    * last row's `stopped = 0` — that IS the contract being pinned for
    * the lineitem fit, whose reference config exits via the iteration
    * cap and reports POST-update centroids (`master.go:212-231`): each
    * trajectory row is the post-update delta of its round, so the quirk
    * is visible round by round.
    *
    * `headSql` renders the oracle's data-dependent prologue (CTEs `pts`
    * and `cents0`) from the seeds; some spaces embed fitted literals, the
    * lineitem standardization stats. The returned oracle appends the
    * replay of exactly the rounds this call ran ([[trajectorySql]]). */
  private[graft] def trajectoryOf(spark: SparkSession, points: DataFrame,
      seed: RefKMeans.Rounds => Array[Array[Double]], threshold: Double, cap: Int,
      scale: Int, requireConverge: Boolean, queryName: String)(
      headSql: Array[Array[Double]] => String): Checked = {
    val (seeds, l) = roundedLloyd(points, cap, scale, Some(threshold))(seed)
    require(l.converged || !requireConverge,
      s"$queryName: no convergence within $cap rounds")
    val rows = l.rounds.zipWithIndex.map { case (r, i) =>
      val delta = roundHalfUp(r.delta, 6)
      (i + 1L, delta, if (delta < threshold) 1L else 0L)
    }
    Checked(
      spark.createDataFrame(rows).toDF("iter", "delta", "stopped").orderBy("iter"),
      Some(trajectorySql(l.rounds.length, headSql(seeds), seeds.length, threshold, scale)))
  }

  /** DuckDB replay of a `rounds`-round trajectory — one mechanical CTE
    * chain per round (assign → recenter → `scale`-rounded means + carry
    * → new centroid lists → delta) appended to `head`, with every
    * round's delta AND stop flag independently recomputed. */
  private def trajectorySql(rounds: Int, head: String, k: Int,
      threshold: Double, scale: Int): String = {
    val perRound = (1 to rounds).map { r =>
      val prev = s"cents${r - 1}"
      s"""a$r AS (SELECT vec_id, cid FROM (
         |        SELECT p.vec_id, c.cid,
         |               row_number() OVER (PARTITION BY p.vec_id
         |                                  ORDER BY list_distance(p.v, c.c), c.cid) AS rn
         |        FROM pts p CROSS JOIN $prev c) WHERE rn = 1),
         |l$r AS (SELECT a.cid, generate_subscripts(p.v, 1) - 1 AS dim, unnest(p.v) AS x
         |       FROM a$r a JOIN pts p USING (vec_id)),
         |m$r AS (SELECT cid, dim, round(sum(x) / count(*), $scale) AS mean
         |       FROM l$r GROUP BY cid, dim),
         |p$r AS (SELECT cid, generate_subscripts(c, 1) - 1 AS dim, unnest(c) AS x FROM $prev),
         |n$r AS (SELECT p.cid, p.dim, coalesce(m.mean, p.x) AS nx
         |       FROM p$r p LEFT JOIN m$r m USING (cid, dim)),
         |cents$r AS MATERIALIZED (SELECT cid, list(nx ORDER BY dim) AS c FROM n$r GROUP BY cid),
         |d$r AS (SELECT round(sum(list_distance(a.c, b.c)) / $k, 6) AS delta
         |       FROM $prev a JOIN cents$r b USING (cid))""".stripMargin
    }.mkString(",\n")
    val rowsSql = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS iter, delta, CAST(delta < $threshold AS BIGINT) AS stopped FROM d$r"
    }.mkString("\nUNION ALL ")
    s"$head,\n$perRound\n$rowsSql\nORDER BY iter"
  }

  /** Within-cluster sum of squares per cluster (the elbow-curve metric):
    * squared distance of every point to its assigned centroid, aggregated
    * per cluster. Distances square the sqrt'd kernel value so both
    * engines perform identical rounding steps. */
  def wcss(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centArr(centroidsOf(p))
    val md = minDistK(col("features"), cs)
    p
      .select(nearestCidK(col("features"), cs).as("cluster_id"),
        (md * md).as("sq"))
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(round(sum("sq"), 6).as("wcss"), count(lit(1)).as("n"))
      .orderBy("cluster_id")
  }

  /** Simplified (centroid-based) silhouette per cluster: for each point,
    * a = distance to its own (nearest) centroid, b = distance to the
    * second-nearest; s = (b − a) / max(a, b). One narrow map over the
    * literal centroid set + one k-row aggregate — the cluster-quality
    * metric the reference never computes but any fit evaluation needs.
    * Exact: distances fold sequentially, ties pick the lowest cid. */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centroidsOf(p)
    val dists = array_sort(transform(centroidsLit(cs), c =>
      struct(dist(col("features"), c.getField("c")).as("d"),
        c.getField("cid").as("cid"))))
    p
      .select(
        element_at(dists, 1).getField("cid").as("cluster_id"),
        element_at(dists, 1).getField("d").as("a"),
        element_at(dists, 2).getField("d").as("b"))
      .select(col("cluster_id"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(round(avg("s"), 6).as("avg_silhouette"), count(lit(1)).as("n"))
      .orderBy("cluster_id")
  }

  /** Elbow curve from nested centroid prefixes: total WCSS when
    * clustering against the first k centroids, for every k ≤ K, in ONE
    * scan — k kernel evaluations per row feed k partial sums, so the
    * whole sweep costs one pass and a 1-row aggregate (the explode
    * touches only the aggregate result). The model-selection curve the
    * reference's fixed-k pipeline never offers. */
  def elbow(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centArr(centroidsOf(p))
    val sums = (1 to K).map { k =>
      val md = minDistK(col("features"), cs.take(k))
      sum(md * md).as(s"w$k")
    }
    val row = p.agg(sums.head, sums.tail: _*)
    val items = array((1 to K).map(k =>
      struct(lit(k.toLong).as("k"), round(col(s"w$k"), 6).as("wcss"))): _*)
    row.select(explode(items).as("p")).select("p.*").orderBy("k")
  }

  /** Davies-Bouldin index per cluster: s_i = mean distance of cluster
    * i's members to their centroid (ONE partial-aggregated shuffle of
    * k rows); r_i = max over j≠i of (s_i + s_j) / d(c_i, c_j), where the
    * centroid pair distances come from a k-row local relation — so
    * everything after the aggregate is k² tiny. Complements
    * [[silhouette]]/[[wcss]] as the third standard fit-quality metric. */
  def daviesBouldin(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centroidsOf(p)
    val arr = centArr(cs)
    val s = p
      .select(nearestCidK(col("features"), arr).cast("long").as("cid"),
        minDistK(col("features"), arr).as("d"))
      .groupBy("cid").agg(avg("d").as("s"))
    val cdf = spark
      .createDataFrame(cs.map { case (cid, v) => (cid.toLong, v.toSeq) })
      .toDF("cid", "c")
    val pairs = cdf.as("a").join(cdf.as("b"), col("a.cid") =!= col("b.cid"))
      .select(col("a.cid").as("ci"), col("b.cid").as("cj"),
        dist(col("a.c"), col("b.c")).as("dij"))
    pairs
      .join(s.select(col("cid").as("ci"), col("s").as("si")), "ci")
      .join(s.select(col("cid").as("cj"), col("s").as("sj")), "cj")
      .groupBy(col("ci").as("cluster_id"))
      .agg(round(max((col("si") + col("sj")) / col("dij")), 6).as("r_i"))
      .orderBy("cluster_id")
  }

  /** O21 — 2-D reshape projection of every embedding
    * (`plot/plotter.go:114-137`): dims split into 2 contiguous buckets,
    * each averaged. Long format (vec_id, bucket, value). */
  def reshape2d(spark: SparkSession, sfDir: String): DataFrame = {
    val d = 64
    pts(spark, sfDir)
      .select(col("id").as("vec_id"),
        posexplode(reshape(col("features"), d, 2)).as(Seq("bucket", "v")))
      .select(col("vec_id"), col("bucket"), round(col("v"), 6).as("value"))
      .orderBy("vec_id", "bucket")
  }

  /** The scatter-plot payload (`plot/plotter.go:16-81`): every point as
    * (cluster_id, vec_id, 2-D reshape) plus each centroid reshaped the
    * same way under vec_id = −1 — the exact data series the reference
    * renders; rendering itself stays client-side. */
  def scatterData(spark: SparkSession, sfDir: String): DataFrame = {
    val p = pts(spark, sfDir)
    val cs = centroidsOf(p)
    val d = 64
    val ptsXY = p
      .select(nearestCidK(col("features"), centArr(cs)).cast("long").as("cluster_id"),
        col("id").as("vec_id"), reshape(col("features"), d, 2).as("r"))
      .select(col("cluster_id"), col("vec_id"),
        round(element_at(col("r"), 1), 6).as("x"),
        round(element_at(col("r"), 2), 6).as("y"))
    // centroid rows run through the SAME reshape expression as the
    // points (identical fold + rounding semantics)
    val centXY = spark
      .createDataFrame(cs.map { case (cid, v) => (cid.toLong, v.toSeq) })
      .toDF("cluster_id", "features")
      .select(col("cluster_id"), lit(-1L).as("vec_id"),
        reshape(col("features"), d, 2).as("r"))
      .select(col("cluster_id"), col("vec_id"),
        round(element_at(col("r"), 1), 6).as("x"),
        round(element_at(col("r"), 2), 6).as("y"))
    ptsXY.unionByName(centXY).orderBy("cluster_id", "vec_id")
  }

  /** O22 — intra-set cohesion: per label, the mean over points of the mean
    * distance to all *other* points of the label, skipping zero distances
    * (`utils/utils.go:57-86`). Self-join keyed by label — co-partitioned
    * shuffle on the group key, never a global cross join. */
  def avgDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings").select(
      col("label"), col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("label"), col("vec_id"), col("v"))
    val b = e.select(col("label"), col("vec_id").as("vec_id2"), col("v").as("v2"))
    a.join(b, "label")
      .select(col("label"), col("vec_id"), dist(col("v"), col("v2")).as("d"))
      .filter(col("d") > 0)
      .groupBy("label", "vec_id").agg(avg("d").as("ad"))
      .groupBy("label").agg(round(avg("ad"), 6).as("avg_dist"))
      .orderBy("label")
  }
}
