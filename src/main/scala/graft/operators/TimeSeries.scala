package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.Tables

/** Time-series subsequence similarity search over the per-user event
  * value series — the UCR-suite query shape (z-normalized Euclidean
  * distance between fixed-length sliding windows; cf. the distributed
  * data-series search literature in PAPERS.md).
  *
  * Scale shape: windows materialize per user with ONE window function
  * (shuffle keyed by user); the z-normalization is a per-row expression;
  * the 1-vs-all scan is a narrow map against the broadcast (literal)
  * query window — no pairwise blow-up. A full all-pairs motif search
  * would LSH-bucket the z-normalized windows exactly like
  * [[Dedup.simhashPairs]] buckets signatures.
  */
object TimeSeries {

  val WIN = 8

  /** All full-length z-normalized windows: (user_id, start_seq, zw). */
  private[operators] def zWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val mean = aggregate(col("win"), lit(0.0), (a, x) => a + x) / WIN
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("win", collect_list("value").over(byUser.rowsBetween(0, WIN - 1)))
      .withColumn("start_seq", row_number().over(byUser).cast("long"))
      .filter(size(col("win")) === WIN)
      .withColumn("m", mean)
      .withColumn("sd", sqrt(
        aggregate(transform(col("win"), x => (x - col("m")) * (x - col("m"))),
          lit(0.0), (a, x) => a + x) / WIN))
      .select(col("user_id"), col("start_seq"),
        transform(col("win"), x => (x - col("m")) / greatest(col("sd"), lit(1e-12)))
          .as("zw"))
  }

  /** The strided z-window point set that feeds [[shapeClusters]]:
    * (id, features) with composite id = user_id << 40 | start_seq.
    *
    * Stride: fully-overlapping subsequences are near-duplicates that
    * quadruple the fit for no clustering signal. The bit-shift id gives
    * 2^40 window starts per user before aliasing (vs 10^6 with a decimal
    * multiplier, which a 100TB user stream could overflow into a
    * neighbor's id space and silently corrupt the fit's firstId
    * tie-breaks). Guarded, not assumed: an out-of-range start_seq fails
    * the job loudly. */
  private[operators] def stridedPoints(spark: SparkSession, sfDir: String,
      stride: Int): DataFrame =
    zWindows(spark, sfDir)
      .filter(col("start_seq") % stride === 1)
      .select(
        when(col("start_seq") < lit(1L << 40) && col("user_id") < lit(1L << 23),
          shiftleft(col("user_id"), 40) + col("start_seq"))
          .otherwise(raise_error(lit("stridedPoints: id space overflow")))
          .as("id"),
        col("zw").as("features"))

  /** [[stridedPoints]] exploded long-format for the oracle: (id, dim, z).
    * The shape-clustering FIT is iterative (rows-only at the gate), but
    * this — its entire feature pipeline: ordering, windowing,
    * z-normalization, striding, composite ids — is verified
    * bit-for-bit. */
  def windowFeatures(spark: SparkSession, sfDir: String, stride: Int = 4): DataFrame =
    stridedPoints(spark, sfDir, stride)
      .select(col("id"), posexplode(col("features")).as(Seq("dim", "z")))
      .select(col("id"), col("dim").cast("long").as("dim"),
        round(col("z"), 6).as("z"))
      .orderBy("id", "dim")

  /** Shape clustering of the series corpus: the reference k-means fit
    * over all z-normalized windows (cf. distributed trajectory clustering,
    * PAPERS.md) — windows become (id, features) points, so the whole
    * RefKMeans machinery (block rounds, empty-cluster carry) applies
    * unchanged. Fits over [[roundedPoints]] (the 6-decimal grid) so the
    * end state is frozen-literal verifiable (`ts_cluster_final`); the
    * feature pipeline itself is oracle-pinned via [[windowFeatures]] and
    * the loop via `ts_cluster_steps`. */
  def shapeClusters(spark: SparkSession, sfDir: String,
      stride: Int = 4): DataFrame =
    graft.kmeans.RefKMeans.fitSizes(spark, roundedPoints(spark, sfDir, stride),
        ClusterCfg)
      .select(col("cluster_id").cast("long").as("cluster_id"), col("n"))

  /** Config of [[shapeClusters]] / the `ts_cluster` query — shared with
    * the frozen-state oracle (`ts_cluster_final`). */
  val ClusterCfg: graft.kmeans.RefKMeans.Config =
    graft.kmeans.RefKMeans.Config(k = 4, seed = 11L, maxIter = 25)

  /** z-normalized event windows (DuckDB): CTE chain ending in
    * `zz(user_id, start_seq, zw)` — same fold order as [[zWindows]].
    * Shared by the ts oracles in SparkEntry and [[ptsOracleCtes]]. */
  val zwinOracleCte: String =
    s"""w0 AS (SELECT user_id, event_id, ts, value,
       |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN CURRENT ROW AND ${WIN - 1} FOLLOWING) AS win,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS start_seq
       |       FROM events),
       |f AS (SELECT user_id, start_seq, win FROM w0 WHERE len(win) = $WIN),
       |zz AS (SELECT user_id, start_seq,
       |              list_transform(win, x -> (x - m) / greatest(sd, 1e-12)) AS zw
       |       FROM (SELECT *, list_sum(win) / $WIN AS m,
       |                    sqrt(list_sum(list_transform(win,
       |                      x -> (x - list_sum(win) / $WIN)
       |                         * (x - list_sum(win) / $WIN))) / $WIN) AS sd
       |             FROM f))""".stripMargin

  /** DuckDB CTE chain ending in `pts(vec_id, v)` — the oracle twin of
    * [[roundedPoints]] (shared grid, composite ids), or of the
    * micro-unit scaling of it when `micro` is set. Interpolated into
    * frozen-state oracles by [[graft.kmeans.FitFinal]] and into the
    * trajectory head by [[clusterTrajectory]]. */
  def ptsOracleCtes(stride: Int = 4, micro: Boolean = false): String = {
    val v = if (micro) "round(round(x, 6) * 1000000, 0)" else "round(x, 6)"
    s"""$zwinOracleCte,
       |st AS (SELECT user_id, start_seq, zw FROM zz WHERE start_seq % $stride = 1),
       |pts AS MATERIALIZED (SELECT CAST((user_id << 40) + start_seq AS BIGINT) AS vec_id,
       |               list_transform(zw, x -> $v) AS v FROM st)""".stripMargin
  }

  /** The strided z-window points on the shared 6-decimal grid — the
    * bit-exact cross-engine representation (`ts_windows` hash-matches at
    * this precision), used by both the step queries and the fit so the
    * fit's end state is frozen-literal verifiable. */
  def roundedPoints(spark: SparkSession, sfDir: String, stride: Int = 4): DataFrame =
    // r16: materialized per (corpus, stride) — FOUR queries re-derived
    // this identical feature relation per pass (ts_cluster via the
    // frozen fit, ts_cluster_final's re-score, ts_cluster_steps,
    // ts_cluster_trajectory), each paying the event scan + per-user
    // window + z-normalization chain; the 6-decimal-rounded doubles
    // round-trip parquet exactly, so consumers are bit-identical
    graft.sources.Scratch.materialize(spark,
        s"ts_points:$stride:${graft.sources.Scratch.corpusKey(sfDir)}") {
      stridedPoints(spark, sfDir, stride)
        .select(col("id"), transform(col("features"), x => round(x, 6)).as("features"))
    }

  /** [[roundedPoints]] scaled to integer micro-units (×1e6) — the exact,
    * order-independent feature representation the loop queries run in. */
  private def microPoints(spark: SparkSession, sfDir: String,
      stride: Int): DataFrame =
    roundedPoints(spark, sfDir, stride)
      .select(col("id"),
        transform(col("features"), x => round(x * 1e6, 0)).as("features"))

  /** The k lowest-id micro-unit windows as (cid, coords) seeds —
    * composite window ids are unique, so id order alone is
    * deterministic. */
  private def microSeeds(p: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    p.orderBy("id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }.toSeq

  /** The shape-clustering Lloyd LOOP itself, oracle-checkable: exactly
    * `iters` rounded rounds over the z-window point set, seeded with the
    * k lowest-id windows — [[graft.kmeans.KMeansSteps.fitSteps]]'s
    * rounded-fixpoint recipe applied to [[shapeClusters]]' feature space,
    * so the only remaining rows-only piece of the ts pipeline is the
    * unbounded fit.
    *
    * Exactness: unlike the parquet-born embeddings, z-windows are
    * COMPUTED values, so cross-engine summation order could flip a
    * 6-decimal rounding boundary in a recentered mean (observed once at
    * sf0.01). The loop therefore runs in integer MICRO-units: features
    * are `round(round(z, 6) · 1e6)` — integer-valued doubles whose sums
    * (≪ 2^53) are exact and order-independent — and each round's carried
    * state rounds to whole micro-units (`scale = 0`). Every value in the
    * output (`mean_micro`) is an exact integer; no float comparison
    * exists anywhere in the contract. */
  def clusterSteps(spark: SparkSession, sfDir: String, k: Int = 4,
      stride: Int = 4, iters: Int = 2): DataFrame = {
    val p = microPoints(spark, sfDir, stride)
    graft.kmeans.KMeansSteps.fitStepsOf(spark, p, microSeeds(p, k), iters, scale = 0)
      .select(col("iter"), col("cluster_id"), col("dim"), col("n"),
        col("mean").cast("long").as("mean_micro"))
  }

  /** The FULL shape-clustering Lloyd trajectory — [[clusterSteps]]' loop
    * run to the stop rule (or [[ClusterCfg]]'s 25-round cap), one
    * (iter, delta, stopped) row per round, DuckDB-replaying every round:
    * the same contract `kmeans_fit_trajectory` gives the flagship fit,
    * here in the integer micro-unit z-window space (threshold scales
    * with the units: 0.01 raw → 1e4 micro). Per-round deltas are sqrts
    * of exact integer sums — identically rounded in both engines.
    * Seeds: [[ClusterCfg]]'s own maximin seeding (k = 4, seed = 11 —
    * the `ts_cluster` fit's config) over the micro points, run in the
    * same pass over the decoded points as the rounds
    * ([[graft.kmeans.KMeansSteps.trajectoryOf]]) and frozen into the
    * oracle head as VALUES literals; every round after them is
    * independently replayed (see
    * [[graft.kmeans.KMeansSteps.lineitemTrajectory]]'s contract note). */
  def clusterTrajectory(spark: SparkSession, sfDir: String,
      stride: Int = 4): graft.Checked = {
    graft.kmeans.KMeansSteps.trajectoryOf(spark, microPoints(spark, sfDir, stride),
      graft.kmeans.RefKMeans.seedOn(_, ClusterCfg, pp = false), threshold = 0.01 * 1e6,
      cap = ClusterCfg.maxIter, scale = 0, requireConverge = false,
      "ts_cluster_trajectory") { seeds =>
      s"""WITH ${ptsOracleCtes(stride, micro = true)},
         |${graft.kmeans.KMeansSteps.seedsValuesCte(seeds)}""".stripMargin
    }
  }

  /** Top-k nearest windows to the corpus's first window (lowest user id,
    * first position) under z-normalized Euclidean distance. */
  def motifTopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val z = zWindows(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qRow = z.orderBy("user_id", "start_seq").head()
    val (qUser, qStart) = (qRow.getLong(0), qRow.getLong(1))
    val qLit = array(qRow.getSeq[Double](2).map(lit(_)): _*)
    z.filter(!(col("user_id") === qUser && col("start_seq") === qStart))
      .select(col("user_id"), col("start_seq"),
        VectorOps.dist(col("zw"), qLit).as("d"))
      .orderBy(asc("d"), asc("user_id"), asc("start_seq"))
      .limit(k)
      .select(col("user_id"), col("start_seq"), round(col("d"), 6).as("dist"))
  }

  /** Hourly resample with gap fill: per-user hourly value series over
    * each user's own active span, missing hours filled by
    * last-observation-carried-forward. The canonical time-series
    * regularization step before any window/motif analysis.
    *
    * Scale shape: the hourly pre-aggregate shrinks events to user×hours
    * rows BEFORE any window work; the spine explode is bounded by each
    * user's span; both the spine join and the fill window shuffle on
    * user_id only. LOCF is a last(ignoreNulls) running window — no
    * self-join, no driver loop. */
  def resampleFill(spark: SparkSession, sfDir: String, nUsers: Int = 5): DataFrame = {
    val hourUs = 3600L * 1000000L
    val hourly = Tables.events(spark, sfDir)
      .filter(col("user_id") < nUsers)
      .groupBy(col("user_id"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("v"))
    val spine = hourly.groupBy("user_id")
      .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(hourUs))).as("hour_us"))
    val w = Window.partitionBy("user_id").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "hour_us"), "left")
      .withColumn("v_fill", last("v", ignoreNulls = true).over(w))
      .select(col("user_id"), col("hour_us"),
        coalesce(col("n"), lit(0L)).as("n"), col("v_fill"))
      .orderBy("user_id", "hour_us")
  }

  /** [[decompose]] half-window (hours) — shared with the oracle
    * builder so query and oracle cannot drift. */
  val DECOMP_HALF_WIN = 12

  /** Classical additive seasonal decomposition of the corpus-wide hourly
    * value series: trend = centered (2·[[halfWin]]+1)-hour moving
    * average, seasonal = per hour-of-day mean deviation from trend,
    * residual = obs − trend − seasonal. Every component lives in exact
    * integer micro-units: the only divisions are SIGN-SEPARATED
    * truncating integer sum/count divisions (sign(s) · (|s| div n) —
    * the sums go negative, and DuckDB versions disagree on negative
    * integer `//` floor-vs-truncate; only non-negative magnitudes may
    * cross a division, FIXTURES.md negative-// rule) — so the whole
    * decomposition hash-matches on any engine version, unlike a float
    * moving average.
    *
    * Scale shape: the O(events) work is ONE hour-keyed aggregate
    * (map-side combinable); the moving average, hour-of-day aggregate
    * and residual all act on the tiny hourly series (O(hours) rows —
    * the unpartitioned window is bounded by design and documented as
    * such). Boundary hours average over their truncated frame, the
    * standard convention. */
  def decompose(spark: SparkSession, sfDir: String,
      halfWin: Int = DECOMP_HALF_WIN): DataFrame = {
    val wT = Window.orderBy("hour_us").rowsBetween(-halfWin, halfWin)
    val wS = Window.partitionBy("hod")
    Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(sum(round(col("value") * 1000000, 0).cast("long")).as("obs_micro"))
      .withColumn("tsum", sum("obs_micro").over(wT))
      .withColumn("tn", count(lit(1)).over(wT))
      .withColumn("trend_micro",
        expr("cast(signum(tsum) as bigint) * (abs(tsum) div tn)"))
      .withColumn("det", col("obs_micro") - col("trend_micro"))
      .withColumn("hod", expr("(hour_us div 3600000000) % 24"))
      .withColumn("ssum", sum("det").over(wS))
      .withColumn("sn", count(lit(1)).over(wS))
      .withColumn("seasonal_micro",
        expr("cast(signum(ssum) as bigint) * (abs(ssum) div sn)"))
      .select(col("hour_us"), col("obs_micro"), col("trend_micro"),
        col("seasonal_micro"),
        (col("det") - col("seasonal_micro")).as("resid_micro"))
      .orderBy("hour_us")
  }

  /** Lags measured by [[autocorr]]. */
  val AcfMaxLag = 5

  /** Autocorrelation of the hourly event-count series at lags
    * 1..[[AcfMaxLag]], kept exact: per lag the paired sufficient
    * statistics (n·Σxy − Σx·Σy and the two variance terms) are emitted
    * as exact DECIMAL(38,0) integers, and r² lands in ppm through the
    * always-bounded two-stage division chain over MAGNITUDES ONLY
    * (|num|·1000 on each axis, then their product — the
    * [[TextAnalysis]] collocations device, sign-separated per the
    * FIXTURES.md negative-// rule since DuckDB versions disagree on
    * negative HUGEINT `//`) with the sign of r carried separately in
    * r_sign. The exact sums mean
    * any consumer can recompute r to full precision; the ppm column is
    * the cross-engine-pinned summary.
    *
    * Pairing is by ROW position in the hour-ordered series (lead(ℓ)),
    * so a missing hour pairs across the gap — deterministic and
    * engine-identical; run [[resampleFill]] first when calendar-true lags
    * matter. Scale shape: one hourly aggregate (shuffle on hour), one
    * window sort, then a lag-exploded aggregate over series-sized rows —
    * at 100 TB the series is hours-sized (~1e5 rows/decade), trivially
    * repartitionable; the raw events never pair. */
  def autocorr(spark: SparkSession, sfDir: String,
      maxLag: Int = AcfMaxLag): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val w = Window.orderBy("hour_us")
    val hourly = Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val paired = hourly
      .select(col("hour_us"), col("x"),
        array((1 to maxLag).map(l =>
          struct(lit(l).as("lag"), lead("x", l).over(w).as("y"))): _*).as("ls"))
      .select(col("x"), explode(col("ls")).as("p"))
      .select(col("p.lag").as("lag"), col("x"), col("p.y").as("y"))
      .filter(col("y").isNotNull)
    paired.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        (d(col("n_pairs")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).as("num"),
        (d(col("n_pairs")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).as("den_x"),
        (d(col("n_pairs")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).as("den_y"))
      .select(col("lag"), col("n_pairs"),
        // hashed-output typing rule (FIXTURES.md, r12): the sufficient-
        // statistic cross products ship as exact DIGIT STRINGS — the
        // DECIMAL(38,0) math stays internal (r11: the driver hashes
        // DECIMAL(38,0) values unequally even when mathematically
        // identical; strings hash identically everywhere).
        col("num").cast("string").as("num"),
        col("den_x").cast("string").as("den_x"),
        col("den_y").cast("string").as("den_y"),
        signum(col("num")).cast("long").as("r_sign"),
        // magnitudes only (FIXTURES.md negative-// rule): both den terms
        // are ≥ 0, so under truncation the signed product equals the
        // |num| product — but only the |num| form is identical across
        // DuckDB versions that floor negative HUGEINT `//` (the r10
        // driver-oracle breach). The sign of r rides r_sign.
        (expr("abs(num) * 1000 div den_x") * expr("abs(num) * 1000 div den_y"))
          .as("r2_ppm"))
      .orderBy("lag")
  }

  /** DuckDB twin of [[autocorr]] — identical row-position pairing and
    * the identical HUGEINT two-stage floor chain. */
  def autocorrOracle(maxLag: Int = AcfMaxLag): String =
    s"""WITH hourly AS (
       |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS x
       |  FROM events GROUP BY 1),
       |paired AS (
       |  SELECT l.lag, h.x,
       |         lead(h.x, l.lag) OVER (PARTITION BY l.lag ORDER BY h.hour_us) AS y
       |  FROM hourly h CROSS JOIN (SELECT unnest(range(1, ${maxLag + 1})) AS lag) l),
       |g AS (SELECT lag, count(*) AS n_pairs, sum(x) AS sx, sum(y) AS sy,
       |             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
       |      FROM paired WHERE y IS NOT NULL GROUP BY lag),
       |h AS (SELECT lag, n_pairs,
       |             CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
       |             CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den_x,
       |             CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den_y
       |      FROM g)
       |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       |       CAST(num AS VARCHAR) AS num,
       |       CAST(den_x AS VARCHAR) AS den_x,
       |       CAST(den_y AS VARCHAR) AS den_y,
       |       CAST(sign(num) AS BIGINT) AS r_sign,
       |       CAST((abs(num) * 1000 // den_x) * (abs(num) * 1000 // den_y) AS BIGINT) AS r2_ppm
       |FROM h ORDER BY lag""".stripMargin

  /** CUSUM change-point scan over the hourly event-count series: the
    * classic mean-shift statistic S_i = Σ_{j≤i}(x_j − μ), kept EXACT by
    * scaling with n (S'_i = n·cum_i − i·T — all integer, no division
    * anywhere, so negative values are safe per the FIXTURES.md
    * negative-// rule: they are only compared/abs'd, never divided).
    * Output: the top-`topK` hours by |S'| — the candidate change
    * points, each with its raw count and signed scaled CUSUM.
    *
    * Scale shape: ONE hour-keyed aggregate over the events (map-side
    * combinable), then windows over the hours-sized series (bounded by
    * design, same contract as [[decompose]]); the 1-row (n, T)
    * aggregate broadcast-cross-joins on (PlanGateSpec-declared). */
  def changepoint(spark: SparkSession, sfDir: String, topK: Int = 5): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("x"))
    val stats = hourly.agg(count(lit(1)).as("n"), sum("x").as("t"))
    val wc = Window.orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = hourly
      .withColumn("cum", sum("x").over(wc))
      .withColumn("idx", row_number().over(Window.orderBy("hour_us")).cast("long"))
      .crossJoin(broadcast(stats))
      .withColumn("cusum", col("n") * col("cum") - col("idx") * col("t"))
    s.withColumn("rank",
        row_number().over(Window.orderBy(abs(col("cusum")).desc, col("hour_us").asc))
          .cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("hour_us"), col("x"), col("cusum"))
      .orderBy("rank")
  }

  /** DuckDB twin of [[changepoint]] — identical integer CUSUM chain. */
  def changepointOracle(topK: Int = 5): String =
    s"""WITH hourly AS (
       |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS x
       |  FROM events GROUP BY 1),
       |st AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS t FROM hourly),
       |c AS (SELECT hour_us, x,
       |        CAST(sum(x) OVER (ORDER BY hour_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |        row_number() OVER (ORDER BY hour_us) AS idx
       |      FROM hourly),
       |s AS (SELECT hour_us, x, n * cum - idx * t AS cusum FROM c CROSS JOIN st)
       |SELECT CAST(row_number() OVER (ORDER BY abs(cusum) DESC, hour_us) AS BIGINT) AS rank,
       |       hour_us, x, CAST(cusum AS BIGINT) AS cusum
       |FROM s ORDER BY abs(cusum) DESC, hour_us LIMIT $topK""".stripMargin

  /** DuckDB twin of [[decompose]] — identical micro-unit sums and the
    * identical sign-separated truncating division chain (the sums go
    * negative; FIXTURES.md negative-// rule). */
  def decomposeOracle(halfWin: Int = DECOMP_HALF_WIN): String =
    s"""WITH hourly AS (
       |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       |         sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS obs_micro
       |  FROM events GROUP BY 1),
       |t0 AS (SELECT hour_us, obs_micro,
       |        CAST(sum(obs_micro) OVER w AS BIGINT) AS tsum,
       |        count(*) OVER w AS tn
       |      FROM hourly
       |      WINDOW w AS (ORDER BY hour_us
       |                   ROWS BETWEEN $halfWin PRECEDING AND $halfWin FOLLOWING)),
       |t AS (SELECT hour_us, obs_micro,
       |        CAST(sign(tsum) AS BIGINT) * (abs(tsum) // tn) AS trend_micro
       |      FROM t0),
       |d AS (SELECT hour_us, obs_micro, trend_micro,
       |        obs_micro - trend_micro AS det,
       |        (hour_us // 3600000000) % 24 AS hod FROM t),
       |s AS (SELECT *, CAST(sum(det) OVER (PARTITION BY hod) AS BIGINT) AS ssum,
       |        count(*) OVER (PARTITION BY hod) AS sn FROM d),
       |z AS (SELECT hour_us, obs_micro, trend_micro, det,
       |        CAST(sign(ssum) AS BIGINT) * (abs(ssum) // sn) AS seasonal_micro
       |      FROM s)
       |SELECT hour_us, CAST(obs_micro AS BIGINT) AS obs_micro,
       |       CAST(trend_micro AS BIGINT) AS trend_micro,
       |       CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
       |       CAST(det - seasonal_micro AS BIGINT) AS resid_micro
       |FROM z ORDER BY hour_us""".stripMargin

  /** Forecast horizon (days) emitted per series by [[forecast]]. */
  val ForecastHorizon = 7

  /** Per-series linear-trend forecast: each event type's DAILY count
    * series is fit by closed-form OLS over the series-relative day
    * index t = day − min(day) (the relative index keeps every
    * sufficient statistic span-sized — t ≤ series length in days, not
    * epoch-sized — and makes the fit translation-invariant), and the
    * next [[ForecastHorizon]] days are projected as exact rationals:
    * ŷ(t) = (inum + snum·t)/den with snum = nΣty − ΣtΣy,
    * den = nΣt² − (Σt)², inum = ΣyΣt² − ΣtΣty. Numerators ship as
    * exact DIGIT STRINGS (Σy·Σt² exceeds int64 once daily counts pass
    * ~10⁹ — the FIXTURES.md typing rule) plus sign-separated ppm
    * floors for the slope and each projected level; ŷ can go negative
    * on a falling trend, so the negative-// rule applies and signs
    * ride separately. A single-day series (den = 0) emits 0 ppm on
    * both engines.
    *
    * Scale shape: ONE map-side-combinable (type, day) aggregate over
    * the raw events, then everything runs on the days-sized series
    * (≤ ~4k rows/series/decade at ANY corpus size — the
    * [[autocorr]] contract); the horizon expansion is a k×h literal
    * explode. This is the capacity-planning face of the series
    * family: [[decompose]] explains, [[changepoint]] alarms,
    * `forecast` projects. */
  def forecast(spark: SparkSession, sfDir: String,
      horizon: Int = ForecastHorizon): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type")
    val g = daily
      .withColumn("t", col("day") - min("day").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), max("t").as("t_max"),
        sum("t").as("st"), sum("y").as("sy"),
        sum(col("t") * col("t")).as("stt"), sum(col("t") * col("y")).as("sty"))
      .select(col("event_type"), col("n_days"), col("t_max"),
        (d(col("n_days")) * d(col("sty")) - d(col("st")) * d(col("sy"))).as("snum"),
        (d(col("n_days")) * d(col("stt")) - d(col("st")) * d(col("st"))).as("den"),
        (d(col("sy")) * d(col("stt")) - d(col("st")) * d(col("sty"))).as("inum"))
    g.withColumn("h", explode(sequence(lit(1), lit(horizon))))
      .withColumn("t_pred", col("t_max") + col("h"))
      .withColumn("yhat_num", col("inum") + col("snum") * d(col("t_pred")))
      .select(col("event_type"), col("h").cast("long").as("h"),
        col("t_pred").cast("long").as("t_pred"), col("n_days"),
        // hashed-output typing rule (FIXTURES.md, r12): exact digits as
        // strings; the DECIMAL(38,0) carriers stay internal
        col("den").cast("string").as("den"),
        col("yhat_num").cast("string").as("yhat_num"),
        expr("cast(case when den = 0 then 0 else " +
          "cast(signum(snum) as bigint) * (abs(snum) * 1000000 div den) end as bigint)")
          .as("slope_ppm"),
        expr("cast(case when den = 0 then 0 else " +
          "cast(signum(yhat_num) as bigint) * (abs(yhat_num) * 1000000 div den) end as bigint)")
          .as("yhat_ppm"))
      .orderBy("event_type", "h")
  }

  /** DuckDB twin of [[forecast]] — HUGEINT sufficient statistics and
    * the identical sign-separated ppm floors. */
  def forecastOracle(horizon: Int = ForecastHorizon): String =
    s"""WITH daily AS (
       |  SELECT event_type, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |         count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |rel AS (SELECT event_type,
       |               day - min(day) OVER (PARTITION BY event_type) AS t, y
       |        FROM daily),
       |g AS (SELECT event_type, count(*) AS n_days, max(t) AS t_max,
       |             sum(t) AS st, sum(y) AS sy,
       |             sum(t * t) AS stt, sum(t * y) AS sty
       |      FROM rel GROUP BY 1),
       |s AS (SELECT event_type, n_days, t_max,
       |             CAST(n_days AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS snum,
       |             CAST(n_days AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS den,
       |             CAST(sy AS HUGEINT) * stt - CAST(st AS HUGEINT) * sty AS inum
       |      FROM g),
       |f AS (SELECT s.*, hh.h, t_max + hh.h AS t_pred
       |      FROM s CROSS JOIN
       |        (SELECT unnest(generate_series(1, $horizon)) AS h) hh),
       |y AS (SELECT event_type, h, t_pred, n_days, den, snum,
       |             inum + snum * t_pred AS yhat_num
       |      FROM f)
       |SELECT event_type, CAST(h AS BIGINT) AS h, CAST(t_pred AS BIGINT) AS t_pred,
       |       n_days, CAST(den AS VARCHAR) AS den,
       |       CAST(yhat_num AS VARCHAR) AS yhat_num,
       |       CAST(CASE WHEN den = 0 THEN 0
       |                 ELSE CAST(sign(snum) AS HUGEINT) * (abs(snum) * 1000000 // den)
       |            END AS BIGINT) AS slope_ppm,
       |       CAST(CASE WHEN den = 0 THEN 0
       |                 ELSE CAST(sign(yhat_num) AS HUGEINT) * (abs(yhat_num) * 1000000 // den)
       |            END AS BIGINT) AS yhat_ppm
       |FROM y ORDER BY event_type, h""".stripMargin
}
