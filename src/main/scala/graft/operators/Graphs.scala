package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checked
import graft.sources.Tables

/** Iterative graph analytics on DataFrames — the capability class the
  * reference's MapReduce loop (seed → iterate → converge,
  * `main/master/master.go:193-236`) generalizes to beyond k-means.
  *
  * The graph is the part↔supplier co-occurrence bipartite graph of
  * `lineitem` (distinct edges, both directions, so no dangling nodes).
  * PageRank runs a FIXED number of rounds with each round's ranks
  * rounded to 12 decimals in both engines — the same rounded-fixpoint
  * contract as [[graft.kmeans.KMeansSteps.fitSteps]] (FIXTURES.md §C),
  * which is what makes an iterative computation DuckDB-replayable.
  *
  * Scale shape: each round is ONE join of the rank relation to the edge
  * list (both shuffle on the node key — co-partitioned across rounds)
  * plus ONE aggregate; no adjacency ever materializes driver-side, and
  * the rank relation is node-sized, never edge-sized. The classic
  * message-passing round of every BSP/Pregel system, expressed as
  * joins Catalyst can plan.
  */
object Graphs {

  /** Node-count threshold under which the node-sized relations (rank
    * vectors, degree tables, peel bad-sets) get an explicit
    * `broadcast()` hint. Above it the hint is DROPPED: the joins then
    * co-partition on the node key across rounds (and AQE may still
    * pick a broadcast from measured runtime stats — the point is that
    * a data-proportional relation must never be FORCED into a
    * broadcast build, which at billions of nodes is a driver/executor
    * OOM). 1M nodes of (long, double) ≈ 16-24 MB — the same
    * small-side economics as [[Dedup.COMPONENTS_LOCAL_EDGES]]. */
  val GraphBroadcastMaxNodes = 1000000L

  /** The size-guarded hint device: hint only while the MEASURED node
    * count is under the limit; otherwise return the relation unhinted
    * and let the planner decide from stats. */
  private[operators] def maybeBroadcast(df: DataFrame, measured: Long,
      limit: Long): DataFrame =
    if (measured <= limit) broadcast(df) else df

  /** Distinct bipartite pairs of the 1997 trade graph: part nodes are
    * even ids (2·partkey), supplier nodes odd (2·suppkey + 1). The date
    * bound scopes the analysis window (and pushes down to the parquet
    * scan — nearly every raw lineitem row is a distinct pair, so an
    * unbounded graph is just the fact table re-keyed). ONE distinct
    * shuffle; callers derive both edge directions and degrees from
    * this. */
  private def pairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()

  /** PageRank after exactly `iters` rounds (damping 0.85, uniform
    * 1/N init), top `topN` nodes by final rounded rank. Output:
    * (node, rank, degree).
    *
    * Per-round physical shape: the degree-annotated edge list is built
    * ONCE and cached; the rank relation (node-sized — always ≪ edges)
    * broadcasts into a single hash join per round, so the edge list is
    * never shuffled inside the loop — one broadcast join + one partial-
    * aggregated node-keyed shuffle per round. The hint is SIZE-GUARDED
    * by the measured node count ([[GraphBroadcastMaxNodes]]): on a
    * graph whose rank relation outgrows broadcast the engine drops the
    * hint itself and both sides co-partition on the node key across
    * rounds — a forced broadcast of a data-proportional relation would
    * be an OOM at the 100 TB node scale, and an explicit hint would
    * also stop AQE from re-planning.
    *
    * Cache contract: the degree-annotated edge list stays persisted —
    * the returned DataFrame is lazy and every downstream action replays
    * the loop over it. The caller releases it (`spark.catalog
    * .clearCache()`) once the result is consumed, the same contract as
    * [[Similarity.sqTopK]]; Verify/Bench clear between queries. The
    * per-round `localCheckpoint` blocks are NOT in that cache:
    * intermediate rounds are released eagerly in the loop as soon as the
    * next round materializes, and the LAST round's node-sized checkpoint
    * (it backs the returned lazy plan) lives until the driver GCs the
    * RDD reference (ContextCleaner) — bounded at one node-sized relation
    * per invocation, not one per round. */
  /** The degree-annotated rank graph shared by [[pageRank]],
    * [[pageRankTrajectory]] and [[pageRankTrajectoryRel]]: the node
    * relation with degrees, the measured node count, and the
    * both-direction degree-annotated edge list. THREE queries walk
    * this graph per pass — r16 optimization: the edge build (pairs
    * distinct + degree aggregate + annotation join) MATERIALIZES once
    * per corpus through the scratch registry (the [[coOrderEdges]]
    * device; at sf10 the shared edge build was most of the 2-round
    * `graph_pagerank`'s 44-48 s, previously re-paid by each of the
    * two trajectory twins). Three scratch entries chain so no stage
    * runs twice: the distinct pair list, the degree-annotated
    * directed edge list derived from its parquet (one node-keyed
    * degree aggregate + one co-partitioned equi-join — no broadcast
    * hint needed: the join is node-keyed and AQE picks the strategy
    * from real sizes), and the node relation as the distinct (source,
    * degree) projection of the edge parquet. The per-query cost after
    * the first toucher is three parquet reads plus the node count. */
  private def rankGraph(spark: SparkSession, sfDir: String,
      bcastMaxNodes: Long): (Long, DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val ck = graft.sources.Scratch.corpusKey(sfDir)
    val pairsM = graft.sources.Scratch.materialize(spark, s"rank_pairs:$ck")(
      pairs(spark, sfDir))
    val eDeg = graft.sources.Scratch.materialize(spark, s"rank_edges:$ck") {
      // both directions; every directed row carries its SOURCE's total
      // degree (part and supplier id spaces are disjoint, so the
      // per-source count over the undirected expansion IS the degree)
      val u = pairsM.select(col("a"), col("b"))
        .unionByName(pairsM.select(col("b").as("a"), col("a").as("b")))
      val deg = u.groupBy("a").agg(count(lit(1)).as("d"))
      u.join(deg, "a").select(col("a"), col("b"), col("d"))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = graft.sources.Scratch.materialize(spark, s"rank_nodes:$ck")(
      eDeg.select(col("a"), col("d")).distinct())
    // every node has degree ≥ 1 (both directions); the count feeds both
    // the uniform init and the broadcast size guard
    val n = nodes.count()
    (n, nodes, eDeg)
  }

  def pageRank(spark: SparkSession, sfDir: String,
      iters: Int = 2, topN: Int = 20,
      bcastMaxNodes: Long = GraphBroadcastMaxNodes): DataFrame = {
    val (n, nodes, eDeg) = rankGraph(spark, sfDir, bcastMaxNodes)
    var ranks = nodes.select(col("a").as("v"), round(lit(1.0) / n, 12).as("r"))
    // previous round's checkpointed plan — its blocks die once the next
    // round is materialized, so release them instead of pinning one
    // node-sized relation per round until driver GC
    var prevCp: DataFrame = null
    for (_ <- 1 to iters) {
      // localCheckpoint truncates the lineage each round (node-sized
      // materialization on the executors) — without it every round
      // re-embeds all previous rounds' subtrees into each broadcast
      // build and the plan tree grows multiplicatively with iters, the
      // classic iterative-lineage blowup. The k-means loop solves the
      // same problem with its driver-side centroid holder; ranks are
      // node-sized, too big to literalize.
      val next = prRound(eDeg, ranks, n, bcastMaxNodes)
        .localCheckpoint() // eager: materialized before the old one dies
      if (prevCp != null) releaseLocalCheckpoint(prevCp)
      prevCp = next
      ranks = next
    }
    ranks.join(nodes.select(col("a").as("v"), col("d").as("degree")), "v")
      .select(col("v").as("node"), col("r").as("rank"), col("degree"))
      .orderBy(desc("rank"), asc("node"))
      .limit(topN)
  }

  /** One PageRank round: contributions flow a→b (r(a)/d(a) summed per
    * target b), damped and rounded to the 12-decimal grid — the
    * rounded-fixpoint contract that makes the iteration
    * DuckDB-replayable. Shared by [[pageRank]] and
    * [[pageRankTrajectory]] so the fixed-round top-N and the
    * convergence trajectory cannot drift. */
  private def prRound(eDeg: DataFrame, ranks: DataFrame, n: Long,
      bcastMaxNodes: Long): DataFrame =
    eDeg.join(maybeBroadcast(ranks, n, bcastMaxNodes),
        col("a") === col("v"))
      .select(col("b").as("v2"), (col("r") / col("d")).as("c"))
      .groupBy(col("v2").as("v"))
      .agg(round(lit(0.15) / n + lit(0.85) * sum("c"), 12).as("r"))

  /** [[prRound]] with the previous rank riding the SAME aggregate as a
    * self-message (r17 — the trajectory diff-fold fusion,
    * OPTIMIZATION_r16 candidate 2): each node's old rank enters the
    * contribution shuffle as one extra null-contribution row, so the
    * round output `(v, r, pr)` already pairs consecutive states and
    * the per-round convergence fold needs NO node-sized equi-join of
    * two checkpoints. Exactness: `sum(c)` ignores the null self-rows,
    * so `r` is the same damped sum as [[prRound]] (IEEE order inside
    * one engine's aggregate was never pinned — the 12-decimal round is
    * the contract); a node with no in-edges would surface with a null
    * `r` where [[prRound]] dropped it, so the caller filters
    * `r IS NOT NULL` — identical row set by construction (and on this
    * both-direction graph the case never occurs). */
  private def prRoundWithPrev(eDeg: DataFrame, ranks: DataFrame, n: Long,
      bcastMaxNodes: Long): DataFrame =
    eDeg.join(maybeBroadcast(ranks, n, bcastMaxNodes),
        col("a") === col("v"))
      .select(col("b").as("v2"), (col("r") / col("d")).as("c"),
        lit(null).cast("double").as("pr"))
      .unionByName(ranks.select(col("v").as("v2"),
        lit(null).cast("double").as("c"), col("r").as("pr")))
      .groupBy(col("v2").as("v"))
      .agg(round(lit(0.15) / n + lit(0.85) * sum("c"), 12).as("r"),
        max("pr").as("pr"))
      .filter(col("r").isNotNull)

  /** Round cap of [[pageRankTrajectory]] — the [[LpaTrajMaxRounds]]
    * design-point convention: damping 0.85 contracts the L1 delta
    * ~0.85× per round, so reaching the reference threshold from a
    * cold uniform start can take tens of rounds; the cap bounds the
    * replayable trajectory and a final over-threshold row IS the
    * answer ("not converged in 10 rounds"). */
  val PrTrajMaxRounds = 10

  /** Convergence threshold of [[pageRankTrajectory]] in picounits:
    * total L1 rank movement < 0.01 — the reference master's own stop
    * rule (`main/master/master.go:193-236`, delta < 0.01), expressed
    * on the exact integer pico grid the 12-decimal rounding already
    * defines. */
  val PrTrajL1ThresholdPico = 10000000000L

  /** CONVERGENCE trajectory of PageRank — the per-round delta signal
    * [[pageRank]]'s fixed 2 rounds lack (kcore peels to its fixpoint
    * and LPA has [[labelPropTrajectory]]; this closes the last
    * iterative graph operator without one): one row per round,
    * `(round, n_changed, l1_delta_pico)`, run until the total L1 rank
    * movement drops under [[PrTrajL1ThresholdPico]] (the explicit
    * sub-threshold row is the convergence row) or [[PrTrajMaxRounds]].
    * Deltas are EXACT integers: each round's ranks are already rounded
    * to the 12-decimal grid, so `round(r · 1e12)` is an exact integer
    * picocount on both engines (`r · 1e12` is the same IEEE product,
    * within ~1e-6 of its integer, and half-up/half-away agree on
    * positives). Each round's `sum(r/d)` is still an engine-local IEEE
    * sum whose accumulation order differs between Spark and DuckDB —
    * the 12-decimal round is what absorbs that order dependence (the
    * same accepted contract as `graph_pagerank`, here across every
    * node and round), an assumption the trajectory oracles pin
    * empirically rather than a proof (ADVICE r15).
    *
    * Scale shape: each round is [[prRoundWithPrev]] (one size-guarded
    * broadcast join + one node-keyed partial aggregate carrying the
    * previous rank as a self-message — the edge list is never
    * reshuffled and consecutive states need NO per-round equi-join)
    * plus one join-free (count, sum) fold over the round's checkpoint;
    * the driver sees two longs per round, the kcore/LPA trajectory
    * traffic. Lineage truncates per round via `localCheckpoint` with
    * eager release, checkpoints coalesced to the measured node count
    * with a core-count floor ([[sizedPartsFloor]]). The returned DuckDB
    * twin replays the rounds this call executed as chained materialized
    * CTEs and differences consecutive states on the identical pico
    * grid ([[prTrajOracleSqlFor]]). */
  def pageRankTrajectory(spark: SparkSession, sfDir: String,
      maxRounds: Int = PrTrajMaxRounds,
      thresholdPico: Long = PrTrajL1ThresholdPico,
      bcastMaxNodes: Long = GraphBroadcastMaxNodes): Checked = {
    import spark.implicits._
    val (n, nodes, eDeg) = rankGraph(spark, sfDir, bcastMaxNodes)
    val pico = (c: Column) => round(c * lit(1e12), 0).cast("long")
    // r17: the rank state is node-sized and CONSTANT across rounds —
    // coalesce each round's checkpoint to the measured size with a
    // floor at the session core count (the r16 round-2 recipe: the
    // coalesce propagates into the final aggregate's reduce tasks, so
    // the floor keeps that stage at full width while late node-sized
    // jobs stop paying the full shuffle-partition task count)
    val parts = sizedPartsFloor(spark, n)
    var ranks = nodes
      .select(col("a").as("v"), round(lit(1.0) / n, 12).as("r"))
      .coalesce(parts)
      .localCheckpoint()
    val rows = Seq.newBuilder[(Long, Long, Long)]
    var rnd = 1
    var done = false
    while (!done && rnd <= maxRounds) {
      // the previous rank rides the round's aggregate (diff-fold
      // fusion — [[prRoundWithPrev]]): the convergence fold below
      // reads ONE checkpoint, no per-round state join
      val next = prRoundWithPrev(eDeg, ranks.select(col("v"), col("r")),
          n, bcastMaxNodes)
        .coalesce(parts)
        .localCheckpoint()
      val d = next
        .select((pico(col("r")) - pico(col("pr"))).as("dp"))
        .agg(sum(when(col("dp") =!= 0L, 1L).otherwise(0L)).as("nc"),
          coalesce(sum(abs(col("dp"))), lit(0L)).as("l1"))
        .collect().head
      val (nChanged, l1) =
        (if (d.isNullAt(0)) 0L else d.getLong(0), d.getLong(1))
      rows += ((rnd.toLong, nChanged, l1))
      releaseLocalCheckpoint(ranks)
      ranks = next
      if (l1 < thresholdPico) done = true else rnd += 1
    }
    releaseLocalCheckpoint(ranks)
    val out = rows.result()
    Checked(out.toDF("round", "n_changed", "l1_delta_pico").orderBy("round"),
      Some(prTrajOracleSqlFor(out.length)))
  }

  /** The replayed-rounds trajectory SQL — ONE source for the absolute
    * and relative-threshold twins (both replay exactly the rounds the
    * call executed; the stop rule itself never crosses engines). Every
    * rank state is referenced by the next round AND its diff, so each
    * is a materialized CTE (the FIXTURES.md chain-CTE rule). */
  private def prTrajOracleSqlFor(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.b AS v, sum(r${i - 1}.r / deg.d) AS s
         |     FROM e JOIN r${i - 1} ON e.a = r${i - 1}.v
         |            JOIN deg ON e.a = deg.a GROUP BY e.b),
         |r$i AS MATERIALIZED (SELECT c$i.v, round(0.15 / nn.n + 0.85 * c$i.s, 12) AS r
         |     FROM c$i, nn)""".stripMargin
    }.mkString(",\n")
    val diffs = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST(coalesce(sum(CASE WHEN CAST(round(a.r * 1e12) AS BIGINT)
         |         <> CAST(round(b.r * 1e12) AS BIGINT) THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_changed,
         |  CAST(coalesce(sum(abs(CAST(round(a.r * 1e12) AS BIGINT)
         |         - CAST(round(b.r * 1e12) AS BIGINT))), 0) AS BIGINT) AS l1_delta_pico
         |FROM r$i a JOIN r${i - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |            FROM lineitem
       |            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
       |e AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |deg AS MATERIALIZED (SELECT a, count(*) AS d FROM e GROUP BY a),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT a AS v, round(1.0 / nn.n, 12) AS r FROM deg, nn),
       |$chain
       |$diffs
       |ORDER BY round""".stripMargin
  }

  /** Decay divisor of [[pageRankTrajectoryRel]]: the run stops at the
    * first round r ≥ 2 whose L1 movement satisfies
    * `divisor · l1_r < l1_1` — an EXACT integer comparison on the pico
    * grid, so the rule itself is engine-portable. With divisor 3 the
    * ×0.85 damping contraction guarantees crossing by round 8 on ANY
    * corpus (0.85⁷ < 1/3), so the convergence exit genuinely executes
    * inside the [[PrTrajMaxRounds]] cap — the branch the ABSOLUTE
    * threshold's ~31-round requirement leaves dead under the cap
    * (VERDICT r15 task 4). */
  val PrTrajRelDivisor = 3L

  /** RELATIVE-threshold convergence trajectory of PageRank — the
    * [[pageRankTrajectory]] loop with the stop rule
    * `PrTrajRelDivisor · l1_r < l1_1` (or `l1_r = 0`): movement
    * measured against the run's OWN first round instead of the
    * absolute [[PrTrajL1ThresholdPico]]. The absolute twin documents
    * the over-threshold-at-cap design point (the ×0.85 contraction
    * needs ~31 rounds to cross 0.01); this variant's exit fires by
    * round 8 on any corpus (see [[PrTrajRelDivisor]]), so the
    * convergence row — the explicitly sub-threshold final row — is
    * exercised in production code and pinned by the oracle replay.
    * Same rows, same exact pico integers, same per-round scale shape
    * as the absolute twin. */
  def pageRankTrajectoryRel(spark: SparkSession, sfDir: String,
      maxRounds: Int = PrTrajMaxRounds,
      divisor: Long = PrTrajRelDivisor,
      bcastMaxNodes: Long = GraphBroadcastMaxNodes): Checked = {
    import spark.implicits._
    val (n, nodes, eDeg) = rankGraph(spark, sfDir, bcastMaxNodes)
    val pico = (c: Column) => round(c * lit(1e12), 0).cast("long")
    // r17: sized-with-core-floor checkpoints + diff-fold fusion — see
    // [[pageRankTrajectory]]
    val parts = sizedPartsFloor(spark, n)
    var ranks = nodes
      .select(col("a").as("v"), round(lit(1.0) / n, 12).as("r"))
      .coalesce(parts)
      .localCheckpoint()
    val rows = Seq.newBuilder[(Long, Long, Long)]
    var l1First = 0L
    var rnd = 1
    var done = false
    while (!done && rnd <= maxRounds) {
      val next = prRoundWithPrev(eDeg, ranks.select(col("v"), col("r")),
          n, bcastMaxNodes)
        .coalesce(parts)
        .localCheckpoint()
      val d = next
        .select((pico(col("r")) - pico(col("pr"))).as("dp"))
        .agg(sum(when(col("dp") =!= 0L, 1L).otherwise(0L)).as("nc"),
          coalesce(sum(abs(col("dp"))), lit(0L)).as("l1"))
        .collect().head
      val (nChanged, l1) =
        (if (d.isNullAt(0)) 0L else d.getLong(0), d.getLong(1))
      rows += ((rnd.toLong, nChanged, l1))
      if (rnd == 1) l1First = l1
      releaseLocalCheckpoint(ranks)
      ranks = next
      if (l1 == 0L || (rnd >= 2 && divisor * l1 < l1First)) done = true
      else rnd += 1
    }
    releaseLocalCheckpoint(ranks)
    val out = rows.result()
    // the absolute twin's replay, cut at the rounds the relative rule ran
    Checked(out.toDF("round", "n_changed", "l1_delta_pico").orderBy("round"),
      Some(prTrajOracleSqlFor(out.length)))
  }

  /** Partition count sized to a MEASURED row count — for iterative
    * loops whose state shrinks (peels, frontiers): a `localCheckpoint`
    * pins its RDD's partition count against AQE coalescing, so without
    * this every late round pays the INITIAL partition count in fixed
    * per-task cost on near-empty data. Measured at sf10/200 shuffle
    * partitions: kcore 146.5 s → 57 s fresh-JVM once the per-round
    * checkpoints coalesce to the surviving edge count (~40 peel rounds
    * × several stages × 200 mostly-empty tasks was pure scheduler
    * overhead — PERF.md r14 "sf10 shared-pass inflation, resolved").
    * ~500k rows/partition ≈ 8-12 MB of (long, long) pairs; capped at
    * the session's shuffle parallelism so round 1 never loses width. */
  private def sizedParts(spark: SparkSession, rows: Long,
      rowsPerPart: Long = 500000L): Int = {
    val cap = math.max(1, spark.sessionState.conf.numShufflePartitions)
    math.max(1, math.min(cap.toLong, rows / rowsPerPart + 1)).toInt
  }

  /** [[sizedParts]] with a floor at the session core count (r17 — the
    * r16 round-2 coalescing recipe): a `coalesce(k)` before a
    * checkpoint propagates up the narrow chain into the final
    * aggregate's reduce tasks, so k below the core count serializes
    * the heavy per-round aggregate exactly where [[kcore]]'s cheap
    * per-node count never noticed (the r16 revert). The floor keeps
    * the aggregate at full machine width; the win is the per-task
    * scheduling the full shuffle-partition count wastes on node-sized
    * state (200 − cores tasks per round-job at the sf10 probe
    * convention). */
  private def sizedPartsFloor(spark: SparkSession, rows: Long,
      rowsPerPart: Long = 500000L): Int = {
    val cap = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    math.max(1, math.min(cap.toLong,
      math.max(cores.toLong, rows / rowsPerPart + 1))).toInt
  }

  /** Unpersist the RDD blocks behind a `localCheckpoint()`ed plan (they
    * are RDD-level persists, invisible to `spark.catalog.clearCache`).
    * Only safe once no live plan depends on the checkpoint — here, after
    * the NEXT round's checkpoint has materialized. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The part co-order projection (1997 window, same pushdown rationale
    * as [[pairs]]): distinct (a < b) part pairs appearing in the same
    * order — shared by [[triangles]] and [[kcore]]. The per-order pair
    * expansion is bounded by the order-size cap (≤7 lineitems/order in
    * this schema; a general corpus would cap the group like [[Dedup]]'s
    * posting lists). */
  private def coOrderEdges(spark: SparkSession, sfDir: String): DataFrame =
    // four queries walk this graph per pass (triangles, kcore, bfs,
    // label_prop) — the distinct self-join edge build MATERIALIZES once
    // per sfDir through the scratch registry (the winnow-index device)
    // and every consumer reads the 2-column parquet
    graft.sources.Scratch.materialize(spark, s"coorder_edges:${graft.sources.Scratch.corpusKey(sfDir)}") {
      val li = Tables(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
        .distinct()
      li.as("x").join(li.as("y"), Seq("o"))
        .where(col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
        .distinct()
    }

  /** Triangle census of the part co-order graph: distinct parts that
    * appear in the same 1997-window order are adjacent (the unipartite
    * projection of the order↔part graph — same analysis window and
    * pushdown rationale as [[pairs]]). Emits one row: node/edge/wedge
    * counts, the exact triangle count, and global transitivity
    * (3·triangles/wedges) in integer ppm (floor division — the
    * FIXTURES.md rounding-tie device).
    *
    * Algorithm: degree-ordered edge orientation, then wedge join +
    * closing-edge semi join (Suri & Vassilvitskii, WWW 2011). The
    * orientation is the scale device: directing every edge from its
    * (degree, id)-smaller endpoint bounds out-degree at O(√m), so the
    * wedge join's fan-out is Σ C(outdeg, 2) ≤ m·√m — not the Σ C(deg, 2)
    * of a naive neighbor join on hub-dominated graphs, and each triangle
    * materializes exactly once (no ÷6 correction pass). All equi-joins
    * and hash aggregates; the per-order pair expansion is bounded by the
    * order-size cap (≤7 lineitems per order in this schema — a general
    * corpus would cap the group like [[Dedup]]'s posting lists). */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesCensus(coOrderEdges(spark, sfDir))

  /** The census body of [[triangles]] over an arbitrary distinct
    * (a < b) edge relation — shared with the streaming edge ledger
    * ([[graft.streaming.EdgeLedgerStream]]) so the incremental view and
    * the batch operator cannot drift. */
  private[graft] def trianglesCensus(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("nd"))
      .groupBy("nd").agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = e
      .join(deg.select(col("nd").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("nd").as("b"), col("d").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val closed = dir.as("e1")
      .join(dir.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("tu"), col("e2.v").as("tw"))
      .join(dir.select(col("u").as("tu"), col("v").as("tw")),
        Seq("tu", "tw"), "left_semi")
    val triCount = closed.agg(count(lit(1)).as("n_triangles"))
    val counts = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(counts).crossJoin(triCount)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("3 * n_triangles * 1000000 div n_wedges").as("transitivity_ppm"))
  }

  /** DuckDB twin of [[triangles]] — identical window, orientation and
    * integer-ppm arithmetic. */
  def trianglesOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |            FROM lineitem
      |            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |e AS (SELECT DISTINCT x.p AS a, y.p AS b
      |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      |deg AS (SELECT nd, count(*) AS d
      |        FROM (SELECT a AS nd FROM e UNION ALL SELECT b AS nd FROM e)
      |        GROUP BY nd),
      |dir AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
      |                    THEN e.a ELSE e.b END AS u,
      |               CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
      |                    THEN e.b ELSE e.a END AS v
      |        FROM e JOIN deg da ON e.a = da.nd JOIN deg db ON e.b = db.nd),
      |tri AS (SELECT count(*) AS nt
      |        FROM dir e1 JOIN dir e2 ON e1.v = e2.u
      |        WHERE EXISTS (SELECT 1 FROM dir e3
      |                      WHERE e3.u = e1.u AND e3.v = e2.v)),
      |c AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |             (SELECT count(*) FROM e) AS n_edges,
      |             (SELECT sum(d * (d - 1) // 2) FROM deg) AS n_wedges,
      |             (SELECT nt FROM tri) AS n_triangles)
      |SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
      |       CAST(n_wedges AS BIGINT) AS n_wedges,
      |       CAST(n_triangles AS BIGINT) AS n_triangles,
      |       CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT) AS transitivity_ppm
      |FROM c""".stripMargin

  /** Degree threshold of [[kcore]]. */
  val CoreK = 3

  /** k-core peeling of the part co-order graph, run to the TRUE
    * fixpoint (not a fixed round count — the peel depth grows with
    * scale: 15 rounds at sf0.01, 27 at sf0.1, measured): each round
    * removes every node of degree < k, and the loop stops the first
    * round nothing changes. Output: one row per round —
    * (round, n_removed, n_nodes, n_edges) — the peeling TRAJECTORY,
    * ending in an explicit 0-removed convergence row, so the oracle
    * pins every round like the k-means `_trajectory` contracts.
    * n_removed is the node-set difference in the edge-set
    * representation (nodes whose last edge died count the round they
    * vanish), identical on both engines by construction.
    *
    * Scale shape: per round ONE degree aggregate (shuffle on the node
    * key) and ONE two-sided anti join against the low-degree node set
    * (node-sized, shrinking every round; its broadcast hint is
    * SIZE-GUARDED by the measured surviving node count — above
    * [[GraphBroadcastMaxNodes]] the anti joins co-partition on the
    * node key instead of forcing a broadcast build); the surviving edge
    * set is `localCheckpoint`ed and the previous round's blocks are
    * released eagerly — the [[pageRank]] iterative-lineage device. The
    * driver sees only the 4 counters per round. Round count is bounded
    * by the peel depth (O(√m) worst case, tens in practice), the same
    * bound any BSP peeling (e.g. Quick et al. k-core on Pregel) pays.
    *
    * The DuckDB twin replays the peel as a recursive CTE whose working
    * table carries the full surviving edge set per level — every
    * reference in the recursive term sees the PREVIOUS level
    * consistently (verified against an imperative replay; the
    * FIXTURES.md recursion hazards don't bite because no non-recursive
    * CTE is referenced in the recursive term and no list state rides
    * the recursion). */
  def kcore(spark: SparkSession, sfDir: String, k: Int = CoreK,
      bcastMaxNodes: Long = GraphBroadcastMaxNodes): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    var cur = coOrderEdges(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r16 round restructure: ONE edge-wide degree aggregate per round,
    // checkpointed, drives EVERYTHING — the low-degree peel set (a
    // node-sized filter over the checkpoint), the per-round stats
    // (nodes = deg rows, edges = Σd/2 — a node-sized fold, replacing
    // the old edge-wide explode+countDistinct scan), and the
    // convergence test (n_bad = 0 read from the SAME fold, so the
    // final 0-removed round costs no anti joins at all; old shape ran
    // the full peel once more to observe nothing changed). Net: 2
    // edge-wide passes per round instead of 3, and the broadcast
    // guard tightens from the surviving-node UPPER BOUND to the
    // MEASURED bad-set size.
    def degOf(e: DataFrame, parts: Int): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("nd"))
        .groupBy("nd").agg(count(lit(1)).as("d"))
        .coalesce(parts)
        .localCheckpoint()
    // (n_nodes, n_edges, n_bad) in ONE node-sized job over deg
    def statsOf(deg: DataFrame): (Long, Long, Long) = {
      val r = deg.agg(count(lit(1)).as("nn"), sum("d").as("d2"),
        sum(when(col("d") < k, 1L).otherwise(0L)).as("nb"))
        .collect().head
      if (r.isNullAt(1)) (0L, 0L, 0L)
      else (r.getLong(0), r.getLong(1) / 2, r.getLong(2))
    }
    var deg = degOf(cur, spark.sessionState.conf.numShufflePartitions)
    var (prevNodes, prevEdges, nBad) = statsOf(deg)
    val rows = Seq.newBuilder[(Long, Long, Long, Long)]
    var round = 1L
    var prevCp: DataFrame = null
    while (nBad > 0L) {
      val bad = deg.filter(col("d") < lit(k.toLong)).select("nd")
      // guarded by the MEASURED bad-set size (exact, from the stats
      // fold) instead of the surviving-node upper bound
      val badA = maybeBroadcast(bad.withColumnRenamed("nd", "a"),
        nBad, bcastMaxNodes)
      val badB = maybeBroadcast(bad.withColumnRenamed("nd", "b"),
        nBad, bcastMaxNodes)
      // the surviving edge set shrinks round over round: size this
      // round's checkpoint partitioning to the PREVIOUS round's measured
      // edge count so late rounds don't pay full-width task scheduling
      // over near-empty partitions (the checkpoint RDD pins its
      // partition count — AQE cannot re-coalesce an RDD scan)
      val next = cur
        .join(badA, Seq("a"), "left_anti")
        .join(badB, Seq("b"), "left_anti")
        .select("a", "b")
        .coalesce(sizedParts(spark, prevEdges))
        .localCheckpoint()
      val degNext = degOf(next, sizedParts(spark, prevNodes))
      releaseLocalCheckpoint(deg) // degNext materialized; old deg dead
      val (nNodes, nEdges, nb) = statsOf(degNext)
      // bad nodes all carried ≥ 1 edge, so nBad > 0 removes them all:
      // nNodes < prevNodes strictly — every peel round records removals
      rows += ((round, prevNodes - nNodes, nNodes, nEdges))
      if (prevCp != null) releaseLocalCheckpoint(prevCp)
      else cur.unpersist(blocking = false)
      prevCp = next
      cur = next
      deg = degNext
      prevNodes = nNodes
      prevEdges = nEdges
      nBad = nb
      round += 1
    }
    // n_bad == 0 ⟺ the peel would remove nothing (the old shape ran
    // the full anti-join round to observe this) — the explicit
    // convergence row, same contract
    rows += ((round, 0L, prevNodes, prevEdges))
    releaseLocalCheckpoint(deg)
    if (prevCp != null) releaseLocalCheckpoint(prevCp)
    else cur.unpersist(blocking = false)
    rows.result().toDF("round", "n_removed", "n_nodes", "n_edges")
      .orderBy("round")
  }

  /** DuckDB twin of [[kcore]] — the recursive-CTE peel, every level's
    * node/edge counts re-derived and differenced identically. */
  def kcoreOracle(k: Int = CoreK): String =
    s"""WITH RECURSIVE
       |li AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |       FROM lineitem
       |       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |         AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
       |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
       |       FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |peel(r, a, b) AS (
       |  SELECT 0, a, b FROM e0
       |  UNION ALL
       |  SELECT p.r + 1, p.a, p.b
       |  FROM peel p
       |  WHERE p.a NOT IN (SELECT nd FROM (SELECT a AS nd FROM peel
       |                                    UNION ALL SELECT b AS nd FROM peel) t
       |                    GROUP BY nd HAVING count(*) < $k)
       |    AND p.b NOT IN (SELECT nd FROM (SELECT a AS nd FROM peel
       |                                    UNION ALL SELECT b AS nd FROM peel) t
       |                    GROUP BY nd HAVING count(*) < $k)
       |    AND EXISTS (SELECT 1 FROM (SELECT a AS nd FROM peel
       |                               UNION ALL SELECT b AS nd FROM peel) t
       |                GROUP BY nd HAVING count(*) < $k)),
       |lv AS (SELECT r, count(*) AS n_edges FROM peel GROUP BY r),
       |nd AS (SELECT r, count(DISTINCT nd) AS n_nodes
       |       FROM (SELECT r, a AS nd FROM peel UNION ALL SELECT r, b AS nd FROM peel)
       |       GROUP BY r),
       |j AS (SELECT lv.r, nd.n_nodes, lv.n_edges,
       |             lag(nd.n_nodes) OVER (ORDER BY lv.r) AS prev_nodes
       |      FROM lv JOIN nd USING (r)),
       |fin AS (SELECT r, n_nodes, n_edges FROM j WHERE r = (SELECT max(r) FROM j)),
       |die AS (SELECT EXISTS (
       |          SELECT 1 FROM (SELECT a AS nd FROM peel WHERE r = (SELECT max(r) FROM j)
       |                         UNION ALL SELECT b AS nd FROM peel WHERE r = (SELECT max(r) FROM j)) t
       |          GROUP BY nd HAVING count(*) < $k) AS all_die),
       |out AS (
       |  SELECT r AS round, prev_nodes - n_nodes AS n_removed, n_nodes, n_edges
       |  FROM j WHERE r >= 1
       |  UNION ALL
       |  SELECT f.r + 1,
       |         CASE WHEN d.all_die THEN f.n_nodes ELSE 0 END,
       |         CASE WHEN d.all_die THEN 0 ELSE f.n_nodes END,
       |         CASE WHEN d.all_die THEN 0 ELSE f.n_edges END
       |  FROM fin f, die d
       |  UNION ALL
       |  SELECT f.r + 2, 0, 0, 0 FROM fin f, die d WHERE d.all_die)
       |SELECT CAST(round AS BIGINT) AS round, CAST(n_removed AS BIGINT) AS n_removed,
       |       CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
       |FROM out ORDER BY round""".stripMargin

  /** Hop levels evaluated by [[bfs]] — shared with the oracle builder. */
  val BfsLevels = 6

  /** Breadth-first reachability profile of the part co-order graph:
    * from the minimum node id, expand exactly [[BfsLevels]] frontier
    * hops and report per level the newly-reached node count and the
    * exact reached-id sum (pins the SET, not just its size) — the
    * "how connected is this catalog" diagnostic, and the graph-
    * traversal class ([[pageRank]] = value iteration, [[kcore]] =
    * peeling, [[dedup_components]] = closure; BFS is the missing
    * frontier-expansion shape). Levels past exhaustion emit (0, 0)
    * rows, so the output is always levels+1 rows — fixed-shape like
    * [[pageRank]]'s fixed rounds, with no data-dependent recursion for
    * the oracle to chase.
    *
    * Scale shape: per level ONE equi-join of the cached undirected edge
    * list against the frontier (size-guarded broadcast — the
    * [[maybeBroadcast]] device; above the guard it co-partitions on the
    * node key) + one anti join against the visited set, both
    * `localCheckpoint`ed with eager release (the [[pageRank]] lineage
    * device). The driver sees 2 longs per level. */
  def bfs(spark: SparkSession, sfDir: String, levels: Int = BfsLevels,
      bcastMaxNodes: Long = GraphBroadcastMaxNodes): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val e = coOrderEdges(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val srcRow = e.agg(min(col("a"))).collect().head
    val rows = Seq.newBuilder[(Long, Long, Long)]
    if (srcRow.isNullAt(0)) {
      // empty graph: a fixed all-zero profile keeps the shape stable
      (0 to levels).foreach(l => rows += ((l.toLong, 0L, 0L)))
      e.unpersist(blocking = false)
      return rows.result().toDF("level", "n_new", "id_sum").orderBy("level")
    }
    val src = srcRow.getLong(0)
    rows += ((0L, 1L, src))
    var visited = Seq(src).toDF("nd").localCheckpoint()
    var frontier = visited
    var visitedN = 1L
    var frontierN = 1L
    for (l <- 1 to levels) {
      // each side is guarded by ITS OWN measured size: a late small
      // frontier keeps its broadcast even after the visited set has
      // outgrown the limit (r12 self-review)
      val cand = u
        .join(maybeBroadcast(frontier, frontierN, bcastMaxNodes),
          col("a") === col("nd"))
        .select(col("b").as("nd")).distinct()
      val next = cand
        .join(maybeBroadcast(visited, visitedN, bcastMaxNodes),
          Seq("nd"), "left_anti")
        .localCheckpoint()
      val agg = next
        .agg(count(lit(1)).as("n"), coalesce(sum(col("nd")), lit(0L)).as("s"))
        .collect().head
      val (n, s) = (agg.getLong(0), agg.getLong(1))
      rows += ((l.toLong, n, s))
      val grown = visited.unionByName(next).localCheckpoint()
      // frontier and the old visited are dead once grown is material
      // (at l = 1 they share one RDD — released exactly once here)
      if (frontier ne visited) releaseLocalCheckpoint(frontier)
      releaseLocalCheckpoint(visited)
      frontier = next
      visited = grown
      visitedN += n
      frontierN = n
    }
    releaseLocalCheckpoint(frontier)
    releaseLocalCheckpoint(visited)
    e.unpersist(blocking = false)
    rows.result().toDF("level", "n_new", "id_sum").orderBy("level")
  }

  /** DuckDB twin of [[bfs]] — the same fixed-hop chain as MATERIALIZED
    * CTEs (each level references the previous one several times; DuckDB
    * v1.0 inlines a copy per consumer otherwise — the FIXTURES.md
    * chain-CTE rule). */
  def bfsOracle(levels: Int = BfsLevels): String = {
    val chain = (1 to levels).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT u.b AS nd FROM f${i - 1} JOIN u ON u.a = f${i - 1}.nd
         |  WHERE u.b NOT IN (SELECT nd FROM v${i - 1})),
         |v$i AS MATERIALIZED (SELECT nd FROM v${i - 1} UNION ALL SELECT nd FROM f$i)""".stripMargin
    }.mkString(",\n")
    val lvls = (1 to levels).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_new,
         |       CAST(coalesce(sum(nd), 0) AS BIGINT) AS id_sum FROM f$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |            FROM lineitem
       |            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
       |                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |u AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
       |v0 AS MATERIALIZED (SELECT min(a) AS nd FROM e0),
       |f0 AS MATERIALIZED (SELECT nd FROM v0),
       |$chain
       |SELECT CAST(0 AS BIGINT) AS level,
       |       CAST(CASE WHEN (SELECT nd FROM v0) IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_new,
       |       CAST(coalesce((SELECT nd FROM v0), 0) AS BIGINT) AS id_sum
       |UNION ALL
       |$lvls
       |ORDER BY level""".stripMargin
  }

  /** Synchronous label-propagation rounds for [[labelProp]]. */
  val LpaRounds = 4

  /** Communities emitted by [[labelProp]]. */
  val LpaTopK = 50

  /** Label-propagation community detection (Raghavan et al., Phys. Rev.
    * E 2007) on the part co-order graph, made fully deterministic: every
    * node starts labeled with its own id, and each SYNCHRONOUS round
    * relabels every node with the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label — integer counts
    * and a lexicographic (count desc, label asc) tie order, so the
    * round-R state is engine-exact (the async/random-order variants of
    * LPA are irreproducible by construction). Exactly [[LpaRounds]]
    * rounds — the fixed-round contract every iterative oracle here
    * rides ([[pageRank]], [[bfs]]). Output: the [[LpaTopK]] largest
    * round-R communities as (label, n_nodes, min_node, id_sum) — the
    * histogram pins every node's final label through the sums.
    *
    * Scale shape: one round = one equi-join of the node-sized label
    * relation to the edge list (both shuffle on the node key,
    * co-partitioned across rounds) + one (node, label)-keyed count +
    * one node-partitioned top-1 window — all edge-bounded, nothing
    * driver-side; `localCheckpoint` truncates lineage per round (the
    * [[kcore]] device) so the plan doesn't nest across rounds. The
    * final top-K is a TakeOrderedAndProject over the label histogram
    * (community-count-sized), never a full sort. */
  /** One synchronous LPA round: relabel every node with the most
    * frequent neighbor label. Argmax by (count desc, label asc) as
    * max_by over the composite (c, -lbl) — a hash aggregate with
    * map-side partials instead of a node-partitioned sort window (same
    * wall at sf1, 11.2 s standalone: the round is edge-build/join
    * dominated — but the agg shape partial-combines and never sorts,
    * which is the posture that matters when per-node label multiplicity
    * grows at corpus scale); keys are unique per (node, lbl) so the
    * composite never ties and the pick is deterministic. Shared by
    * [[labelProp]] and [[labelPropTrajectory]] so the fixed-round
    * histogram and the convergence trajectory cannot drift. */
  private def lpaRound(u: DataFrame, labels: DataFrame): DataFrame =
    u.join(labels, col("a") === col("v"))
      .groupBy(col("b").as("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy("node")
      .agg(max_by(col("lbl"), struct(col("c"), negate(col("lbl")))).as("lbl"))
      .select(col("node").as("v"), col("lbl"))

  /** [[lpaRound]] with the previous label riding the SAME argmax
    * aggregate as a zero-count self-message (r17 — the trajectory
    * diff-fold fusion): each node's current label enters the second
    * aggregate as one extra `c = 0` row, which can never win the
    * (count desc, label asc) argmax against a real neighbor count
    * (≥ 1) and is recovered exactly by `max(when(c = 0, lbl))` —
    * one self-row per node, so the round output `(v, lbl, prev)`
    * already pairs consecutive states and the per-round diff fold
    * needs NO node-sized equi-join of two checkpoints. The picked
    * label is bit-identical to [[lpaRound]]'s. */
  private def lpaRoundWithPrev(u: DataFrame, labels: DataFrame): DataFrame =
    u.join(labels, col("a") === col("v"))
      .groupBy(col("b").as("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .unionByName(labels.select(col("v").as("node"), col("lbl"),
        lit(0L).as("c")))
      .groupBy("node")
      .agg(max_by(col("lbl"), struct(col("c"), negate(col("lbl")))).as("lbl"),
        max(when(col("c") === 0L, col("lbl"))).as("prev"))
      .select(col("node").as("v"), col("lbl"), col("prev"))

  /** The round-[[LpaRounds]] synchronous LPA label state `(v, lbl)` —
    * the same deterministic partition FOUR queries in a pass derive
    * from ([[labelProp]], [[modularity]], [[louvainMove]],
    * [[louvain]]): r16 optimization — materialized once per corpus
    * through the scratch registry (the [[coOrderEdges]] device; each
    * consumer previously re-ran the identical 4 rounds, ~4 edge-keyed
    * join+aggregate cycles apiece). The build is the PURE 4-round plan
    * (a static chain — round count is a compile-time constant, so no
    * per-round checkpoint is needed and the whole state derivation
    * runs as one job whose plan the scratch gate can audit). Only a
    * non-default `rounds` (tests) bypasses the registry. */
  private[operators] def lpaLabels(spark: SparkSession, sfDir: String,
      rounds: Int = LpaRounds): DataFrame = {
    def build = {
      val e = coOrderEdges(spark, sfDir)
      val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      // u carries both directions, so every node appears on the a side
      var labels = u.select(col("a").as("v")).distinct()
        .withColumn("lbl", col("v"))
      for (_ <- 1 to rounds) labels = lpaRound(u, labels)
      labels
    }
    if (rounds == LpaRounds)
      graft.sources.Scratch.materialize(spark,
        s"lpa_labels:$rounds:${graft.sources.Scratch.corpusKey(sfDir)}")(build)
    else build
  }

  def labelProp(spark: SparkSession, sfDir: String, rounds: Int = LpaRounds,
      topK: Int = LpaTopK): DataFrame = {
    val labels = lpaLabels(spark, sfDir, rounds)
    val out = labels.groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_nodes"), min("v").as("min_node"),
        sum("v").as("id_sum"))
      .orderBy(col("n_nodes").desc, col("label").asc)
      .limit(topK)
    // the result is k rows; materialize into a deterministic 1-partition
    // relation (the pre-r16 shape, kept so downstream ordering is stable)
    val rows = out.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
      .orderBy(col("n_nodes").desc, col("label").asc)
  }

  /** Shared oracle prefix of the LPA family (no leading WITH): the
    * co-order edge build, both edge directions, and the self-labeled
    * round-0 state. */
  private def lpaOracleBase: String =
    """li AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |       FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |         AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
      |                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      |u AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS lbl FROM u)""".stripMargin

  /** The chained per-round relabel CTEs `l1..l$rounds` — identical
    * (count desc, label asc) tie order as [[lpaRound]]. */
  private def lpaOracleRounds(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node AS v, lbl FROM (
         |    SELECT u.b AS node, l.lbl, count(*) AS c,
         |           row_number() OVER (PARTITION BY u.b
         |                              ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM u JOIN l${i - 1} l ON u.a = l.v GROUP BY u.b, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** DuckDB twin of [[labelProp]] — the identical synchronous rounds as
    * chained materialized CTEs with the identical (count desc, label)
    * tie order. */
  def labelPropOracle(rounds: Int = LpaRounds, topK: Int = LpaTopK): String =
    s"""WITH $lpaOracleBase,
       |${lpaOracleRounds(rounds)}
       |SELECT lbl AS label, count(*) AS n_nodes,
       |       CAST(min(v) AS BIGINT) AS min_node,
       |       CAST(sum(v) AS BIGINT) AS id_sum
       |FROM l$rounds GROUP BY lbl
       |ORDER BY n_nodes DESC, label LIMIT $topK""".stripMargin

  /** Round cap of [[labelPropTrajectory]]. A MEASURED design point, not
    * a backstop that normally goes unused: on the sf0.01 co-order graph
    * synchronous min-tie LPA never reaches a fixpoint — a driver replay
    * shows n_changed decaying 1707 → 926 over 10 rounds, then plateauing
    * near 860 (≈ a third of the graph oscillating in 2-cycles, the
    * dense-clique analogue of Raghavan et al. §3's bipartite
    * oscillation) with the first exact 2-cycle only at round 27. So
    * "run to oscillation" costs ~7× the useful signal; the cap bounds
    * the trajectory at the knee of the decay, and a non-zero final
    * n_changed IS the convergence answer ("not stabilized in 10 sync
    * rounds"), exactly what the fixed-round [[labelProp]] histogram
    * cannot say. A corpus that does stabilize exits early with the
    * explicit 0 row (the [[kcore]] device). */
  val LpaTrajMaxRounds = 10

  /** CONVERGENCE trajectory of synchronous LPA — the signal
    * [[labelProp]]'s fixed rounds lack (a community-detection user
    * needs to know whether labels stabilized): one row per round,
    * `(round, n_changed, changed_id_sum)`, run to the first round where
    * NO label changes (emitted as an explicit `(R, 0, 0)` convergence
    * row — the [[kcore]] zero-removed device) or [[LpaTrajMaxRounds]].
    * `changed_id_sum` pins the SET of relabeled nodes, not just its
    * size (the [[bfs]] id-sum device).
    *
    * Scale shape: each round is [[lpaRoundWithPrev]] (edge-bounded
    * join + two hash aggregates, the previous label riding the argmax
    * as a zero-count self-message so consecutive states need NO
    * per-round equi-join) plus one join-free (count, sum) fold over
    * the round's checkpoint — the driver sees two longs per round,
    * exactly the kcore trajectory traffic. Lineage truncates per
    * round via `localCheckpoint` with eager release, checkpoints
    * coalesced to the measured node count with a core-count floor
    * ([[sizedPartsFloor]]). The returned DuckDB twin replays the rounds
    * this call executed as chained CTEs and differences consecutive
    * states identically ([[labelPropTrajectorySql]]). */
  def labelPropTrajectory(spark: SparkSession, sfDir: String,
      maxRounds: Int = LpaTrajMaxRounds): Checked = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val e = coOrderEdges(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    var labels = u.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v")).localCheckpoint()
    val rows = Seq.newBuilder[(Long, Long, Long)]
    var round = 1
    var done = false
    // r17: the label state is node-sized and constant-cardinality —
    // size each round's checkpoint off the previous fold's measured
    // node count with a core-count floor ([[sizedPartsFloor]]; round 1
    // keeps full width), and let the previous label ride the round's
    // own argmax ([[lpaRoundWithPrev]]) so the diff fold below reads
    // ONE checkpoint with no per-round state join
    var nNodes = -1L
    while (!done && round <= maxRounds) {
      val fused = lpaRoundWithPrev(u, labels.select(col("v"), col("lbl")))
      val next = (if (nNodes < 0) fused
        else fused.coalesce(sizedPartsFloor(spark, nNodes)))
        .localCheckpoint()
      val d = next
        .agg(
          sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L)).as("nc"),
          coalesce(sum(when(col("lbl") =!= col("prev"), col("v"))), lit(0L))
            .as("s"),
          count(lit(1)).as("nn"))
        .collect().head
      val (nChanged, idSum) =
        (if (d.isNullAt(0)) 0L else d.getLong(0), d.getLong(1))
      nNodes = d.getLong(2)
      rows += ((round.toLong, nChanged, idSum))
      releaseLocalCheckpoint(labels)
      labels = next
      if (nChanged == 0) done = true else round += 1
    }
    releaseLocalCheckpoint(labels)
    e.unpersist(blocking = false)
    val out = rows.result()
    Checked(out.toDF("round", "n_changed", "changed_id_sum").orderBy("round"),
      Some(labelPropTrajectorySql(out.length)))
  }

  /** Newman modularity of the round-[[LpaRounds]] LPA partition — the
    * quality number a community-detection user reads next to the
    * [[labelProp]] histogram and the [[labelPropTrajectory]] signal:
    * Q = Σ_c (e_c/m − (d_c/2m)²), evaluated EXACTLY as the integer
    * rational Σ_c (4m·e_c − d_c²) / 4m² and emitted as a sign-separated
    * truncating ppm (the FIXTURES.md division device; Q ∈ [−½, 1]).
    * Output: one row — (n_communities, n_edges, q_ppm).
    *
    * Scale shape: the LPA rounds are [[lpaRound]] (edge-bounded); on
    * top, ONE edge→label equi-join pair counts intra-community edges
    * (e_c), ONE node-degree aggregate joins labels for d_c, and the
    * community-sized term relation folds to a single row — every
    * per-community product stays in DECIMAL(38,0) (4m·e_c and d_c² both
    * ≈ 4·10¹⁴ at sf10, ~10²⁶ at 10¹² edges — inside 38 digits while
    * int64 dies at ~3·10⁹ edges). The DuckDB twin replays the same
    * rounds ([[lpaOracleRounds]]) and folds the identical rational in
    * HUGEINT. */
  def modularity(spark: SparkSession, sfDir: String,
      rounds: Int = LpaRounds): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val e = coOrderEdges(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val labels = lpaLabels(spark, sfDir, rounds)
    val m = e.count()
    val deg = u.groupBy("a").agg(count(lit(1)).as("d"))
    // r17: single-edge-join pricing (see [[qNumRowU]]) — the old form
    // joined the edge list with the labels twice
    val (nComm, num) = qNumRowU(u, labels, deg, m)
    e.unpersist(blocking = false)
    Seq((nComm, m, qPpm(num, m)))
      .toDF("n_communities", "n_edges", "q_ppm")
  }

  /** The one folded pricing row over a per-community `(dc, ec)`
    * relation — community count and the exact integer numerator
    * Σ_c (4m·e_c − d_c²) of Newman Q over the fixed denominator 4m².
    * ONE fold shared by every pricing path ([[modularity]],
    * [[louvainMove]], [[louvain]]'s three boundary prices) so the
    * arithmetic cannot drift between them. Every per-community product
    * stays in DECIMAL(38,0) (4m·e_c and d_c² both ≈ 4·10¹⁴ at sf10,
    * ~10²⁶ at 10¹² edges — inside 38 digits while int64 dies at
    * ~3·10⁹ edges); the single (count, sum) row collects, numerator
    * exact in BigInt. `ec` may be null (a community with no intra
    * edges). */
  private def qNumFold(dcEc: DataFrame, m: Long): (Long, BigInt) = {
    val row = dcEc
      .select(
        (lit(4L * m).cast("decimal(38,0)") *
          coalesce(col("ec"), lit(0L)).cast("decimal(38,0)") -
          col("dc").cast("decimal(38,0)") * col("dc").cast("decimal(38,0)"))
          .as("t"))
      .agg(count(lit(1)).as("n_communities"), sum("t").as("num"))
      .collect().head
    (row.getLong(0),
      if (row.isNullAt(1)) BigInt(0)
      else BigInt(row.getDecimal(1).toBigInteger))
  }

  /** Exact Q pricing of a (v, lbl) partition from the both-direction
    * edge list. r17 (guide §2.3/§2.4): ONE edge-wide join instead of
    * the old two — e_c is recovered from the per-(node,
    * neighbor-community) mass kic as Σ_{a: lbl(a)=c} k_{a,c} = 2·e_c
    * (u carries both directions, so every intra-community edge
    * contributes once at each endpoint; the sum is even and the
    * halving exact integer division), so the edge list joins labels
    * once (neighbor side) and everything downstream is
    * kic/node/community-sized. Identical integers to the old
    * two-join form by construction. */
  private def qNumRowU(u: DataFrame, labels: DataFrame, deg: DataFrame,
      m: Long): (Long, BigInt) = {
    val kic = u
      .join(labels.select(col("v").as("b"), col("lbl").as("nl")), "b")
      .groupBy(col("a"), col("nl")).agg(count(lit(1)).as("k"))
    val ec2 = kic
      .join(labels.select(col("v").as("a"), col("lbl")), "a")
      .filter(col("nl") === col("lbl"))
      .groupBy("lbl").agg(sum("k").as("k2"))
    val dc = deg
      .join(labels.select(col("v").as("a"), col("lbl")), "a")
      .groupBy("lbl").agg(sum("d").as("dc"))
    qNumFold(dc.join(ec2, Seq("lbl"), "left")
      .select(col("dc"), expr("coalesce(k2, 0) div 2").as("ec")), m)
  }

  /** Exact Q pricing from the single-direction edge list — the
    * two-join form (e ⋈ labels on a ⋈ labels on b, filter la = lb):
    * exactly 2 edge-wide exchanges with the intra-community filter
    * BEFORE the aggregate. Kept alongside [[qNumRowU]] because the two
    * shapes price differently per partition: [[qNumRowU]]'s kic
    * aggregate exchanges up to 2m (node, label) partials (compressing
    * only as well as the partition's labels have coalesced), while
    * this form always exchanges exactly 2m edge rows — measured at
    * sf10, the two-join form wins for a single standalone pricing
    * (louvainMove's after-price) and kic wins when the aggregate is
    * shared ([[modularity]]). */
  private def qNumRowE(e: DataFrame, labels: DataFrame, deg: DataFrame,
      m: Long): (Long, BigInt) = {
    val ec = e
      .join(labels.select(col("v").as("a"), col("lbl").as("la")), "a")
      .join(labels.select(col("v").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("ec"))
    val dc = deg
      .join(labels.select(col("v").as("a"), col("lbl")), "a")
      .groupBy("lbl").agg(sum("d").as("dc"))
    qNumFold(dc.join(ec, Seq("lbl"), "left").select(col("dc"), col("ec")), m)
  }

  /** Exact Q pricing of a pick's INPUT partition from the pick's own
    * output — [[louvainPick]] carries per node the mass into its own
    * community (`k_own`, Σ_{a: lbl(a)=c} k_own = 2·e_c — the
    * [[qNumRowU]] identity) and its degree, so pricing the partition a
    * pass started from is a node-sized aggregate with NO edge-wide
    * work at all (r17, guide §2.4: the pick already paid the edge
    * join; the pricing rides its checkpoint). */
  private def qNumFromPicked(picked: DataFrame, m: Long): (Long, BigInt) =
    qNumFold(picked.groupBy("lbl")
      .agg(sum("d").as("dc"), expr("sum(k_own) div 2").as("ec")), m)

  /** Sign-separated truncating ppm of num / 4m² — identical floor
    * semantics as the pre-factor Spark expression and the HUGEINT
    * oracle replay (the FIXTURES.md division device). */
  private def qPpm(num: BigInt, m: Long): Long =
    if (m == 0) 0L
    else (BigInt(num.signum) *
      ((num.abs * 1000000) / (4 * BigInt(m) * BigInt(m)))).toLong

  /** One synchronous Louvain-style local-move pass on the
    * round-[[LpaRounds]] LPA partition, priced exactly (Blondel et
    * al., J. Stat. Mech. 2008 §2): every node's candidate set is its
    * neighbors' communities plus its own, and joining community c
    * scores the exact integer gain 4m·k_{i,c} − 2·d_i·D'_c over the
    * fixed denominator 4m², with the remove-the-node-first convention
    * D'_c = D_c − d_i when c is the node's own community (so staying
    * prices the same rational as leaving and rejoining, and the
    * argmax is a true local-move choice). Ties break to the smallest
    * candidate label; a node moves when the argmax differs from its
    * current label. Output: one row —
    * (n_nodes, n_moved, q_before_ppm, q_after_ppm), Q priced by the
    * [[modularity]] rational ([[qNumFold]] over the exact per-community (dc, ec) integers) before and after the pass.
    *
    * Synchronous-move caveat (a documented design point): all nodes
    * decide against the OLD partition simultaneously — colliding
    * moves can in principle lower Q (classic Louvain moves
    * sequentially, which no engine-exact replay can express at
    * scale); on real community structure one synchronous pass raises
    * Q, the spec pins q_after ≥ q_before on the fixture, and the
    * emitted before/after pair IS the measurement either way.
    *
    * Scale shape: the LPA rounds are [[lpaRound]] (edge-bounded); on
    * top, ONE edge→label join for k_{i,c} (edge-bounded), node-sized
    * degree and community-degree aggregates, one (node, candidate)-
    * keyed max_by argmax (hash aggregate with map-side partials — no
    * sort window), and two pricings — the before-price a node-sized
    * fold over the pick's checkpoint ([[qNumFromPicked]]), the
    * after-price one edge-wide join ([[qNumRowU]]). Driver traffic: 3
    * single-row collects. */
  def louvainMove(spark: SparkSession, sfDir: String,
      rounds: Int = LpaRounds): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val e = coOrderEdges(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    // r16: the round-4 LPA start state comes from the shared scratch
    // materialization instead of re-running the rounds here
    val labels = lpaLabels(spark, sfDir, rounds)
    val m = e.count()
    // degrees are a graph property (move passes don't change them):
    // checkpoint the node-sized relation ONCE and reuse it in the pick
    // and both pricings — each previously re-aggregated it edge-wide
    val deg = u.groupBy("a").agg(count(lit(1)).as("d")).localCheckpoint()
    val picked = louvainPick(m, u, deg, labels).localCheckpoint()
    // r17 (guide §2.4): the before-pricing rides the pick's checkpoint
    // (node-sized — see [[qNumFromPicked]]); it previously re-joined
    // the edge list with the labels twice
    val (_, numBefore) = qNumFromPicked(picked, m)
    val mv = picked
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(when(col("nl") =!= col("lbl"), 1L).otherwise(0L)),
          lit(0L)).as("n_moved"))
      .collect().head
    val (nNodes, nMoved) = (mv.getLong(0), mv.getLong(1))
    val l2 = picked.select(col("a").as("v"), col("nl").as("lbl"))
    // after-pricing: the two-join form (see [[qNumRowE]] — the kic
    // variant measured slower here at sf10)
    val (_, numAfter) = qNumRowE(e, l2, deg, m)
    releaseLocalCheckpoint(picked)
    releaseLocalCheckpoint(deg)
    e.unpersist(blocking = false)
    Seq((nNodes, nMoved, qPpm(numBefore, m), qPpm(numAfter, m)))
      .toDF("n_nodes", "n_moved", "q_before_ppm", "q_after_ppm")
  }

  /** One synchronous local-move argmax over a partition: for every
    * node (or supernode) the candidate community maximizing the exact
    * integer gain 4m·k_{i,c} − 2·d_i·D'_c with the
    * remove-the-node-first convention (D'_c = D_c − d_i when c is the
    * node's own community), ties to the smallest label — returns
    * `(a, nl, lbl, k_own, d)`: the chosen and the current community
    * per node, plus the node's mass into its OWN community and its
    * degree (r17 — [[qNumFromPicked]] prices the input partition off
    * these two columns with no further edge-wide work).
    * Shared by [[louvainMove]] (one pass on the original graph) and
    * [[louvain]] (passes to fixpoint, then a weighted pass on the
    * contracted graph) so the pricing cannot drift between the two.
    *
    * `weighted = true` reads a `w` column off `u` (contracted edge
    * weights — original edge counts, so the rational stays exact) and
    * sums it for k_{i,c}; `deg` must then be the WEIGHTED degree
    * (2·self-loop weight included), which for a contraction equals
    * D_c of the partition being contracted. */
  private def louvainPick(m: Long, u: DataFrame, deg: DataFrame,
      labels: DataFrame, weighted: Boolean = false): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // D_c of the current partition
    val dc = deg.join(labels.select(col("v").as("a"), col("lbl")), "a")
      .groupBy("lbl").agg(sum("d").as("dc"))
    // k_{i,c}: per node, (weighted) neighbor mass into each
    // neighboring community
    val kic = u
      .join(labels.select(col("v").as("b"), col("lbl").as("nl")), "b")
      .groupBy(col("a"), col("nl"))
      .agg((if (weighted) sum(col("w")) else count(lit(1))).as("k"))
    // the node's own community is always a candidate (k = 0 when no
    // neighbor shares it); max folds the duplicate when one does
    val cand = kic
      .unionByName(labels.select(col("v").as("a"), col("lbl").as("nl"),
        lit(0L).cast(kic.schema("k").dataType).as("k")))
      .groupBy("a", "nl").agg(max("k").as("k"))
    val gain = cand
      .join(deg, "a")
      .join(labels.select(col("v").as("a"), col("lbl")), "a")
      .join(dc.select(col("lbl").as("nl"), col("dc")), "nl")
      .select(col("a"), col("nl"), col("lbl"), col("k"), col("d"),
        (dec(lit(4L * m)) * dec(col("k")) -
          dec(lit(2L)) * dec(col("d")) *
            (dec(col("dc")) -
              dec(when(col("nl") === col("lbl"), col("d")).otherwise(lit(0L)))))
          .as("g"))
    // argmax by (gain desc, label asc) — the lpaRound composite-key
    // device; keys are unique per (node, candidate) so no tie inside
    // the composite. lbl is functionally dependent on the group key,
    // so carrying it through the argmax struct is exact; k_own (the
    // nl == lbl candidate's k — the own community is always a
    // candidate, so the max never sees an empty set) and d (also
    // group-constant) ride the same aggregate for [[qNumFromPicked]].
    gain.groupBy("a")
      .agg(max_by(struct(col("nl"), col("lbl")),
        struct(col("g"), negate(col("nl")))).as("p"),
        max(when(col("nl") === col("lbl"), col("k"))).as("k_own"),
        max(col("d")).as("d"))
      .select(col("a"), col("p.nl").as("nl"), col("p.lbl").as("lbl"),
        col("k_own"), col("d"))
  }

  /** DuckDB twin of [[louvainMove]] — identical LPA rounds, identical
    * integer gain and argmax tie order, identical HUGEINT Q pricing of
    * both partitions. */
  /** The Q numerator CTE block for the partition labeled by `lbl`,
    * suffixed so several pricings coexist in one WITH chain — ONE
    * source for [[louvainMoveOracle]] and [[louvainSql]] so the
    * replays cannot drift (the pqCbCte convention). Expects `e0`,
    * `deg`, `m` CTEs in scope. */
  private def qPriceCtes(lbl: String, s: String): String =
    s"""ec$s AS (SELECT la.lbl AS lbl, CAST(count(*) AS HUGEINT) AS ec
       |       FROM e0 JOIN $lbl la ON e0.a = la.v
       |               JOIN $lbl lb ON e0.b = lb.v
       |       WHERE la.lbl = lb.lbl GROUP BY la.lbl),
       |dcq$s AS (SELECT l.lbl, CAST(sum(deg.d) AS HUGEINT) AS dc
       |       FROM deg JOIN $lbl l ON deg.a = l.v GROUP BY l.lbl),
       |t$s AS (SELECT dcq$s.lbl,
       |             4 * (SELECT m FROM m) * coalesce(ec$s.ec, 0) - dcq$s.dc * dcq$s.dc AS t
       |      FROM dcq$s LEFT JOIN ec$s ON dcq$s.lbl = ec$s.lbl),
       |q$s AS (SELECT CAST(coalesce(sum(t), 0) AS HUGEINT) AS num FROM t$s)""".stripMargin

  /** Sign-separated truncating-ppm SQL over the `q$s` numerator CTE —
    * the [[qPpm]] twin. */
  private def qPpmSql(q: String): String =
    s"""CAST(CASE WHEN (SELECT m FROM m) = 0 THEN 0
       |          ELSE (CASE WHEN $q.num < 0 THEN -1 ELSE 1 END)
       |               * ((abs($q.num) * 1000000)
       |                  // (4 * (SELECT m FROM m) * (SELECT m FROM m))) END AS BIGINT)""".stripMargin

  def louvainMoveOracle(rounds: Int = LpaRounds): String = {
    def price(lbl: String, s: String): String = qPriceCtes(lbl, s)
    def ppm(q: String): String = qPpmSql(q)
    s"""WITH $lpaOracleBase,
       |${lpaOracleRounds(rounds)},
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
       |deg AS (SELECT a, CAST(count(*) AS HUGEINT) AS d FROM u GROUP BY a),
       |${price(s"l$rounds", "0")},
       |kic AS (SELECT u.a, l.lbl AS nl, CAST(count(*) AS HUGEINT) AS k
       |        FROM u JOIN l$rounds l ON u.b = l.v GROUP BY u.a, l.lbl),
       |cand AS (SELECT a, nl, max(k) AS k FROM (
       |           SELECT a, nl, k FROM kic
       |           UNION ALL SELECT v AS a, lbl AS nl, CAST(0 AS HUGEINT) AS k
       |           FROM l$rounds) GROUP BY a, nl),
       |gain AS (SELECT c.a, c.nl, l.lbl,
       |           4 * (SELECT m FROM m) * c.k
       |           - 2 * deg.d * (dq.dc - CASE WHEN c.nl = l.lbl
       |                                       THEN deg.d ELSE CAST(0 AS HUGEINT) END) AS g
       |         FROM cand c JOIN deg ON deg.a = c.a
       |           JOIN l$rounds l ON l.v = c.a
       |           JOIN dcq0 dq ON dq.lbl = c.nl),
       |pick AS MATERIALIZED (SELECT a, nl, lbl FROM (
       |          SELECT a, nl, lbl,
       |                 row_number() OVER (PARTITION BY a ORDER BY g DESC, nl) AS rn
       |          FROM gain) WHERE rn = 1),
       |lmv AS MATERIALIZED (SELECT a AS v, nl AS lbl FROM pick),
       |${price("lmv", "1")},
       |mv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(coalesce(sum(CASE WHEN nl <> lbl THEN 1 ELSE 0 END), 0) AS BIGINT)
       |                AS n_moved FROM pick)
       |SELECT mv.n_nodes, mv.n_moved,
       |       ${ppm("q0")} AS q_before_ppm,
       |       ${ppm("q1")} AS q_after_ppm
       |FROM mv, q0, q1""".stripMargin
  }

  /** Move-pass cap of [[louvain]]'s level-0 local-move loop (the
    * trajectory round-cap convention: bounded driver rounds, the
    * emitted record says whether the fixpoint was reached). */
  val LouvainPassCap = 6

  /** FULL Louvain on the part co-order graph (Blondel et al., J. Stat.
    * Mech. 2008) — [[louvainMove]]'s one pass extended to the real
    * algorithm (VERDICT r15 task 3): synchronous local-move passes run
    * to a local fixpoint (no node moves) under [[LouvainPassCap]],
    * then ONE community-contraction level — edges re-keyed to
    * community ids with weights summed, one edge-bounded aggregate —
    * and one weighted local-move pass on the contracted graph from
    * singleton super-communities, composed back onto the original
    * nodes. Q is priced by the same exact integer rational
    * ([[qNumFold]], DECIMAL(38,0) ↔ HUGEINT) at the three level
    * boundaries. The coarsened pass is a monotone-accept PROPOSAL:
    * its composed partition is kept only if it does not lower the
    * exactly-priced Q (numerators compared — same denominator), else
    * the level ends at the fixpoint partition. Synchronous collisions
    * (several supernodes moving at once against the old state) are
    * exactly what can push a jointly-applied set of individually
    * positive-gain moves below the old Q — the guard restores
    * sequential Louvain's per-step monotonicity invariant at the
    * level boundary BY CONSTRUCTION, and the accept decision is a
    * pure function of the two replayed numerators, so the oracle
    * recomputes it rather than trusting the engine (measured on the
    * sf0.01 fixture: the proposal prices 320174 vs the fixpoint's
    * 320946 ppm and is rejected). Output: ONE row —
    * `(n_nodes, n_passes, n_moved_last, coarsen_accepted,
    * n_communities, q_start_ppm, q_fixpoint_ppm, q_final_ppm)`;
    * `n_moved_last = 0` witnesses the level-0 fixpoint (a non-zero
    * value means the cap exited first — the trajectory cap
    * convention).
    *
    * Exactness of the contracted level: contracted weights are
    * original EDGE COUNTS, the contracted weighted degree of a
    * supernode is exactly D_c of the fixpoint partition, and self-loop
    * weight (intra-community edges) moves with the supernode — it is
    * constant across candidates, so excluding it from k_{i,c} (only
    * d_i carries it) prices moves on the contracted graph identically
    * to moving the whole community on the original graph. The
    * denominator 4m² is unchanged by contraction (total weight is
    * preserved), so all three prices are the SAME rational and
    * ppm-comparable.
    *
    * Synchronous-move caveat: as in [[louvainMove]], colliding
    * simultaneous moves can in principle lower Q; the spec pins Q
    * non-decreasing across the three boundaries on the fixture, and
    * the emitted triple IS the measurement either way.
    *
    * Scale shape: per pass one [[louvainPick]] (edge-bounded join +
    * hash-agg argmax) and a one-row moved count; the contraction is
    * one edge-bounded aggregate; the weighted pass runs on the
    * community-sized graph. Driver traffic: one two-long row per pass
    * + three one-row pricings. Lineage truncates per pass via
    * `localCheckpoint` with eager release. */
  def louvain(spark: SparkSession, sfDir: String, rounds: Int = LpaRounds,
      passCap: Int = LouvainPassCap): Checked = {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val e = coOrderEdges(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val u = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    // r16: round-4 LPA start state from the shared scratch
    // materialization; degrees checkpointed ONCE (a graph property —
    // constant across move passes) and reused by every pick and all
    // three pricings, which previously re-aggregated them edge-wide
    // per pass (up to [[LouvainPassCap]] + 3 redundant aggregates)
    var labels: DataFrame = lpaLabels(spark, sfDir, rounds)
    val m = e.count()
    val deg = u.groupBy("a").agg(count(lit(1)).as("d")).localCheckpoint()
    // --- level 0: move passes to local fixpoint (bounded). r17: the
    // start pricing rides pass 1's pick checkpoint (node-sized —
    // [[qNumFromPicked]]); it previously re-joined the edge list with
    // the start labels twice before the loop even began.
    var numStart = BigInt(0)
    var passes = 0
    var movedLast = -1L
    var nNodes = 0L
    while (movedLast != 0L && passes < passCap) {
      val picked = louvainPick(m, u, deg, labels).localCheckpoint()
      if (passes == 0) numStart = qNumFromPicked(picked, m)._2
      val mv = picked
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("nl") =!= col("lbl"), 1L).otherwise(0L)),
            lit(0L)).as("mv"))
        .collect().head
      nNodes = mv.getLong(0)
      movedLast = mv.getLong(1)
      val next = picked.select(col("a").as("v"), col("nl").as("lbl"))
        .localCheckpoint()
      releaseLocalCheckpoint(picked)
      releaseLocalCheckpoint(labels)
      labels = next
      passes += 1
    }
    if (passes == 0) numStart = qNumRowU(u, labels, deg, m)._2
    // --- level 1: contraction (edges re-keyed to community ids,
    // weights summed — one edge-bounded aggregate) + one weighted pass
    val ce = e
      .join(labels.select(col("v").as("a"), col("lbl").as("la")), "a")
      .join(labels.select(col("v").as("b"), col("lbl").as("lb")), "b")
      .select(least(col("la"), col("lb")).as("ca"),
        greatest(col("la"), col("lb")).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    // weighted supernode degree = D_c of the fixpoint partition
    // (2·self-loop weight included by construction); checkpointed —
    // four consumers (fixpoint pricing, the weighted pick, the
    // singleton start state, the coarsened pricing) read it
    val degC = deg
      .join(labels.select(col("v").as("a"), col("lbl")), "a")
      .groupBy(col("lbl")).agg(sum("d").as("d"))
      .select(col("lbl").as("a"), col("d"))
      .localCheckpoint()
    releaseLocalCheckpoint(labels)
    // r17 (guide §2.4): the fixpoint pricing reads the CONTRACTION
    // instead of re-joining the edge list with the fixpoint labels —
    // ce's diagonal rows (ca = cb = c) carry exactly e_c (every
    // intra-community edge lands in its community's (c, c) group) and
    // degC is exactly d_c, so the price is a community-sized fold.
    // This also covers the cap-exit case (labels = the last pass's
    // OUTPUT, which no pick's input ever priced).
    val (nCommFix, numFix) = qNumFold(
      degC.select(col("a").as("lbl"), col("d").as("dc"))
        .join(ce.filter(col("ca") === col("cb"))
          .select(col("ca").as("lbl"), col("w").as("ec")), Seq("lbl"), "left"),
      m)
    val noSelf = ce.filter(col("ca") =!= col("cb"))
    val ucBoth = noSelf.select(col("ca").as("a"), col("cb").as("b"), col("w"))
      .unionByName(noSelf.select(col("cb").as("a"), col("ca").as("b"), col("w")))
    val labelsC = degC.select(col("a").as("v"), col("a").as("lbl"))
    val picked2 = louvainPick(m, ucBoth, degC, labelsC, weighted = true)
      .localCheckpoint()
    // r17: the coarsened-partition pricing also stays on the contracted
    // graph — an e row's composed endpoint labels are its ce row's
    // coarse labels (pickc is a function of the fixpoint label), so
    // e_c of the composed partition is Σ w over ce rows whose two
    // coarse labels agree and d_c is Σ degC per coarse label. The old
    // shape composed node-level labels and re-joined the full edge
    // list twice; every relation here is community-sized.
    val map2 = picked2.select(col("a").as("s"), col("nl").as("c2"))
    val ecCo = ce
      .join(map2.select(col("s").as("ca"), col("c2").as("c2a")), "ca")
      .join(map2.select(col("s").as("cb"), col("c2").as("c2b")), "cb")
      .filter(col("c2a") === col("c2b"))
      .groupBy(col("c2a").as("lbl")).agg(sum("w").as("ec"))
    val dcCo = degC
      .join(map2.select(col("s").as("a"), col("c2")), "a")
      .groupBy(col("c2").as("lbl")).agg(sum("d").as("dc"))
    val (nCommCoarsen, numCoarsen) = qNumFold(
      dcCo.join(ecCo, Seq("lbl"), "left"), m)
    releaseLocalCheckpoint(ce)
    releaseLocalCheckpoint(picked2)
    releaseLocalCheckpoint(degC)
    releaseLocalCheckpoint(deg)
    e.unpersist(blocking = false)
    // monotone accept: keep the coarsened partition only if it does
    // not lower Q (exact numerator compare — same denominator 4m²)
    val accepted = numCoarsen >= numFix
    val (nComm, numFinal) =
      if (accepted) (nCommCoarsen, numCoarsen) else (nCommFix, numFix)
    val df = Seq((nNodes, passes.toLong, movedLast, if (accepted) 1L else 0L, nComm,
      qPpm(numStart, m), qPpm(numFix, m), qPpm(numFinal, m)))
      .toDF("n_nodes", "n_passes", "n_moved_last", "coarsen_accepted",
        "n_communities", "q_start_ppm", "q_fixpoint_ppm", "q_final_ppm")
    Checked(df, Some(louvainSql(rounds, passes)))
  }

  /** DuckDB twin of [[louvain]] — replays the `rounds` LPA rounds, the
    * `passes` move passes the call executed as chained pick CTEs
    * (identical gain rational and (g desc, nl) tie order), the
    * contraction, the weighted singleton pass, and the three HUGEINT
    * Q pricings. */
  private def louvainSql(rounds: Int, passes: Int): String = {
    // per-pass CTE block: pick$p / lv$p from lv${p-1} (lv0 = l$rounds)
    val passCtes = (1 to passes).map { p =>
      val prev = if (p == 1) s"l$rounds" else s"lv${p - 1}"
      s"""pdc$p AS (SELECT l.lbl, CAST(sum(deg.d) AS HUGEINT) AS dc
         |       FROM deg JOIN $prev l ON deg.a = l.v GROUP BY l.lbl),
         |kic$p AS (SELECT u.a, l.lbl AS nl, CAST(count(*) AS HUGEINT) AS k
         |        FROM u JOIN $prev l ON u.b = l.v GROUP BY u.a, l.lbl),
         |cand$p AS (SELECT a, nl, max(k) AS k FROM (
         |           SELECT a, nl, k FROM kic$p
         |           UNION ALL SELECT v AS a, lbl AS nl, CAST(0 AS HUGEINT) AS k
         |           FROM $prev) GROUP BY a, nl),
         |gain$p AS (SELECT c.a, c.nl, l.lbl,
         |           4 * (SELECT m FROM m) * c.k
         |           - 2 * deg.d * (dq.dc - CASE WHEN c.nl = l.lbl
         |                                       THEN deg.d ELSE CAST(0 AS HUGEINT) END) AS g
         |         FROM cand$p c JOIN deg ON deg.a = c.a
         |           JOIN $prev l ON l.v = c.a
         |           JOIN pdc$p dq ON dq.lbl = c.nl),
         |pick$p AS MATERIALIZED (SELECT a, nl, lbl FROM (
         |          SELECT a, nl, lbl,
         |                 row_number() OVER (PARTITION BY a ORDER BY g DESC, nl) AS rn
         |          FROM gain$p) WHERE rn = 1),
         |lv$p AS MATERIALIZED (SELECT a AS v, nl AS lbl FROM pick$p)""".stripMargin
    }.mkString(",\n")
    val fix = s"lv$passes"
    s"""WITH $lpaOracleBase,
       |${lpaOracleRounds(rounds)},
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
       |deg AS (SELECT a, CAST(count(*) AS HUGEINT) AS d FROM u GROUP BY a),
       |$passCtes,
       |${qPriceCtes(s"l$rounds", "s")},
       |${qPriceCtes(fix, "f")},
       |ce AS MATERIALIZED (
       |  SELECT LEAST(la.lbl, lb.lbl) AS ca, GREATEST(la.lbl, lb.lbl) AS cb,
       |         CAST(count(*) AS HUGEINT) AS w
       |  FROM e0 JOIN $fix la ON e0.a = la.v JOIN $fix lb ON e0.b = lb.v
       |  GROUP BY 1, 2),
       |ucb AS (SELECT ca AS a, cb AS b, w FROM ce WHERE ca <> cb
       |        UNION ALL SELECT cb AS a, ca AS b, w FROM ce WHERE ca <> cb),
       |degc AS (SELECT l.lbl AS a, CAST(sum(deg.d) AS HUGEINT) AS d
       |         FROM deg JOIN $fix l ON deg.a = l.v GROUP BY l.lbl),
       |kicc AS (SELECT a, b AS nl, CAST(sum(w) AS HUGEINT) AS k
       |         FROM ucb GROUP BY a, b),
       |candc AS (SELECT a, nl, max(k) AS k FROM (
       |            SELECT a, nl, k FROM kicc
       |            UNION ALL SELECT a AS a, a AS nl, CAST(0 AS HUGEINT) AS k
       |            FROM degc) GROUP BY a, nl),
       |gainc AS (SELECT c.a, c.nl,
       |            4 * (SELECT m FROM m) * c.k
       |            - 2 * dg.d * (dcc.d - CASE WHEN c.nl = c.a
       |                                       THEN dg.d ELSE CAST(0 AS HUGEINT) END) AS g
       |          FROM candc c JOIN degc dg ON dg.a = c.a
       |            JOIN degc dcc ON dcc.a = c.nl),
       |pickc AS MATERIALIZED (SELECT a, nl FROM (
       |           SELECT a, nl,
       |                  row_number() OVER (PARTITION BY a ORDER BY g DESC, nl) AS rn
       |           FROM gainc) WHERE rn = 1),
       |lz AS MATERIALIZED (SELECT l.v, pc.nl AS lbl
       |                    FROM $fix l JOIN pickc pc ON pc.a = l.lbl),
       |${qPriceCtes("lz", "z")},
       |mv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(coalesce(sum(CASE WHEN nl <> lbl THEN 1 ELSE 0 END), 0)
       |                AS BIGINT) AS n_moved_last
       |       FROM pick$passes),
       |ncf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tf),
       |ncz AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tz)
       |SELECT mv.n_nodes, CAST($passes AS BIGINT) AS n_passes, mv.n_moved_last,
       |       CAST(CASE WHEN qz.num >= qf.num THEN 1 ELSE 0 END AS BIGINT)
       |         AS coarsen_accepted,
       |       CASE WHEN qz.num >= qf.num THEN ncz.n ELSE ncf.n END
       |         AS n_communities,
       |       ${qPpmSql("qs")} AS q_start_ppm,
       |       ${qPpmSql("qf")} AS q_fixpoint_ppm,
       |       CASE WHEN qz.num >= qf.num THEN ${qPpmSql("qz")}
       |            ELSE ${qPpmSql("qf")} END AS q_final_ppm
       |FROM mv, ncf, ncz, qs, qf, qz""".stripMargin
  }

  /** DuckDB twin of [[modularity]] — identical rounds, identical
    * integer rational in HUGEINT. */
  def modularityOracle(rounds: Int = LpaRounds): String =
    s"""WITH $lpaOracleBase,
       |${lpaOracleRounds(rounds)},
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
       |ec AS (SELECT la.lbl AS lbl, CAST(count(*) AS HUGEINT) AS ec
       |       FROM e0 JOIN l$rounds la ON e0.a = la.v
       |               JOIN l$rounds lb ON e0.b = lb.v
       |       WHERE la.lbl = lb.lbl GROUP BY la.lbl),
       |deg AS (SELECT a, CAST(count(*) AS HUGEINT) AS d FROM u GROUP BY a),
       |dc AS (SELECT l.lbl, CAST(sum(deg.d) AS HUGEINT) AS dc
       |       FROM deg JOIN l$rounds l ON deg.a = l.v GROUP BY l.lbl),
       |t AS (SELECT dc.lbl,
       |             4 * (SELECT m FROM m) * coalesce(ec.ec, 0) - dc.dc * dc.dc AS t
       |      FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |             CAST(coalesce(sum(t), 0) AS HUGEINT) AS num FROM t)
       |SELECT n_communities, CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
       |       CASE WHEN (SELECT m FROM m) = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
       |                   * ((abs(num) * 1000000)
       |                      // (4 * (SELECT m FROM m) * (SELECT m FROM m))) AS BIGINT) END AS q_ppm
       |FROM s""".stripMargin

  /** DuckDB twin of a `rounds`-round [[labelPropTrajectory]] — replays
    * the rounds as chained CTEs, differencing consecutive label
    * states. */
  private def labelPropTrajectorySql(rounds: Int): String = {
    val diffs = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |       CAST(count(*) AS BIGINT) AS n_changed,
         |       CAST(coalesce(sum(a.v), 0) AS BIGINT) AS changed_id_sum
         |FROM l$i a JOIN l${i - 1} b ON a.v = b.v AND a.lbl <> b.lbl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $lpaOracleBase,
       |${lpaOracleRounds(rounds)}
       |$diffs
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[pageRank]] (iters = 2, topN = 20). */
  def pageRankOracle: String =
    """WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |            FROM lineitem
      |            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |deg AS (SELECT a, count(*) AS d FROM e GROUP BY a),
      |nn AS (SELECT count(*) AS n FROM deg),
      |r0 AS (SELECT a AS v, round(1.0 / nn.n, 12) AS r FROM deg, nn),
      |c1 AS (SELECT e.b AS v, sum(r0.r / deg.d) AS s
      |       FROM e JOIN r0 ON e.a = r0.v JOIN deg ON e.a = deg.a GROUP BY e.b),
      |r1 AS (SELECT c1.v, round(0.15 / nn.n + 0.85 * c1.s, 12) AS r FROM c1, nn),
      |c2 AS (SELECT e.b AS v, sum(r1.r / deg.d) AS s
      |       FROM e JOIN r1 ON e.a = r1.v JOIN deg ON e.a = deg.a GROUP BY e.b),
      |r2 AS (SELECT c2.v, round(0.15 / nn.n + 0.85 * c2.s, 12) AS r FROM c2, nn)
      |SELECT r2.v AS node, r2.r AS rank, CAST(deg.d AS BIGINT) AS degree
      |FROM r2 JOIN deg ON r2.v = deg.a
      |ORDER BY rank DESC, node LIMIT 20""".stripMargin
}
