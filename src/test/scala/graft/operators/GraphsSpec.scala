package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the fixed-round PageRank (the exact values are pinned
  * by the DuckDB oracle at sf0.01). */
class GraphsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("pagerank conserves total mass and covers every lineitem node") {
    val all = Graphs.pageRank(spark, sf, topN = Int.MaxValue).collect()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val nParts = li.select("l_partkey").distinct().count()
    val nSupps = li.select("l_suppkey").distinct().count()
    assert(all.length == nParts + nSupps,
      "undirected bipartite graph: every part and supplier node ranks")
    // no dangling nodes -> total rank stays 1 (up to per-node rounding)
    val total = all.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-6, s"total rank $total")
    assert(all.forall(_.getDouble(1) > 0))
    // higher-degree nodes dominate the top of the ranking
    val topDeg = all.take(10).map(_.getLong(2)).min
    val medianDeg = all.map(_.getLong(2)).sorted.apply(all.length / 2)
    assert(topDeg >= medianDeg, "top-ranked nodes should not be low-degree")
  }

  test("pagerank is deterministic across evaluations") {
    def run() = Graphs.pageRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(run() == run())
  }

  test("triangle census matches a hand-built graph, window respected") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_tri").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    val out = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    // order 10 gives triangle {1,2,3}; orders 20/30/40 close {3,4,5};
    // order 50 is outside the 1997 window and must not contribute
    Seq(
      (10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 4L, in), (30L, 5L, in),
      (40L, 5L, in), (40L, 3L, in),
      (50L, 6L, out), (50L, 7L, out))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graphs.triangles(spark, d).collect().head
    // nodes {1..5}; edges 1-2,1-3,2-3,3-4,4-5,3-5; degrees 2,2,4,2,2
    // -> wedges 1+1+6+1+1 = 10; triangles {1,2,3},{3,4,5} -> 3*2/10
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((5L, 6L, 10L, 2L, 600000L)))
  }

  test("kcore peels a hand-built graph to its 3-core with the exact trajectory") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_kcore").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // one order per edge: K4 on {1,2,3,4} plus pendant 5-1 plus a
    // 2-chain 6-7 that dies entirely in round 1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (6L, 7L))
    edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((10L + i, a, in), (10L + i, b, in)) }
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val rows = Graphs.kcore(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // round 1 removes {5, 6, 7} (deg < 3); K4 survives (all deg 3);
    // round 2 removes nothing -> explicit convergence row
    assert(rows == Seq((1L, 3L, 4L, 6L), (2L, 0L, 4L, 6L)))
  }

  test("kcore on an empty-after-one-round graph converges to zero rows left") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_kcore0").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // a triangle has every degree = 2 < 3: the whole graph dies round 1
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val rows = Graphs.kcore(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, 3L, 0L, 0L), (2L, 0L, 0L, 0L)))
  }

  test("broadcast size guard: hint under the threshold, plain relation above it") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val small = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    assert(hints(Graphs.maybeBroadcast(small, 10L, 100L)) == 1,
      "measured count under the limit must carry the broadcast hint")
    assert(hints(Graphs.maybeBroadcast(small, 1000L, 100L)) == 0,
      "measured count over the limit must NOT force a broadcast — the " +
        "join co-partitions (or AQE decides from runtime stats)")
  }

  test("bfs levels match a hand-built path graph, zeros after exhaustion") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bfs").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // path 1-2-3-4 plus the isolated pair 8-9: BFS from node 1 reaches
    // one new node per hop for 3 hops, never the 8-9 component
    Seq(
      (10L, 1L, in), (10L, 2L, in),
      (20L, 2L, in), (20L, 3L, in),
      (30L, 3L, in), (30L, 4L, in),
      (40L, 8L, in), (40L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val rows = Graphs.bfs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (0L, 1L, 1L), (1L, 1L, 2L), (2L, 1L, 3L), (3L, 1L, 4L),
      (4L, 0L, 0L), (5L, 0L, 0L), (6L, 0L, 0L)), s"got $rows")
  }

  test("bfs is deterministic and its unhinted path is identical") {
    def run(limit: Long) = Graphs.bfs(spark, sf, bcastMaxNodes = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val hinted = run(Graphs.GraphBroadcastMaxNodes)
    assert(hinted == run(Graphs.GraphBroadcastMaxNodes), "deterministic")
    assert(hinted == run(0L), "co-partitioned path must agree")
    // the reached-set sum pins level content: cumulative n_new never
    // exceeds the graph's node count and levels are dense from 0
    assert(hinted.map(_._1) == (0L to Graphs.BfsLevels.toLong))
  }

  test("labelProp: hand-built graph, oscillating pair pinned by fixed rounds") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_lpa").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // triangle {1,2,3} + pendant 4 + isolated pair {8,9}: after 4
    // synchronous min-tie rounds the component {1,2,3,4} coalesces on
    // label 1, while the 2-cycle 8-9 oscillates back to (8, 9) — the
    // fixed-round contract pins the oscillation deterministically
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 8L, in), (30L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graphs.labelProp(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 4L, 1L, 10L), (8L, 1L, 8L, 8L),
      (9L, 1L, 9L, 9L)), s"got $got")
  }

  test("labelPropTrajectory: hand-built converging graph ends with the explicit 0 row") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_lpat").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // triangle {1,2,3} + pendant 4 (no oscillating pair): round 1
    // relabels all four (1→2, 2→1, 3→1, 4→3; sum 10), round 2 fixes
    // {1, 4} (sum 5), round 3 changes nothing — the convergence row
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in), (20L, 3L, in), (20L, 4L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val traj = Graphs.labelPropTrajectory(spark, d)
    val got = traj.df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 4L, 10L), (2L, 2L, 5L), (3L, 0L, 0L)), s"got $got")
    // the run hands back the oracle for the round count it executed
    val sql = traj.oracleSql.get
    assert(sql.contains("l3 AS") && !sql.contains("l4 AS"),
      "oracle chain must replay exactly the executed 3 rounds")
  }

  test("labelPropTrajectory: a 2-cycle oscillates forever and the cap bounds it") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_lpat_osc").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // the labelProp fixture: triangle+pendant coalesce, but the isolated
    // pair {8,9} swaps labels every synchronous round (Raghavan §3's
    // oscillation) — rounds 3..cap all report exactly those 2 changes
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 8L, in), (30L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graphs.labelPropTrajectory(spark, d).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cap = Graphs.LpaTrajMaxRounds
    val want = Seq((1L, 6L, 27L), (2L, 4L, 22L)) ++
      (3 to cap).map(r => (r.toLong, 2L, 17L))
    assert(got == want, s"got $got")
  }

  test("labelProp and labelPropTrajectory agree on every edge node; an isolated node gets no label") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_lpa_iso").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // the converging triangle {1,2,3} + pendant 4, plus order 40 with a
    // single part: node 7 has degree 0, so it never enters the co-order
    // edge relation both LPA forms (and their DuckDB oracles) start from
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in), (20L, 3L, in), (20L, 4L, in),
      (40L, 7L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val traj = Graphs.labelPropTrajectory(spark, d).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(traj == Seq((1L, 4L, 10L), (2L, 2L, 5L), (3L, 0L, 0L)), s"got $traj")
    def labels(rounds: Int): Map[Long, Long] = Graphs.lpaLabels(spark, d, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per node: the fixed-round states change exactly where the
    // trajectory says, round by round
    val states = (0 to traj.size).map(labels)
    assert(states.forall(_.keySet == Set(1L, 2L, 3L, 4L)), s"got $states")
    for ((round, nChanged, idSum) <- traj) {
      val changed = states(round.toInt).keys
        .filter(v => states(round.toInt)(v) != states(round.toInt - 1)(v))
      assert((changed.size.toLong, changed.sum) == (nChanged, idSum), s"round $round")
    }
    val prop = Graphs.labelProp(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(prop == Seq((1L, 4L, 1L, 10L)), s"got $prop")
  }

  test("modularity: hand-computed Q over the LPA partition, exact ppm") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mod").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // the labelProp fixture: after 4 rounds {1,2,3,4} share label 1 and
    // the oscillating pair is back to self-labels {8},{9}. m = 5 edges;
    // e_c = (4, 0, 0), d_c = (8, 1, 1) →
    // N = Σ(4m·e_c − d_c²) = (80−64) + (−1) + (−1) = 14; 4m² = 100
    // Q = 14/100 = 140000 ppm
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 8L, in), (30L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graphs.modularity(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 5L, 140000L)))
  }

  test("modularity: the all-singletons partition hits the −1/2 floor (sign separation)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mod_neg").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // single edge 1-2: the pair swaps labels every sync round, so after
    // an EVEN round count both are self-labeled singletons — every edge
    // inter-community: N = (0−1) + (0−1) = −2, 4m² = 4 → Q = −500000 ppm
    Seq((10L, 1L, in), (10L, 2L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graphs.modularity(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, -500000L)))
  }

  test("labelPropTrajectory matches a driver-side replay on the fixture corpus") {
    // independent Scala replay of the synchronous min-tie rounds over
    // the collected sf0.001 co-order edges — the same device as the
    // DuckDB twin, without SQL
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    assert(edges.nonEmpty, "fixture must produce co-order edges")
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val nodes = adj.keys.toSeq.sorted
    var lbl = nodes.map(v => v -> v).toMap
    val want = Seq.newBuilder[(Long, Long, Long)]
    var r = 1
    var going = true
    while (going && r <= Graphs.LpaTrajMaxRounds) {
      val nxt = nodes.map { v =>
        val cnt = adj(v).groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        v -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
      val changed = nodes.filter(v => nxt(v) != lbl(v))
      want += ((r.toLong, changed.size.toLong, changed.sum))
      lbl = nxt
      if (changed.isEmpty) going = false else r += 1
    }
    val got = Graphs.labelPropTrajectory(spark, sf).df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == want.result(), s"got $got")
  }

  test("labelProp is deterministic across evaluations") {
    def run() = Graphs.labelProp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val a = run()
    assert(a == run())
    assert(a.nonEmpty && a.map(_._2).sorted.reverse == a.map(_._2),
      "communities come back largest-first")
  }

  test("louvainMove: hand-computed gains on the modularity fixture, swap collision included") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_louv").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // the modularity fixture: after 4 LPA rounds {1,2,3,4} share label
    // 1; 8 and 9 are self-labeled singletons. m = 5, 4m = 20.
    // Gains (4m·k − 2d·D'):
    //   node 1: own c1 k=2 → 20·2 − 2·2·(8−2) = 16  → stays
    //   node 3: own c1 k=3 → 60 − 2·3·(8−3) = 30    → stays
    //   node 4: own c1 k=1 → 20 − 2·1·(8−1) = 6     → stays
    //   node 8: c9 k=1 → 20 − 2·1·1 = 18 beats own 0 → moves to c9
    //   node 9: symmetric → moves to c8 — the documented synchronous
    //   swap collision: both move, the PARTITION is unchanged up to
    //   label names, so Q stays exactly 140000 ppm
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 8L, in), (30L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graphs.louvainMove(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((6L, 2L, 140000L, 140000L)))
  }

  test("louvainMove on the fixture corpus: the pass never lowers Q, deterministic") {
    def run() = Graphs.louvainMove(spark, sf).collect().head
    val r = run()
    val (nNodes, nMoved, qb, qa) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nNodes > 0 && nMoved >= 0 && nMoved <= nNodes)
    assert(qa >= qb, s"local move lowered Q: $qb -> $qa")
    val r2 = run()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3))
      == ((nNodes, nMoved, qb, qa)))
  }

  test("louvain: hand fixture — oscillating swap runs to the cap, coarsen accepted at equal Q") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_louv_full").toString
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // the louvainMove fixture: components {1,2,3,4} (labeled 1 after
    // LPA) and the 8–9 edge (self-labeled singletons). Every move pass
    // swaps 8↔9 synchronously (each node's best move is the other's
    // community — the documented collision), so the loop never reaches
    // n_moved = 0 and exits at the cap with the partition unchanged up
    // to label names: Q stays exactly 140000 ppm at every boundary.
    // The coarsened proposal swaps the two singleton supernodes the
    // same way — a pure relabeling, priced equal — so monotone accept
    // KEEPS it (>=) and n_communities stays 3.
    Seq((10L, 1L, in), (10L, 2L, in), (10L, 3L, in),
      (20L, 3L, in), (20L, 4L, in),
      (30L, 8L, in), (30L, 9L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graphs.louvain(spark, d).df.collect().head
    assert((0 until 8).map(r.getLong) ==
      Seq(6L, Graphs.LouvainPassCap.toLong, 2L, 1L, 3L,
        140000L, 140000L, 140000L))
  }

  test("louvain on the fixture corpus: Q non-decreasing across levels, deterministic") {
    def run() = Graphs.louvain(spark, sf).df.collect().head
    val r = run()
    val (nNodes, passes, movedLast, accepted, nComm, qs, qf, qz) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    assert(nNodes > 0 && nComm > 0 && nComm <= nNodes)
    assert(passes >= 1 && passes <= Graphs.LouvainPassCap)
    assert(movedLast >= 0 && movedLast <= nNodes)
    assert(accepted == 0L || accepted == 1L)
    // level boundaries: the move passes must not lower Q on this
    // fixture (measured), and the coarsen boundary CANNOT lower it —
    // monotone accept makes q_final ≥ q_fixpoint a construction
    // invariant, with rejection leaving it exactly equal
    assert(qf >= qs, s"move passes lowered Q: $qs -> $qf")
    assert(qz >= qf, s"coarsen boundary lowered Q: $qf -> $qz")
    if (accepted == 0L) assert(qz == qf)
    val r2 = run()
    assert((0 until 8).map(r2.getLong) == (0 until 8).map(r.getLong))
  }

  test("pageRankTrajectoryRel: driver replay agrees and the convergence exit fires under the cap") {
    // identical replay as the absolute-threshold test, with the
    // relative stop rule 3·l1_r < l1_1 (exact integers)
    val pairs = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val nodes = adj.keys.toSeq.sorted
    val n = nodes.size
    val deg = nodes.map(v => v -> adj(v).size).toMap
    def rnd12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pico(x: Double): Long =
      BigDecimal(x * 1e12).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var rank = nodes.map(v => v -> rnd12(1.0 / n)).toMap
    val want = Seq.newBuilder[(Long, Long, Long)]
    var l1First = 0L
    var rd = 1
    var going = true
    while (going && rd <= Graphs.PrTrajMaxRounds) {
      val next = nodes.map { v =>
        v -> rnd12(0.15 / n +
          0.85 * adj(v).sorted.map(a => rank(a) / deg(a)).sum)
      }.toMap
      val dps = nodes.map(v => pico(next(v)) - pico(rank(v)))
      val l1 = dps.map(math.abs).sum
      want += ((rd.toLong, dps.count(_ != 0).toLong, l1))
      if (rd == 1) l1First = l1
      rank = next
      if (l1 == 0L || (rd >= 2 && Graphs.PrTrajRelDivisor * l1 < l1First))
        going = false
      else rd += 1
    }
    val got = Graphs.pageRankTrajectoryRel(spark, sf).df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == want.result(), s"got $got")
    // the whole point of the variant (VERDICT r15 task 4): the
    // convergence exit RUNS — strictly inside the cap, final row
    // sub-threshold under the relative rule, no earlier row is
    assert(got.length < Graphs.PrTrajMaxRounds,
      s"relative rule did not exit under the cap: ${got.length} rounds")
    val l1s = got.map(_._3)
    assert(l1s.last == 0L ||
      Graphs.PrTrajRelDivisor * l1s.last < l1s.head)
    assert(l1s.drop(1).dropRight(1).forall(l1 =>
      Graphs.PrTrajRelDivisor * l1 >= l1s.head))
  }

  test("pageRankTrajectory matches a driver-side replay on the fixture corpus") {
    // independent Scala replay of the damped rounds with the identical
    // 12-decimal rounding (scala.BigDecimal(double) is valueOf-style,
    // the same decimal Spark's Round sees) and pico differencing
    val pairs = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val nodes = adj.keys.toSeq.sorted
    val n = nodes.size
    val deg = nodes.map(v => v -> adj(v).size).toMap
    def rnd12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pico(x: Double): Long =
      BigDecimal(x * 1e12).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var rank = nodes.map(v => v -> rnd12(1.0 / n)).toMap
    val want = Seq.newBuilder[(Long, Long, Long)]
    var rd = 1
    var going = true
    while (going && rd <= Graphs.PrTrajMaxRounds) {
      val next = nodes.map { v =>
        v -> rnd12(0.15 / n +
          0.85 * adj(v).sorted.map(a => rank(a) / deg(a)).sum)
      }.toMap
      val dps = nodes.map(v => pico(next(v)) - pico(rank(v)))
      val l1 = dps.map(math.abs).sum
      want += ((rd.toLong, dps.count(_ != 0).toLong, l1))
      rank = next
      if (l1 < Graphs.PrTrajL1ThresholdPico) going = false else rd += 1
    }
    val got = Graphs.pageRankTrajectory(spark, sf).df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == want.result(), s"got $got")
    // the damped iteration contracts L1 every round — the signal the
    // trajectory exists to expose
    assert(got.map(_._3).sliding(2).forall(w => w.length < 2 || w(1) < w(0)))
  }

  test("over-threshold (unhinted) path computes identical pagerank and kcore results") {
    // threshold 0 forces the co-partitioned join path everywhere; the
    // trajectories and ranks must be bit-identical to the hinted plan
    def pr(limit: Long) = Graphs.pageRank(spark, sf, bcastMaxNodes = limit)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(pr(0L) == pr(Graphs.GraphBroadcastMaxNodes))
    def kc(limit: Long) = Graphs.kcore(spark, sf, bcastMaxNodes = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(kc(0L) == kc(Graphs.GraphBroadcastMaxNodes))
    def pt(limit: Long) = Graphs.pageRankTrajectory(spark, sf,
        bcastMaxNodes = limit)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pt(0L) == pt(Graphs.GraphBroadcastMaxNodes))
  }
}
