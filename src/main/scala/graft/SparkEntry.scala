package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.kmeans.{FitFinal, KMeansSteps, MLlibKMeans, RefKMeans}
import graft.functions.HashOps
import graft.operators.{Bpe, Dedup, Events, Graphs, Hnsw, Multimodal, Pipeline, Relational, Similarity, TextAnalysis, TimeSeries}
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7 + FIXTURES.md §C.
  *
  * Every operator from SURVEY.md §2 is a named query; each
  * SQL-expressible one has equivalent DuckDB SQL (identical column
  * names, identical ORDER BY, floats rounded to 6, integer-ish columns
  * cast to BIGINT on both sides) from exactly one source: the static
  * [[oracleSql]] map, or — when the SQL carries state the query call
  * itself produced — the [[Checked]] reply of that call
  * ([[dataOracleQueries]]).
  */
object SparkEntry {

  /** Flagship: full reference-parity K-Means fit (maximin seeding + Lloyd)
    * on sf0.001 embeddings → cluster sizes. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val pts = Tables.points(spark, "/root/testdata/sf0.001")
    RefKMeans.fitSizes(spark, pts, RefKMeans.Config(k = 4, firstId = Some(0L)))
  }

  type Query = (SparkSession, String) => Checked

  def queries: Map[String, Query] =
    (kmeansQueries ++ textQueries ++ dedupQueries ++ annQueries ++
      relationalQueries ++ eventQueries ++ multimodalQueries ++
      pipelineQueries).map { case (name, run) =>
      name -> ((s: SparkSession, dir: String) => Checked(run(s, dir)))
    } ++ dataOracleQueries

  /** The queries whose oracle carries state their own call produced —
    * frozen centroids, PQ codebooks, the BPE vocab, HNSW pairs, the
    * temperature (n, Z) or the executed round count. Each renders that
    * oracle from the same state its DataFrame used (memoized under the
    * call's own `sfDir`, or handed back by the operator), so several sf
    * directories in one JVM never mix; none is in [[oracleSql]]. */
  private[graft] def dataOracleQueries: Map[String, Query] = Map(
    // the CONVERGED end state, oracle-checked: frozen converged centroids
    // → sizes + WCSS (+ DuckDB replaying the stop-rule delta < 0.01)
    "kmeans_fit_final" -> frozen(FitFinal.finalSummary(_, _))(FitFinal.summaryOracle(_)),
    // O17's end state: final membership from the frozen centroids
    "kmeans_fit_assign" -> frozen(FitFinal.finalAssign(_, _))(FitFinal.assignOracle(_)),
    // the ++-seeded variant's converged end state, same oracle contract
    "kmeans_fit_pp_final" ->
      frozen(FitFinal.finalSummary(_, _, "pp"))(FitFinal.summaryOracle(_, "pp")),
    // the lineitem fit exits via the iteration cap (reference quirk:
    // POST-update centroids), so its end-state materialization is
    // oracle-checked without the stop-rule claim; standardization stats
    // ride as literals so both engines build bit-identical features
    "kmeans_fit_lineitem_final" ->
      frozen(FitFinal.finalSummary(_, _, "lineitem"))(FitFinal.summaryOracle(_, "lineitem")),
    // the ts fit's end state from frozen literals (converged claim only
    // when the fit converged — cap exits record the materialization)
    "ts_cluster_final" ->
      frozen(FitFinal.finalSummary(_, _, "ts"))(FitFinal.summaryOracle(_, "ts")),
    // MLlib k-means|| training is never the oracle, but SCORING the
    // frozen model (assignment/sizes/WCSS from its trained centers) is
    // deterministic and oracle-checked
    "kmeans_mllib_final" ->
      frozen(FitFinal.finalSummary(_, _, "mllib"))(FitFinal.summaryOracle(_, "mllib")),
    // SemDeDup: within-cluster-only cosine pairs over the frozen
    // converged fit — the cluster-bucketed scale path whose exact
    // baseline is dedup_cosine's all-pairs sweep
    "dedup_semantic" -> frozen(Dedup.semanticDedup(_, _))(Dedup.semanticOracle),
    // the k∝N schedule (~1 bucket / 2500 vecs): one-pass sampled seeds,
    // 5 capped Lloyd rounds, same pair+dominance pipeline — per-bucket
    // work stays bounded as the corpus grows
    "dedup_semantic_scaled" -> frozen(Dedup.semanticDedupAuto)(Dedup.semanticScaledOracle),
    // bucketing recall of both semantic paths vs the exact sweep — the
    // cross-cluster pair loss as a measured, oracle-checked number
    "dedup_semantic_recall" ->
      frozen(Dedup.semanticRecall(_, _))(Dedup.semanticRecallOracle(_)),
    // the %5-sampled twin (dedup_cosine_sampled device): recall of the
    // FULL-corpus bucketings measured over the sampled pair sweep, so
    // the k∝N schedule's recall stays oracle-checked at sf1+ where
    // scaledK actually moves
    "dedup_semantic_recall_sampled" ->
      frozen(Dedup.semanticRecall(_, _, keepMod = Some(5L)))(
        Dedup.semanticRecallOracle(_, keepMod = Some(5L))),
    // product quantization: 8 nibble codes per vector (64x compression),
    // asymmetric-distance candidate scan + exact rerank
    "ann_pq_topk" -> frozen(Similarity.pqTopK(_, _))(Similarity.pqOracle(_)),
    // composed IVF→PQ→rerank (FAISS IVFADC): trained coarse cells prune
    // the scan, PQ codes rank the probed members, exact tail reranks —
    // bucket EQUI-join throughout, the production shape at 100 TB
    "ann_ivf_pq" -> frozen(Similarity.ivfPqTopK(_, _))(ivfPqOracle(_, sampled = false)),
    // recall@k of the approximate paths (trained IVF, SQ8) vs the exact
    // brute-force sweep — deterministic end-to-end, so even the recall
    // misses reproduce in the oracle
    "ann_recall" -> frozen(Similarity.recallEval(_, _))(annRecallOracle(_, sampled = false)),
    // the swept-scale twin: the same five pipelines over the
    // vec_id%5=0 sample (their own trained quantizers, 10 queries from
    // vec_id<50) — keeps recall oracle-measured at sf1+ where the full
    // replay is intractable and bucket geometry actually differs
    "ann_recall_sampled" ->
      frozen(Similarity.recallEval(_, _, keepMod = Some(5L), nQueries = 50))(
        annRecallOracle(_, sampled = true)),
    // recall-vs-search-effort curve of the graph index: recall@5 at
    // efSearch 16 vs 64 against the SQL-replayed brute truth — search
    // quality as an oracle-checked function of beam width (the nprobe
    // device; VERDICT r15 task 5). Frozen pairs keyed per efSearch.
    "ann_hnsw_ef_recall" -> frozen(Hnsw.efRecall(_, _))(dir =>
      Hnsw.efRecallOracleSql(dir, oracleSql("ann_brute_topk"))),
    // deterministic greedy BPE (frozen-merges memo): per-doc subword
    // token counts + the md5 of the full token-id sequence
    "bpe_encode" -> frozen(Bpe.encode)(Bpe.oracleSqls(_)("bpe_encode")),
    // detokenize leg: decode(encode(w)) == w computed (not assumed) on
    // both engines — pins the ids, not just the counts
    "bpe_roundtrip" -> frozen(Bpe.roundtrip)(Bpe.oracleSqls(_)("bpe_roundtrip")),
    // sequence packing re-denominated in BPE tokens — the budget a
    // trainer actually packs against
    "pack_sequences_bpe" ->
      frozen(Bpe.packSequencesBpe(_, _))(Bpe.oracleSqls(_)("pack_sequences_bpe")),
    // temperature mixture rebalancing (T=2: sqrt is IEEE-exact, so both
    // engines derive bit-identical weights from integer counts)
    "sample_temperature" -> frozen(Pipeline.temperatureSample)(Pipeline.temperatureSampleOracle),
    // the composed clean→decontaminate→dedup→balance→pack funnel from
    // ONE persisted documents scan — proves the stages compose; its
    // oracle reuses every stage's standalone fragment under the frozen
    // temperature (n, Z)
    "pipeline_e2e" -> frozen(Pipeline.pipelineE2e(_, _))(e2eSql),
    // the FULL Lloyd trajectory: rounded-fixpoint loop from the literal
    // seeds to the stop rule, one (iter, delta, stopped) row per round —
    // DuckDB replays every round as nested CTEs, so the loop is pinned
    // at each round, not just rounds 1-2 and the end state
    "kmeans_fit_trajectory" -> ((s, dir) => KMeansSteps.fitTrajectory(s, dir)),
    // the cap-exit fit family's full trajectory: standardized lineitem
    // features in integer micro-units, 20 rounds with stopped = 0
    // throughout — the POST-update cap-exit quirk pinned round by round
    "kmeans_fit_lineitem_trajectory" -> ((s, dir) => KMeansSteps.lineitemTrajectory(s, dir)),
    // the FULL shape-clustering trajectory (micro-unit space, cap 25) —
    // every round's delta and stop flag DuckDB-replayed, closing the
    // last daylight between ts_cluster_steps (2 rounds) and the end state
    "ts_cluster_trajectory" -> ((s, dir) => TimeSeries.clusterTrajectory(s, dir)),
    // PageRank convergence trajectory: per-round (n_changed,
    // l1_delta_pico) on the exact pico grid, run to L1 < 0.01 under a
    // cap — the oracle replays the rounds the call executed
    "graph_pagerank_trajectory" -> ((s, dir) => Graphs.pageRankTrajectory(s, dir)),
    // relative-threshold twin: stops at the first round whose L1 falls
    // under 1/3 of round 1's (exact integer rule) — guaranteed inside
    // the cap by the ×0.85 contraction, so the convergence exit is
    // exercised in production code (VERDICT r15 task 4)
    "graph_pagerank_trajectory_rel" -> ((s, dir) => Graphs.pageRankTrajectoryRel(s, dir)),
    // LPA convergence trajectory: per-round (n_changed, changed_id_sum)
    // to the first no-change round (explicit 0 row) under a cap — the
    // oracle replays the rounds the call executed
    "graph_label_prop_trajectory" -> ((s, dir) => Graphs.labelPropTrajectory(s, dir)),
    // FULL Louvain: move passes to a local fixpoint (bounded cap) +
    // one community-contraction level + a weighted pass on the
    // contracted graph, Q priced by the same exact rational at every
    // level boundary (VERDICT r15 task 3). The oracle replays the
    // executed pass count as chained CTEs.
    "graph_louvain" -> ((s, dir) => Graphs.louvain(s, dir)))

  /** A query whose oracle renders from the state its run memoized under
    * `sfDir` — rendered right after the run, from that run's key. */
  private def frozen(run: (SparkSession, String) => DataFrame)(oracle: String => String): Query =
    (s, dir) => {
      val df = run(s, dir)
      Checked(df, Some(oracle(dir)))
    }

  private def multimodalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_meta" -> ((s, dir) => Multimodal.mediaMeta(s, dir)),
    // REAL javax.imageio PNG decode + grid pooling, oracle-checked via
    // the lossless round-trip (pixels follow a closed formula the oracle
    // replays); frame sampling is a byte-slicing contract (no JDK video
    // codec) whose slice arithmetic the oracle reproduces exactly
    "multimodal_features" -> ((s, dir) => Multimodal.extractFeatures(s, dir)),
    // REAL javax.sound.sampled WAV encode+decode + segment energy
    // profile — audio twin of the PNG pipeline, same lossless-round-trip
    // oracle trick
    "multimodal_audio" -> ((s, dir) => Multimodal.audioFeatures(s, dir)),
    "multimodal_frames" -> ((s, dir) => Multimodal.frameSample(s, dir)),
    "multimodal_resize" -> ((s, dir) => Multimodal.resizeMeta(s, dir)),
    "multimodal_phash" -> ((s, dir) => Multimodal.phashPairs(s, dir)),
    // MLlib k-means|| path (probabilistic seeding — never the oracle)
    "kmeans_mllib" -> ((s, dir) => MLlibKMeans.fitSizes(s, dir)))

  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // skew-salted fact⋈fact join — result identical to the plain join
    // (the oracle is the plain join), only the shuffle layout changes
    "join_skew" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
      val o = Tables(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, o, "okey", salts = 4)
        .groupBy("o_orderstatus")
        .agg(sum("pc").as("price_cents"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),
    // raw SQL entry point (§1.3 schema/SQL surface): same engine, text
    // plan — TPC-H Q3 shape over temp views; Catalyst plans the joins
    // (dim filter first, broadcast where small) exactly as the
    // DataFrame surface would
    "sql_q3" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""SELECT l_orderkey,
              |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              |           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4,
              |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
              |  o_orderpriority
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |              JOIN lineitem ON l_orderkey = o_orderkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < timestamp'1998-01-01 00:00:00'
              |  AND l_shipdate > timestamp'1998-01-01 00:00:00'
              |GROUP BY l_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue_c4 DESC, l_orderkey
              |LIMIT 10""".stripMargin)
    }),
    // TPC-H Q5 shape: 6-table snowflake join (region→nation→supplier ⋈
    // customer→orders→lineitem with the co-nation condition) — the join
    // order/broadcast stress test; dims broadcast, facts shuffle once
    "sql_q5" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""SELECT n_name,
              |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              |           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4,
              |  count(*) AS n
              |FROM customer JOIN orders   ON c_custkey = o_custkey
              |              JOIN lineitem ON l_orderkey = o_orderkey
              |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |              JOIN nation   ON s_nationkey = n_nationkey
              |              JOIN region   ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= timestamp'1996-01-01 00:00:00'
              |  AND o_orderdate <  timestamp'1998-01-01 00:00:00'
              |GROUP BY n_name ORDER BY revenue_c4 DESC, n_name""".stripMargin)
    }),
    // TPC-H Q18 shape: group-having subquery feeding a semi filter +
    // re-aggregation + top-k — the "large-volume customers" pattern
    "sql_q18" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
              |             HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 10000)
              |SELECT c_custkey, o_orderkey,
              |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
              |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
              |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_cents
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |              JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
              |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
              |ORDER BY price_cents DESC, o_orderkey LIMIT 20""".stripMargin)
    }),
    // TPC-H Q17 shape: correlated per-partkey avg threshold — the
    // decorrelation stress test (Catalyst rewrites the scalar subquery
    // into a group-agg + join); small-quantity revenue in exact cents.
    // l_quantity is integer-valued so avg = exact-int-sum / count is
    // bit-identical cross-engine; prices aggregate in integer cents
    "sql_q17" -> ((s, dir) => {
      Seq("lineitem", "part").foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""SELECT CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)), 0)
              |            div 7 AS BIGINT) AS avg_yearly_cents,
              |       count(*) AS n_small
              |FROM lineitem JOIN part ON p_partkey = l_partkey
              |WHERE p_brand = 'Brand#13' AND p_size < 10
              |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
              |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }),
    // TPC-H Q21 shape: the double-correlated EXISTS / NOT-EXISTS on the
    // same fact table — "suppliers who kept orders waiting". The test
    // schema lacks l_receiptdate/l_commitdate, so "late" is l_shipdate
    // more than 60 days after o_orderdate (the NOT EXISTS correlates on
    // BOTH l1.l_orderkey and the outer o_orderdate — the harder shape)
    "sql_q21" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""SELECT s_name, count(*) AS numwait
              |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              |              JOIN orders ON o_orderkey = l1.l_orderkey
              |              JOIN nation ON s_nationkey = n_nationkey
              |WHERE o_orderstatus = 'F'
              |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              |  AND EXISTS (SELECT 1 FROM lineitem l2
              |              WHERE l2.l_orderkey = l1.l_orderkey
              |                AND l2.l_suppkey <> l1.l_suppkey)
              |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
              |                  WHERE l3.l_orderkey = l1.l_orderkey
              |                    AND l3.l_suppkey <> l1.l_suppkey
              |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
              |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19')
              |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
    }),
    // TPC-H Q22 shape: global-average scalar subquery + anti join —
    // "inactive customers above the mean balance". The avg threshold is
    // the exact cross-multiplied integer test (cents·n > sum_cents), so
    // no float average crosses engines; "inactive" = no order since
    // 2001-01-01; nationkey stands in for the missing phone prefix
    "sql_q22" -> ((s, dir) => {
      Seq("customer", "orders").foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql("""WITH avgbal AS (
              |  SELECT count(*) AS n, sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS s
              |  FROM customer WHERE c_acctbal > 0.0)
              |SELECT CAST(c_nationkey AS BIGINT) AS cntry, count(*) AS numcust,
              |       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS totacct_cents
              |FROM customer
              |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
              |  AND CAST(round(c_acctbal * 100, 0) AS BIGINT) * (SELECT n FROM avgbal)
              |      > (SELECT s FROM avgbal)
              |  AND NOT EXISTS (SELECT 1 FROM orders
              |                  WHERE o_custkey = c_custkey
              |                    AND o_orderdate >= timestamp'2001-01-01 00:00:00')
              |GROUP BY c_nationkey ORDER BY cntry""".stripMargin)
    }),
    // TPC-H Q2 shape: correlated scalar MIN over a join — per size-10
    // part, the 1997 supplier(s) with the minimum account balance among
    // those who shipped it; balances compared in exact cents
    "sql_q2" -> ((s, dir) => {
      Seq("part", "lineitem", "supplier")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ2)
    }),
    // TPC-H Q13 shape: outer-join count distribution — orders per
    // customer INCLUDING zero-order customers, then the histogram
    "sql_q13" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ13)
    }),
    // TPC-H Q15 shape: max over an aggregated view — the top-revenue
    // supplier(s) of 1997Q1 via a scalar subquery on the same CTE;
    // revenue in exact cents×percent so the max-equality has no ties
    // hazard across engines
    "sql_q15" -> ((s, dir) => {
      Seq("supplier", "lineitem")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ15)
    }),
    // TPC-H Q20 shape: nested IN + correlated aggregate threshold in
    // HAVING — suppliers who shipped over half of some small part's
    // 1997 volume (2·sum > total keeps the half-test in integers)
    "sql_q20" -> ((s, dir) => {
      Seq("supplier", "lineitem", "part")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ20)
    }),
    // TPC-H Q4 shape: priority count over orders with an EXISTS
    // decorrelated to a left-semi join (returned-item orders — the
    // fixture has no commit/receipt dates)
    "sql_q4" -> ((s, dir) => {
      Seq("orders", "lineitem")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ4)
    }),
    // TPC-H Q6 shape: single-scan predicate-band revenue aggregate —
    // the canonical pushdown probe (every filter reaches the scan)
    "sql_q6" -> ((s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(SqlQ6)
    }),
    // TPC-H Q7 shape: cross-nation shipping volume per year through a
    // 5-way join with a disjunctive nation-pair predicate (nation
    // PARITY lanes — the 25-nation fixture is too sparse for one
    // named pair at sf0.001)
    "sql_q7" -> ((s, dir) => {
      Seq("lineitem", "orders", "supplier", "customer", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ7)
    }),
    // TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // the classic fact-to-dims star join + deterministic top-k
    "sql_q10" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ10)
    }),
    // TPC-H Q14 shape: promo revenue share — conditional sum over one
    // scan; the ppm division follows the FIXTURES.md engine split
    // (Spark DECIMAL(38,0) div / DuckDB HUGEINT //, both on
    // non-negative operands) because cents×pct sums overflow int64·1e6
    "sql_q14" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(s"WITH $SqlQ14Body\n$SqlQ14SelectSpark")
    }),
    // TPC-H Q8 shape: market share per year — the even-supplier lane's
    // revenue share of the cross-parity trade; ppm division follows the
    // FIXTURES.md engine split (same rationale as sql_q14)
    "sql_q8" -> ((s, dir) => {
      Seq("lineitem", "orders", "supplier", "customer", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(s"WITH $SqlQ8Body\n$SqlQ8SelectSpark")
    }),
    // TPC-H Q9 shape: profit (revenue − retail cost) by nation and
    // ship year — the SIGNED sum exercising the negative-value and
    // r12 output-typing conventions live; no partsupp in the fixture,
    // so p_retailprice stands in for supply cost (SqlQ2 convention)
    "sql_q9" -> ((s, dir) => {
      Seq("lineitem", "part", "supplier", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ9)
    }),
    // TPC-H Q11 shape: group-share threshold via scalar subqueries —
    // parts whose nation-group value exceeds 2× the mean part value,
    // as the exact cross-multiplied integer test (scale-free where
    // TPC-H's fixed fraction empties as the part count grows)
    "sql_q11" -> ((s, dir) => {
      Seq("lineitem", "supplier")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ11)
    }),
    // TPC-H Q12 shape: two-way conditional count per ship mode (a
    // deterministic suppkey stand-in — the fixture has no l_shipmode)
    // over late 1997 shipments
    "sql_q12" -> ((s, dir) => {
      Seq("lineitem", "orders")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ12)
    }),
    // TPC-H Q16 shape: supplier-count-distinct per part attribute with
    // a NOT EXISTS exclusion (anti join — NOT IN would plan the
    // null-aware nested loop)
    "sql_q16" -> ((s, dir) => {
      Seq("part", "lineitem", "supplier")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ16)
    }),
    // TPC-H Q19 shape: disjunctive multi-band predicate over an
    // equi-join (brand×size×quantity bands OR'ed — Catalyst keeps the
    // hash join and applies the disjunction as a post-join filter)
    "sql_q19" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(SqlQ19)
    }),
    // Heaps-law vocabulary growth curve over the corpus ingest order
    "text_heaps" -> ((s, dir) => TextAnalysis.heapsLaw(s, dir)),
    // CUSUM change-point scan over the hourly event-count series
    "ts_changepoint" -> ((s, dir) => TimeSeries.changepoint(s, dir)),
    // MMR diversification re-rank of the dense leg's top-R candidates
    "rag_mmr" -> ((s, dir) => Similarity.ragMmr(s, dir)),
    // CDC latest-snapshot compaction: one current row per key
    "scd_latest" -> ((s, dir) => Relational.scdLatest(s, dir)),
    // SCD type-2 history: per-key validity intervals from the changelog
    "scd2_history" -> ((s, dir) => Relational.scd2History(s, dir)),
    // MERGE INTO semantics: base ⟗ change set → insert/update/keep
    "merge_upsert" -> ((s, dir) => Relational.mergeUpsert(s, dir)),
    // Z-order (Morton) lake-layout key
    "zorder_key" -> ((s, dir) => Relational.zorderKey(s, dir)),
    // small-file compaction planner: cumulative-size binning per lang
    "lake_compaction" -> ((s, dir) => Relational.compactionPlan(s, dir)),
    // zone-map skipping planner: z-order vs natural layout, one box
    "lake_skipping" -> ((s, dir) => Relational.lakeSkipping(s, dir)),
    // 2-itemset association rules over brand baskets, exact ppm metrics
    "basket_rules" -> ((s, dir) => Relational.basketRules(s, dir)),
    // equal-frequency discretization (deterministic ntile binning)
    "feature_bins" -> ((s, dir) => Relational.featureBins(s, dir)),
    // RANGE frame (value-based window): customers with an account
    // balance within ±500.00 of each row, per nation — tie-insensitive
    // by construction (range frames bound by VALUE, not row position)
    "window_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("acct_cents")).rangeBetween(-50000L, 50000L)
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("acct_cents"))
        .withColumn("n_near", count(lit(1)).over(w))
        .orderBy("c_custkey")
    }),
    // null-safe equality join (<=>): NULL keys match each other — the
    // join semantics plain '=' silently drops
    "join_nullsafe" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val d = Tables(s, dir, "customer")
        .select(nullif(col("c_mktsegment"), lit("BUILDING")).as("dseg")).distinct()
        .select(col("dseg"), coalesce(col("dseg"), lit("NULLSEG")).as("label"))
      c.join(d, c("seg") <=> d("dseg"))
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),
    "q1_agg" -> ((s, dir) => Relational.q1Agg(s, dir)),
    "join_mkt" -> ((s, dir) => Relational.joinMkt(s, dir)),
    "join_semi_anti" -> ((s, dir) => Relational.semiAnti(s, dir)),
    // explicit Bloom runtime filter: md5-derived bits, oracle-rebuilt —
    // pass/match/false-positive counts for the pre-scan prune decision
    "join_bloom" -> ((s, dir) => Relational.bloomSemiStats(s, dir)),
    "topk_window" -> ((s, dir) => Relational.topkWindow(s, dir)),
    "rollup_agg" -> ((s, dir) => Relational.rollupAgg(s, dir)),
    "set_ops" -> ((s, dir) => Relational.setOps(s, dir)),
    "distinct_agg" -> ((s, dir) => Relational.distinctAgg(s, dir)),
    "approx_distinct" -> ((s, dir) => Relational.approxDistinct(s, dir)),
    "scalar_funcs" -> ((s, dir) => Relational.scalarFuncs(s, dir)),
    "quantiles" -> ((s, dir) => Relational.quantiles(s, dir)),
    "pivot_agg" -> ((s, dir) => Relational.pivotAgg(s, dir)),
    "scalar_subquery" -> ((s, dir) => Relational.scalarSubquery(s, dir)),
    "asof_join" -> ((s, dir) => Relational.asofJoin(s, dir)),
    "cube_agg" -> ((s, dir) => Relational.cubeAgg(s, dir)),
    "range_join" -> ((s, dir) => Relational.rangeJoin(s, dir)),
    "window_funcs" -> ((s, dir) => Relational.windowFuncs(s, dir)),
    "set_ops_all" -> ((s, dir) => Relational.setOpsAll(s, dir)),
    "json_props" -> ((s, dir) => Relational.jsonProps(s, dir)),
    "array_funcs" -> ((s, dir) => Relational.arrayFuncs(s, dir)),
    "date_funcs" -> ((s, dir) => Relational.dateFuncs(s, dir)),
    "string_funcs" -> ((s, dir) => Relational.stringFuncs(s, dir)),
    "join_geo" -> ((s, dir) => Relational.joinGeo(s, dir)),
    // iterative graph analytics: fixed-2-round PageRank over the
    // part↔supplier bipartite graph, rounded-fixpoint oracle (same
    // contract as kmeans_fit_steps)
    "graph_pagerank" -> ((s, dir) => graft.operators.Graphs.pageRank(s, dir)),
    // degree-oriented exact triangle census of the part co-order graph
    "graph_triangles" -> ((s, dir) => graft.operators.Graphs.triangles(s, dir)),
    // k-core peel to the true fixpoint: per-round trajectory rows
    "graph_kcore" -> ((s, dir) => graft.operators.Graphs.kcore(s, dir)),
    "graph_bfs" -> ((s, dir) => graft.operators.Graphs.bfs(s, dir)),
    // deterministic synchronous LPA: most-frequent neighbor label,
    // smallest-label ties, fixed rounds
    "graph_label_prop" -> ((s, dir) => graft.operators.Graphs.labelProp(s, dir)),
    // Newman modularity of the LPA partition, exact integer ppm
    "graph_modularity" -> ((s, dir) =>
      graft.operators.Graphs.modularity(s, dir)),
    // one synchronous Louvain local-move pass on the LPA partition,
    // priced exactly before and after by the modularity rational
    "graph_louvain_move" -> ((s, dir) =>
      graft.operators.Graphs.louvainMove(s, dir)),
    "grouping_sets" -> ((s, dir) => Relational.groupingSets(s, dir)),
    "stats_agg" -> ((s, dir) => Relational.statsAgg(s, dir)),
    // exact-integer per-group OLS: rational slope/intercept + ppm
    "stats_ols" -> ((s, dir) => Relational.statsOls(s, dir)),
    "stats_chi2" -> ((s, dir) => Relational.statsChi2(s, dir)),
    // exact-integer two-sample distribution tests over event values:
    // cross-multiplied KS distance and driver-BigInt Welch t²
    "stats_ks" -> ((s, dir) => Relational.statsKs(s, dir)),
    "stats_welch" -> ((s, dir) => Relational.statsWelch(s, dir)),
    "stats_mannwhitney" -> ((s, dir) => Relational.statsMwu(s, dir)),
    "join_theta" -> ((s, dir) => Relational.joinTheta(s, dir)),
    // deterministic %5 key sample on BOTH sides: the oracle leg that
    // runs at every sweep sf (the full NLJ's DuckDB replay is O(N²))
    "join_theta_sampled" -> ((s, dir) =>
      Relational.joinTheta(s, dir, keepMod = Some(5L))),
    "map_funcs" -> ((s, dir) => Relational.mapFuncs(s, dir)),
    "approx_quantiles" -> ((s, dir) => Relational.approxQuantiles(s, dir)),
    "cross_join" -> ((s, dir) => Relational.crossJoin(s, dir)),
    "null_semantics" -> ((s, dir) => Relational.nullSemantics(s, dir)),
    "explode_outer" -> ((s, dir) => Relational.explodeOuter(s, dir)),
    "regexp_funcs" -> ((s, dir) => Relational.regexpFuncs(s, dir)),
    "time_rollup" -> ((s, dir) => Relational.timeRollup(s, dir)),
    "hof_funcs" -> ((s, dir) => Relational.hofFuncs(s, dir)),
    "date_spine" -> ((s, dir) => Relational.dateSpine(s, dir)),
    "unpivot_measures" -> ((s, dir) => Relational.unpivotMeasures(s, dir)),
    "histogram" -> ((s, dir) => Relational.histogram(s, dir)))

  private def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clean_corpus" -> ((s, dir) => Pipeline.cleanCorpus(s, dir)),
    "pack_sequences" -> ((s, dir) => Pipeline.packSequences(s, dir)),
    "text_pii_scrub" -> ((s, dir) => Pipeline.piiScrub(s, dir)),
    "sample_stratified" -> ((s, dir) => Pipeline.stratifiedSample(s, dir)),
    "sample_bottomk" -> ((s, dir) => Pipeline.bottomKSample(s, dir)),
    "sample_weighted" -> ((s, dir) => Pipeline.weightedSample(s, dir)),
    // stable salted-hash train/val/test assignment, pinned by split
    // × source counts + exact char sums
    "sample_splits" -> ((s, dir) => Pipeline.hashSplits(s, dir)),
    // epoch-composition planning: weighted per-source quotas, filled by
    // the bottom-k md5-priority reservoir
    "sample_mixture" -> ((s, dir) => Pipeline.mixtureSample(s, dir)),
    // DSIR-style importance resampling: per-doc target/corpus unigram
    // likelihood ratio + deterministic proportional keep decision
    "sample_importance" -> ((s, dir) => Pipeline.importanceSample(s, dir)),
    "decontaminate" -> ((s, dir) => Pipeline.decontaminate(s, dir)),
    "text_repetition" -> ((s, dir) => Pipeline.repetitionStats(s, dir)),
    "profile_columns" -> ((s, dir) => Relational.profileColumns(s, dir)),
    // Deequ-style expectation sweep: per-rule violation counts + pass
    "dq_expectations" -> ((s, dir) => Relational.dqExpectations(s, dir)),
    // exact binned two-sample KS drift between two event-value windows
    "dq_drift" -> ((s, dir) => Relational.dqDrift(s, dir)))

  private def eventQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_retention" -> ((s, dir) => Events.retention(s, dir)),
    "events_anomaly" -> ((s, dir) => Events.dailyAnomalies(s, dir)),
    // event-type transition bigrams (sequential pattern mining lite):
    // one shuffle by user for the lead(), one aggregate, bounded top-N
    "events_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("event_type"), asc("next_type"))
        .limit(10)
    }),
    "events_hourly" -> ((s, dir) => Events.hourlyAgg(s, dir)),
    "events_sessions" -> ((s, dir) => Events.sessionize(s, dir)),
    "events_session_window" -> ((s, dir) => Events.sessionWindowAgg(s, dir)),
    "events_props" -> ((s, dir) => Events.propsAgg(s, dir)),
    "events_funnel" -> ((s, dir) => Events.funnel(s, dir)),
    "events_cep" -> ((s, dir) => Events.cep(s, dir)),
    "events_sliding" -> ((s, dir) => Events.slidingAgg(s, dir)),
    // first/last-touch credit from one frame-bounded window pass — no
    // purchase×touch join
    "events_attribution" -> ((s, dir) => Events.attribution(s, dir)),
    "ts_motif" -> ((s, dir) => TimeSeries.motifTopK(s, dir)),
    "ts_fill" -> ((s, dir) => TimeSeries.resampleFill(s, dir)),
    // exact-integer ACF of the hourly count series, lags 1..5
    "ts_autocorr" -> ((s, dir) => TimeSeries.autocorr(s, dir)),
    "ts_decompose" -> ((s, dir) => TimeSeries.decompose(s, dir)),
    // per-type daily-count OLS trend + 7-day exact-rational projection
    "ts_forecast" -> ((s, dir) => TimeSeries.forecast(s, dir)),
    // the exact feature pipeline feeding ts_cluster, oracle-pinned even
    // though the fit itself stays rows-only (iterative)
    "ts_windows" -> ((s, dir) => TimeSeries.windowFeatures(s, dir)),
    // the shape-clustering Lloyd loop (2 rounded rounds over z-windows),
    // DuckDB-replayed as nested CTEs — same contract as kmeans_fit_steps
    "ts_cluster_steps" -> ((s, dir) => TimeSeries.clusterSteps(s, dir)),
    "ts_cluster" -> ((s, dir) => TimeSeries.shapeClusters(s, dir)))

  private def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH quality evaluation: recall of the banded MinHash candidates
    // against the exact n-gram Jaccard pairs — the metric that justifies
    // the banding parameters before a 100 TB run. Deterministic, so even
    // the recall misses reproduce in the oracle.
    "dedup_recall" -> ((s, dir) => {
      // r16: both pair relations come from the scratch registry — the
      // SAME materializations dedup_ngram / dedup_minhash own (this
      // query previously re-ran both full pipelines over a shared
      // shingle sweep; now it reads two tiny verified-pair parquets)
      val exact = Dedup.ngramJaccard(s, dir).select("doc_a", "doc_b")
      val lsh = Dedup.minhashLSH(s, dir).select("doc_a", "doc_b")
      val hit = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
    }),
    "dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    // CCNet-style line-level dedup (fixed word blocks stand in for lines)
    "dedup_passage" -> ((s, dir) => Dedup.passageDedup(s, dir)),
    "dedup_substring" -> ((s, dir) => Dedup.substringDupStats(s, dir)),
    "dedup_ngram" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    // PPJoin-style prefix-filter EXACT Jaccard join (no df cap): the
    // prefix theorem replaces dedup_ngram's posting-list cap
    "dedup_jaccard_prefix" -> ((s, dir) => Dedup.jaccardPrefix(s, dir)),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashLSH(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    // MOSS match pairs over the winnow fingerprint index
    "dedup_winnow" -> ((s, dir) => Dedup.winnowPairs(s, dir)),
    // content-defined chunking: per-chunk table + cross-doc dup groups
    "chunk_cdc" -> ((s, dir) => Dedup.cdcChunks(s, dir)),
    "chunk_cdc_minsize" -> ((s, dir) => Dedup.cdcChunksMinSize(s, dir)),
    "dedup_chunks" -> ((s, dir) => Dedup.chunkDupGroups(s, dir)),
    "dedup_chunk_stats" -> ((s, dir) => Dedup.chunkDupStats(s, dir)),
    // chunk-level dedup ACTION: per dup group, the canonical occurrence
    // to keep (first by doc_id then chunk_idx) — the decision record a
    // CDC store needs before a delta-compression pass
    "dedup_chunk_canonical" -> ((s, dir) => Dedup.chunkCanonical(s, dir)),
    "dedup_cosine" -> ((s, dir) => Dedup.cosineNearDup(s, dir)),
    // deterministic %5 sample on BOTH sides: the oracle leg that runs
    // at every sweep sf (the full all-pairs DuckDB replay is O(N²))
    "dedup_cosine_sampled" -> ((s, dir) =>
      Dedup.cosineNearDup(s, dir, keepMod = Some(5L))),
    "dedup_components" -> ((s, dir) => Dedup.components(s, dir)),
    // dedup ACTION: per duplicate cluster, keep the highest-quality
    // member (lowest doc_id on ties) — the decision record before a
    // 100 TB delete pass
    "dedup_canonical" -> ((s, dir) => Dedup.canonical(s, dir)),
    "dedup_edit" -> ((s, dir) => Dedup.editDistancePairs(s, dir)))

  private def annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute_topk" -> ((s, dir) => Similarity.bruteTopK(s, dir)),
    // Matryoshka prefix-dimension recall curve vs the full-dim truth
    "ann_matryoshka" -> ((s, dir) => Similarity.matryoshkaRecall(s, dir)),
    // contrastive hard-negative mining: per-anchor top-k inside the
    // cosine band [0.15, 0.35) — related-but-not-duplicate corpus rows,
    // the negatives an embedding-model trainer actually wants
    "ann_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    // composed RAG retrieval: passage chunking -> signed feature-hash
    // embedding -> broadcast query batch -> exact integer-dot top-k
    "rag_retrieve" -> ((s, dir) => Similarity.ragRetrieve(s, dir)),
    "rag_bm25" -> ((s, dir) => Similarity.ragBm25(s, dir)),
    "rag_hybrid" -> ((s, dir) => Similarity.ragHybrid(s, dir)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    "ann_ivf_trained" -> ((s, dir) => Similarity.ivfTrainedTopK(s, dir)),
    "ann_sq_topk" -> ((s, dir) => Similarity.sqTopK(s, dir)),
    // graph ANN (sharded deterministic NSW): build is rows-only by
    // declared contract (sequential insertion isn't SQL-replayable) —
    // its frozen pairs are recall-checked inside ann_recall/_sampled
    "ann_hnsw_topk" -> ((s, dir) => graft.operators.Hnsw.topK(s, dir)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(s, dir)),
    // deterministic JL ±1-sign projection: the no-training
    // dimensionality-reduction front end (one narrow map, no shuffle)
    "embed_rp" -> ((s, dir) => Similarity.randomProjection(s, dir)),
    "embed_pca" -> ((s, dir) => Similarity.pcaTopComponent(s, dir)),
    // top-m eigenbasis by exact Hotelling deflation over the same
    // one-scan scatter statistics (r13; the spectral-family breadth)
    "embed_pca_basis" -> ((s, dir) => Similarity.pcaBasis(s, dir)),
    // the APPLY step: whitening/visualization coordinates as one
    // narrow literal-coefficient map (train-as-aggregate, apply-as-map)
    "embed_pca_project" -> ((s, dir) => Similarity.pcaProject(s, dir)),
    // whitening proper: projection centered and scaled by the inverse
    // integer root of vᵀSv — exact unit-variance coordinates, still one
    // literal-coefficient map over the corpus (r14)
    "embed_whiten" -> ((s, dir) => Similarity.pcaWhiten(s, dir)))

  private def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "text_quality" -> ((s, dir) => TextAnalysis.quality(s, dir)),
    "text_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(s, dir)),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    // fastText-style hashed linear classifier inference: feature-hash
    // unigrams+bigrams, md5-derived weight table, per-doc fold + threshold
    "text_classifier" -> ((s, dir) => TextAnalysis.classifierScores(s, dir)),
    "text_vocab" -> ((s, dir) =>
      TextAnalysis.vocab(s, dir)
        .select(col("w"), col("df"), col("cf"))),
    "text_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopK(s, dir)),
    "text_collocations" -> ((s, dir) => TextAnalysis.collocations(s, dir)),
    "sketch_cms" -> ((s, dir) => TextAnalysis.cmsEstimates(s, dir)),
    "text_chargrams" -> ((s, dir) => TextAnalysis.charTrigrams(s, dir)),
    // MOSS winnowing: windowed-min fingerprint selection — matches of
    // length >= w+k-1 always share a fingerprint
    "text_winnow" -> ((s, dir) => TextAnalysis.winnow(s, dir)),
    "text_bigrams" -> ((s, dir) => TextAnalysis.bigramLM(s, dir)),
    // per-doc LM quality score vs the corpus bigram model (CCNet-style
    // perplexity-filter signal, in oracle-exact probability space)
    "text_lm_score" -> ((s, dir) => TextAnalysis.lmScore(s, dir)),
    "sample_docs" -> ((s, dir) => TextAnalysis.hashSample(s, dir)))

  private def kmeansQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SQL surface of the native vector kernels: register vec_dot/
    // vec_dist and use them from text SQL — the codegen'd Expressions,
    // not UDFs, so the plan stays whole-stage-compiled
    "vec_sql" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .createOrReplaceTempView("emb_v")
      s.sql("""SELECT vec_id,
              |  round(vec_dot(v, v), 6) AS sq_norm,
              |  round(vec_dist(v, slice(v, 1, size(v))), 6) AS self_dist
              |FROM emb_v ORDER BY vec_id""".stripMargin)
    }),
    // O1/O2 — scan + typed projection
    "ingest_embeddings" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"))
        .orderBy("vec_id")),
    // O2 — relational → vector synthesis (lineitem numerics), L2 norm
    "lineitem_features" -> ((s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(VectorOps.l2norm(
          array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")).cast("array<double>")), 6).as("fnorm"))
        .orderBy("l_orderkey", "l_linenumber", "fnorm")),
    // O7 — min distance to centroid set (k-means++ scoring)
    "kmeans_min_dist" -> ((s, dir) => KMeansSteps.minDistances(s, dir)),
    // O8/O10 — farthest point (maximin candidate)
    "kmeans_farthest" -> ((s, dir) => KMeansSteps.farthestPoint(s, dir)),
    // O11 — E-step assignment
    "kmeans_assign" -> ((s, dir) =>
      KMeansSteps.assignment(s, dir)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"))),
    // O18 — cluster sizes
    "kmeans_sizes" -> ((s, dir) =>
      KMeansSteps.clusterSizes(s, dir)
        .select(col("cluster_id").cast("long").as("cluster_id"), col("n"))),
    // O12/O14/O15 — recenter (partial-agg vector mean)
    "kmeans_recenter" -> ((s, dir) =>
      KMeansSteps.recenterLong(s, dir)
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("dim").cast("long").as("dim"), col("n"), col("mean"))),
    // O16 — convergence delta
    "kmeans_delta" -> ((s, dir) => KMeansSteps.delta(s, dir)),
    // O21 — 2-D reshape projection
    "kmeans_reshape" -> ((s, dir) =>
      KMeansSteps.reshape2d(s, dir)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"), col("value"))),
    // O22 — intra-set cohesion (avg point-to-set distance)
    "kmeans_avg_distance" -> ((s, dir) => KMeansSteps.avgDistance(s, dir)),
    // cluster-quality evaluation (centroid-based silhouette, WCSS/elbow)
    "kmeans_silhouette" -> ((s, dir) => KMeansSteps.silhouette(s, dir)),
    "kmeans_wcss" -> ((s, dir) => KMeansSteps.wcss(s, dir)),
    "kmeans_dbi" -> ((s, dir) => KMeansSteps.daviesBouldin(s, dir)),
    "kmeans_elbow" -> ((s, dir) => KMeansSteps.elbow(s, dir)),
    // O20/O21 — the scatter chart's data payload
    "kmeans_scatter_data" -> ((s, dir) => KMeansSteps.scatterData(s, dir)),
    // O11..O16 composed — the Lloyd LOOP itself (2 fixed iterations from
    // the literal seeds, rounded intermediate centroids), replayed by the
    // oracle as nested CTEs: the iterative flagship finally oracle-checked
    "kmeans_fit_steps" -> ((s, dir) => KMeansSteps.fitSteps(s, dir)),
    // M3 — full iterative fit (not SQL-expressible; rows-only check, but
    // its (cluster_id, n) is cross-pinned by kmeans_fit_final's oracle)
    "kmeans_fit" -> ((s, dir) =>
      RefKMeans.fitSizes(s, Tables.points(s, dir),
        RefKMeans.Config(k = 8, firstId = Some(0L)))
        .select(col("cluster_id").cast("long").as("cluster_id"), col("n"))),
    // D²-weighted k-means++ seeding variant (rows-only: iterative +
    // sampling-seeded; determinism pinned by RefKMeansSpec)
    "kmeans_fit_pp" -> ((s, dir) =>
      RefKMeans.fitSizes(s, Tables.points(s, dir),
        RefKMeans.Config(k = 8, seed = 42L, ppSeeding = true))
        .select(col("cluster_id").cast("long").as("cluster_id"), col("n"))),
    // relational → vector path end-to-end: fit over standardized
    // lineitem numerics (N = full lineitem, d = 4) — the bigger-N fit
    "kmeans_fit_lineitem" -> ((s, dir) =>
      RefKMeans.fitSizes(s, Tables.lineitemPointsStd(s, dir),
        RefKMeans.Config(k = 5, seed = 42L, maxIter = 20))
        .select(col("cluster_id").cast("long").as("cluster_id"), col("n")))
  )

  // ---------------------------------------------------------------- oracle

  private val K = KMeansSteps.K

  /** Shared DuckDB fragments: points and literal centroids (the K
    * lowest-id embeddings, cid = vec_id — same convention as
    * [[KMeansSteps.centroids]]). */
  private val PTS =
    "pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private val CENTS =
    s"cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c FROM embeddings WHERE vec_id < $K)"
  /** Per (point, centroid) distance + argmin assignment. */
  private val ASSIGN =
    s"""d AS (SELECT p.vec_id, c.cid, list_distance(p.v, c.c) AS dist
       |       FROM pts p CROSS JOIN cents c),
       |a AS (SELECT vec_id, cid FROM (
       |        SELECT vec_id, cid,
       |               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |        FROM d) WHERE rn = 1)""".stripMargin

  /** Two rounded Lloyd training rounds (after $PTS, $CENTS, $ASSIGN):
    * ends with `n1` (round-1 per-dim state incl. the unrounded carry
    * `nx`) and `m2` (round-2 recentered means) in scope — shared by the
    * `kmeans_fit_steps` replay, the `ann_ivf_trained` quantizer (scale
    * 6) and the `ts_cluster_steps` micro-unit loop (scale 0). */
  private def lloyd2(scale: Int) =
    s"""l1 AS (SELECT a.cid, generate_subscripts(p.v, 1) - 1 AS dim, unnest(p.v) AS x
       |       FROM a JOIN pts p USING (vec_id)),
       |m1 AS (SELECT cid, dim, count(*) AS n, round(sum(x) / count(*), $scale) AS mean
       |       FROM l1 GROUP BY cid, dim),
       |c0 AS (SELECT cid, generate_subscripts(c, 1) - 1 AS dim, unnest(c) AS x FROM cents),
       |n1 AS (SELECT c0.cid, c0.dim, coalesce(m1.n, 0) AS n,
       |              coalesce(m1.mean, round(c0.x, $scale)) AS mean,
       |              coalesce(m1.mean, c0.x) AS nx
       |       FROM c0 LEFT JOIN m1 USING (cid, dim)),
       |cents1 AS (SELECT cid, list(nx ORDER BY dim) AS c FROM n1 GROUP BY cid),
       |a2 AS (SELECT vec_id, cid FROM (
       |        SELECT p.vec_id, c.cid,
       |               row_number() OVER (PARTITION BY p.vec_id
       |                                  ORDER BY list_distance(p.v, c.c), c.cid) AS rn
       |        FROM pts p CROSS JOIN cents1 c) WHERE rn = 1),
       |l2 AS (SELECT a.cid, generate_subscripts(p.v, 1) - 1 AS dim, unnest(p.v) AS x
       |       FROM a2 a JOIN pts p USING (vec_id)),
       |m2 AS (SELECT cid, dim, count(*) AS n, round(sum(x) / count(*), $scale) AS mean
       |       FROM l2 GROUP BY cid, dim)""".stripMargin
  private val LLOYD2 = lloyd2(6)

  /** z-normalized event windows (DuckDB): CTE chain ending in
    * `zz(user_id, start_seq, zw)` — shared by `ts_motif`, `ts_windows`
    * and (via [[TimeSeries.ptsOracleCtes]]) the frozen-state ts oracle.
    * Same fold order as [[TimeSeries.zWindows]]. */
  private val ZWIN = TimeSeries.zwinOracleCte

  /** The static oracles: SQL that depends only on the query, never on
    * what a run left behind (the data-dependent ones come back with
    * their query's [[Checked]] reply). Lazy: the fragments it reads are
    * vals declared further down. */
  lazy val oracleSql: Map[String, String] =
    kmeansOracle ++ textOracle ++ dedupOracle ++ annOracleBase ++
      relationalOracle ++ eventOracle ++ multimodalOracle ++
      pipelineOracle

  private def multimodalOracle: Map[String, String] = Map(
    "multimodal_phash" -> Multimodal.phashOracle,
    "multimodal_features" -> Multimodal.featuresOracle(),
    "multimodal_audio" -> Multimodal.audioOracle(),
    // REAL frame sampling: animated-GIF encode → frame-directory walk →
    // per-frame decode (Multimodal.frameSample); the oracle replays the
    // closed gray formula — valid because the GIF round-trip is lossless
    "multimodal_frames" ->
      """WITH vid AS (SELECT doc_id, 32 + (doc_id % 4) * 16 AS w,
        |                    32 + (doc_id // 3 % 3) * 16 AS h,
        |                    2 + doc_id // 3 % 3 AS nf
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, CAST(nf - 1 AS INT))) AS f FROM vid),
        |xs AS (SELECT doc_id, w, h, f, unnest(generate_series(0, CAST(w - 1 AS INT))) AS x FROM fr),
        |px AS (SELECT doc_id, h, f, x, unnest(generate_series(0, CAST(h - 1 AS INT))) AS y FROM xs),
        |g AS (SELECT doc_id, f, (doc_id * 7 + f * 19 + x * 3 + y * 5) % 256 AS v FROM px)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, count(*) AS n_px,
        |       round(sum(v) / count(*), 6) AS mean_gray,
        |       CAST(max(v) AS BIGINT) AS max_gray
        |FROM g GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin,
    "multimodal_resize" ->
      """WITH m AS (SELECT doc_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INT)] AS mime,
        |  CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS width,
        |  CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS height
        |  FROM documents),
        |r AS (SELECT *, greatest(width, height) AS mx FROM m)
        |SELECT doc_id, mime, width, height,
        |       CAST((width * 128) // mx AS BIGINT) AS out_w,
        |       CAST((height * 128) // mx AS BIGINT) AS out_h,
        |       CAST(((width * 128) // mx) * ((height * 128) // mx) * 3 AS BIGINT) AS out_bytes
        |FROM r ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INT)] AS mime,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS width,
        |  CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** Exact integer-cents projection (matches Relational.cents). */
  private def centsSql(c: String): String = s"CAST(round($c * 100, 0) AS BIGINT)"

  private def relationalOracle: Map[String, String] = Map(
    // bounded sketch oracles: DuckDB recomputes the EXACT values and
    // pins the accuracy-contract flags at 1 (see Relational Scaladoc)
    "approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       CAST(1 AS BIGINT) AS parts_ok, CAST(1 AS BIGINT) AS orders_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "approx_quantiles" ->
      """WITH q AS (SELECT l_returnflag,
        |             quantile_cont(l_extendedprice, [0.495, 0.895, 0.985]) AS lo,
        |             quantile_cont(l_extendedprice, [0.505, 0.905, 0.995]) AS hi
        |           FROM lineitem GROUP BY l_returnflag),
        |u AS (SELECT l_returnflag, unnest(generate_series(1, 3)) AS i, lo, hi FROM q)
        |SELECT l_returnflag, CAST(i - 1 AS BIGINT) AS q_idx,
        |       round(lo[CAST(i AS INT)], 6) AS q_lo,
        |       round(hi[CAST(i AS INT)], 6) AS q_hi,
        |       CAST(1 AS BIGINT) AS within
        |FROM u ORDER BY l_returnflag, q_idx""".stripMargin,
    "graph_pagerank" -> graft.operators.Graphs.pageRankOracle,
    "graph_triangles" -> graft.operators.Graphs.trianglesOracle,
    "graph_kcore" -> graft.operators.Graphs.kcoreOracle(),
    "graph_bfs" -> graft.operators.Graphs.bfsOracle(),
    "graph_label_prop" -> graft.operators.Graphs.labelPropOracle(),
    "graph_modularity" -> graft.operators.Graphs.modularityOracle(),
    "graph_louvain_move" -> graft.operators.Graphs.louvainMoveOracle(),
    "window_range" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acct_cents,
        |       count(*) OVER (PARTITION BY c_nationkey
        |                      ORDER BY CAST(round(c_acctbal * 100, 0) AS BIGINT)
        |                      RANGE BETWEEN 50000 PRECEDING AND 50000 FOLLOWING) AS n_near
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "join_nullsafe" ->
      """WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        |           FROM customer),
        |d AS (SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS dseg FROM customer)
        |SELECT coalesce(d.dseg, 'NULLSEG') AS label, count(*) AS n
        |FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.dseg
        |GROUP BY 1 ORDER BY label""".stripMargin,
    "sql_q3" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp '1998-01-01 00:00:00'
        |  AND l_shipdate > timestamp '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_c4 DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "sql_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4,
        |  count(*) AS n
        |FROM customer JOIN orders   ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |              JOIN nation   ON s_nationkey = n_nationkey
        |              JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate <  timestamp '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_c4 DESC, n_name""".stripMargin,
    "sql_q18" ->
      """WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 10000)
        |SELECT c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
        |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY price_cents DESC, o_orderkey LIMIT 20""".stripMargin,
    "sql_q17" ->
      """SELECT CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)), 0)
        |            // 7 AS BIGINT) AS avg_yearly_cents,
        |       count(*) AS n_small
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13' AND p_size < 10
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "sql_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |              JOIN orders ON o_orderkey = l1.l_orderkey
        |              JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "sql_q22" ->
      """WITH avgbal AS (
        |  SELECT count(*) AS n, sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS s
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT CAST(c_nationkey AS BIGINT) AS cntry, count(*) AS numcust,
        |       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS totacct_cents
        |FROM customer
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND CAST(round(c_acctbal * 100, 0) AS BIGINT) * (SELECT n FROM avgbal)
        |      > (SELECT s FROM avgbal)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= timestamp '2001-01-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY cntry""".stripMargin,
    "rag_mmr" -> Similarity.ragMmrOracle,
    "sql_q2" -> SqlQ2,
    "sql_q13" -> SqlQ13,
    "sql_q15" -> SqlQ15,
    "sql_q20" -> SqlQ20,
    "sql_q4" -> SqlQ4,
    "sql_q6" -> SqlQ6,
    "sql_q7" -> SqlQ7,
    "sql_q10" -> SqlQ10,
    // Q14/Q8: shared body, engine-split ppm division (FIXTURES.md)
    "sql_q14" -> s"WITH $SqlQ14Body\n$SqlQ14SelectDuck",
    "sql_q8" -> s"WITH $SqlQ8Body\n$SqlQ8SelectDuck",
    "sql_q9" -> SqlQ9,
    "sql_q11" -> SqlQ11,
    "sql_q12" -> SqlQ12,
    "sql_q16" -> SqlQ16,
    "sql_q19" -> SqlQ19,
    "scd_latest" -> Relational.scdLatestOracle,
    "scd2_history" -> Relational.scd2HistoryOracle,
    "zorder_key" -> Relational.zorderKeyOracle,
    "lake_compaction" -> Relational.compactionPlanOracle(),
    "lake_skipping" -> Relational.lakeSkippingOracle(),
    "basket_rules" -> Relational.basketRulesOracle(),
    "ts_decompose" -> TimeSeries.decomposeOracle(),
    "feature_bins" -> Relational.featureBinsOracle(),
    "text_collocations" -> TextAnalysis.collocationsOracle(),
    "join_skew" ->
      s"""SELECT o_orderstatus,
         |  CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents,
         |  count(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
         |  CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents,
         |  CAST(sum(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS BIGINT) AS revenue_c4,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_mkt" ->
      s"""SELECT c_mktsegment,
         |  CAST(sum(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS BIGINT) AS revenue_c4,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_bloom" -> Relational.bloomSemiOracle,
    "join_semi_anti" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, 'with' AS grp, count(*) AS n
        |FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_nationkey
        |UNION ALL
        |SELECT CAST(c_nationkey AS BIGINT), 'without', count(*)
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey, grp""".stripMargin,
    "topk_window" ->
      s"""WITH t AS (SELECT l_returnflag, l_orderkey,
         |             CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |             ${centsSql("l_extendedprice")} AS price_cents FROM lineitem),
         |w AS (SELECT *,
         |  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY price_cents DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn,
         |  CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY price_cents DESC, l_orderkey, l_linenumber) AS BIGINT) AS rnk,
         |  coalesce(lag(price_cents, 1) OVER (PARTITION BY l_returnflag ORDER BY price_cents DESC, l_orderkey, l_linenumber), -1) AS prev_price_cents,
         |  CAST(sum(price_cents) OVER (PARTITION BY l_returnflag ORDER BY price_cents DESC, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
         |  FROM t)
         |SELECT l_returnflag, l_orderkey, l_linenumber, price_cents, rn, rnk, prev_price_cents, running_cents
         |FROM w WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,
    "rollup_agg" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
         |       CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
         |       count(*) AS n
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |SELECT 'intersect' AS op, o_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'except' AS op, o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'union' AS op, o_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
        |ORDER BY op, o_custkey""".stripMargin,
    "distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "scalar_funcs" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  upper(l_returnflag) AS flag_u,
        |  l_returnflag || '-' || l_linestatus AS fs,
        |  CAST(length(l_returnflag || l_linestatus) AS BIGINT) AS fs_len,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_y,
        |  CAST(month(l_shipdate) AS BIGINT) AS ship_m,
        |  CAST(day(l_shipdate) AS BIGINT) AS ship_d,
        |  epoch_us(date_trunc('month', l_shipdate)) AS ship_month_us,
        |  round(abs(l_discount - 0.05), 6) AS disc_dev,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "pivot_agg" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n  ")
      s"""SELECT user_id % 10 AS user_decile,
         |  $cols
         |FROM events GROUP BY user_decile ORDER BY user_decile""".stripMargin
    },
    "scalar_subquery" ->
      """SELECT o_orderkey
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders o2
        |                      WHERE o2.o_orderpriority = o.o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,
    "quantiles" ->
      """WITH q AS (SELECT l_returnflag, quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(generate_subscripts(qs, 1) - 1 AS BIGINT) AS q_idx,
        |       round(unnest(qs), 6) AS q
        |FROM q ORDER BY l_returnflag, q_idx""".stripMargin,
    "asof_join" ->
      """WITH r AS (SELECT o_custkey % 10 AS key, o_orderdate AS ts, min(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |     l AS (SELECT user_id % 10 AS key, ts, event_id FROM events)
        |SELECT l.event_id, coalesce(r.o_orderkey, -1) AS o_orderkey
        |FROM l ASOF LEFT JOIN r ON l.key = r.key AND r.ts <= l.ts
        |ORDER BY event_id""".stripMargin,
    "cube_agg" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
         |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
         |       CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS price_cents,
         |       count(*) AS n
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "range_join" ->
      """WITH o AS (SELECT o_custkey % 10 AS key, o_orderkey,
        |                  epoch_us(o_orderdate) AS start_us FROM orders),
        |     e AS (SELECT event_id, user_id % 10 AS key, epoch_us(ts) AS ts_us FROM events)
        |SELECT e.event_id, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
        |       CAST(coalesce(min(o.o_orderkey), -1) AS BIGINT) AS first_orderkey
        |FROM e LEFT JOIN o ON e.key = o.key
        |                  AND e.ts_us >= o.start_us
        |                  AND e.ts_us < o.start_us + 604800000000
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    "window_funcs" ->
      s"""WITH t AS (SELECT o_orderpriority, o_orderkey,
         |             ${centsSql("o_totalprice")} AS price_cents FROM orders),
         |w AS (SELECT *,
         |  CAST(ntile(4) OVER win AS BIGINT) AS quartile,
         |  round(percent_rank() OVER win, 6) AS pct_rank,
         |  round(cume_dist() OVER win, 6) AS cume,
         |  first_value(o_orderkey) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest,
         |  last_value(o_orderkey) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS dearest
         |  FROM t
         |  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY price_cents, o_orderkey))
         |SELECT o_orderpriority, o_orderkey, price_cents, quartile, pct_rank, cume, cheapest, dearest
         |FROM w WHERE o_orderkey % 100 = 0
         |ORDER BY o_orderpriority, price_cents, o_orderkey""".stripMargin,
    "set_ops_all" ->
      """WITH a AS (SELECT o_custkey % 100 AS k FROM orders WHERE o_orderstatus = 'O'),
        |     b AS (SELECT o_custkey % 100 AS k FROM orders WHERE o_totalprice > 150000.0),
        |     u AS (SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        |           UNION ALL
        |           SELECT 'except_all', k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |           UNION ALL
        |           SELECT 'union_all', k FROM (SELECT k FROM a UNION ALL SELECT k FROM b))
        |SELECT op, k, count(*) AS n FROM u GROUP BY op, k ORDER BY op, k""".stripMargin,
    "json_props" ->
      """SELECT event_type, CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
        |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type, k_mod
        |ORDER BY event_type, k_mod""".stripMargin,
    "hof_funcs" ->
      s"""WITH t AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |             [${centsSql("l_quantity")}, ${centsSql("l_extendedprice")},
         |              ${centsSql("l_discount")}, ${centsSql("l_tax")}] AS v FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(list_sum(list_transform(v, x -> x * 2)) AS BIGINT) AS doubled_sum,
         |  CAST(len(list_filter(v, x -> x > 1000)) AS BIGINT) AS n_over,
         |  CAST(len(list_filter(v, x -> x = 0)) > 0 AS BIGINT) AS any_zero,
         |  CAST(len(list_filter(v, x -> x < 0)) = 0 AS BIGINT) AS all_nonneg
         |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "date_spine" ->
      """WITH t AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |           FROM orders WHERE o_orderkey % 1000 = 0),
        |s AS (SELECT o_orderkey, unnest(generate_series(d, d + 5, INTERVAL 1 DAY)) AS day,
        |             generate_subscripts(generate_series(d, d + 5, INTERVAL 1 DAY), 1) - 1 AS i
        |      FROM t)
        |SELECT o_orderkey, CAST(i AS BIGINT) AS i,
        |       strftime(day, '%Y-%m-%d') AS day_str
        |FROM s ORDER BY o_orderkey, i""".stripMargin,
    "unpivot_measures" -> Relational.unpivotMeasuresOracle,
    "histogram" -> Relational.histogramOracle,
    "explode_outer" ->
      """WITH t AS (SELECT o_orderkey,
        |             string_split_regex(o_orderpriority, '[- ]')[3:] AS l3 FROM orders),
        |e AS (SELECT o_orderkey,
        |             CASE WHEN len(l3) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE l3 END AS le
        |      FROM t),
        |u AS (SELECT o_orderkey, unnest(le) AS w,
        |             generate_subscripts(le, 1) - 1 AS p FROM e)
        |SELECT o_orderkey,
        |       CAST(coalesce(CASE WHEN w IS NULL THEN NULL ELSE p END, -1) AS BIGINT) AS pos,
        |       coalesce(w, '-') AS word
        |FROM u ORDER BY o_orderkey, pos""".stripMargin,
    "regexp_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '([A-Z]+)', 1) AS first_upper,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CAST(regexp_matches(p_type, '[0-9]') AS BIGINT) AS has_digit,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
        |FROM part ORDER BY p_partkey""".stripMargin,
    "time_rollup" ->
      s"""SELECT coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS y,
         |       coalesce(CAST(month(o_orderdate) AS BIGINT), -1) AS m,
         |       CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS price_cents,
         |       count(*) AS n
         |FROM orders GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
         |ORDER BY y, m""".stripMargin,
    "cross_join" ->
      """SELECT r_name, n_name,
        |       CAST(r_regionkey = n_regionkey AS BIGINT) AS is_home
        |FROM region CROSS JOIN nation ORDER BY r_name, n_name""".stripMargin,
    "null_semantics" ->
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        |  CAST(nullif(o_orderstatus, 'O') IS NULL AS BIGINT) AS was_open,
        |  CAST(nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS BIGINT) AS nullsafe_is_f
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "map_funcs" ->
      s"""WITH t AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |             MAP {'q': ${centsSql("l_quantity")}, 'p': ${centsSql("l_extendedprice")}} AS m
         |           FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |       m['q'][1] AS q_val, m['p'][1] AS p_val,
         |       CAST(cardinality(m) AS BIGINT) AS n_entries,
         |       array_to_string(map_keys(m), ',') AS keys_str
         |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_theta" ->
      """SELECT p_brand, count(*) AS n_matches,
        |       count(DISTINCT s_suppkey) AS n_suppliers
        |FROM part JOIN supplier
        |  ON s_acctbal >= p_retailprice * 0.5 AND s_acctbal < p_retailprice * 1.5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_theta_sampled" ->
      """SELECT p_brand, count(*) AS n_matches,
        |       count(DISTINCT s_suppkey) AS n_suppliers
        |FROM (SELECT * FROM part WHERE p_partkey % 5 = 0) part
        |JOIN (SELECT * FROM supplier WHERE s_suppkey % 5 = 0) supplier
        |  ON s_acctbal >= p_retailprice * 0.5 AND s_acctbal < p_retailprice * 1.5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "grouping_sets" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
         |       CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
         |       count(*) AS n
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(stddev_pop(l_quantity), 6) AS qty_sd,
        |  round(var_pop(l_discount), 6) AS disc_var,
        |  round(avg(l_tax), 6) AS tax_mean,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "string_funcs" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  reverse(p_name) AS name_rev,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        |  substring(p_name, 1, 5) AS name5,
        |  translate(p_type, 'ae', '43') AS type_l33t,
        |  repeat(p_brand, 2) AS brand2,
        |  CAST(length(trim(p_name)) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "join_geo" ->
      s"""SELECT r_name, n_name, count(*) AS n_suppliers,
         |       CAST(sum(${centsSql("s_acctbal")}) AS BIGINT) AS acctbal_cents
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "date_funcs" ->
      """WITH t AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT o_orderkey,
        |  CAST(d AS VARCHAR) AS d_str,
        |  CAST(d + INTERVAL 7 DAY AS VARCHAR)[1:10] AS next_week,
        |  CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS days_since,
        |  CAST(isodow(d) AS BIGINT) AS isodow,
        |  CAST(weekofyear(d) AS BIGINT) AS iso_week,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(last_day(d) AS VARCHAR) AS month_end,
        |  CAST(date_trunc('week', d) AS VARCHAR)[1:10] AS week_start
        |FROM t ORDER BY o_orderkey""".stripMargin,
    "array_funcs" ->
      """WITH t AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |             [CAST(round(l_quantity * 100, 0) AS BIGINT),
        |              CAST(round(l_extendedprice * 100, 0) AS BIGINT),
        |              CAST(round(l_discount * 100, 0) AS BIGINT),
        |              CAST(round(l_tax * 100, 0) AS BIGINT)] AS v FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       array_to_string(list_sort(v), '_') AS sorted_str,
        |       array_to_string(v[2:3], '_') AS mid_str,
        |       CAST(list_contains(v, 0) AS BIGINT) AS has_zero,
        |       v[-1] AS last_el,
        |       CAST(len(v) AS BIGINT) AS n_el
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** Language-ID pieces shared by `clean_corpus` and `pipeline_e2e`:
    * per-lexicon hit columns, their max `m`, and the argmax CASE chain. */
  private def langSql: (String, String, String) = (
    TextAnalysis.lexicons
      .map { case (l, ws) => s"CAST(${hits(ws)} AS BIGINT) AS s_$l" }.mkString(", "),
    TextAnalysis.lexicons.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")"),
    TextAnalysis.lexicons
      .map { case (l, _) => s"WHEN s_$l = m AND m > 0 THEN '$l'" }.mkString(" "))

  private def pipelineOracle: Map[String, String] = {
    val (scoreCols, m, caseChain) = langSql
    val lenOk = "(n_tok >= 20 AND n_tok <= 1000)"
    val qOk = s"($lenOk AND score >= 0.5)"
    val langOk = s"($qOk AND lp <> 'und')"
    val ddOk = s"($langOk AND keeper = doc_id)"
    def stageSel(i: Int, name: String, cond: String) =
      s"""SELECT CAST($i AS BIGINT) AS stage, '$name' AS name,
         |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM c WHERE $cond HAVING count(*) > 0""".stripMargin
    Map(
    "clean_corpus" ->
      s"""WITH s AS (SELECT doc_id, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(${hits(TextAnalysis.stopwords)} AS BIGINT) AS stop_hits,
         |  CAST(length(text) AS BIGINT) AS n_char, $scoreCols
         |  FROM documents),
         |g AS (SELECT *, $m AS m,
         |        round(least(1.0, n_tok / 100.0) * 0.4 + (1.0 - n_punct / n_char) * 0.3
         |              + least(1.0, stop_hits * 5.0 / n_tok) * 0.3, 6) AS score
         |      FROM s),
         |c AS (SELECT doc_id, n_tok, score,
         |             CASE $caseChain ELSE 'und' END AS lp,
         |             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |      FROM g)
         |${stageSel(1, "all", "TRUE")}
         |UNION ALL ${stageSel(2, "length", lenOk)}
         |UNION ALL ${stageSel(3, "quality", qOk)}
         |UNION ALL ${stageSel(4, "language", langOk)}
         |UNION ALL ${stageSel(5, "dedup", ddOk)}
         |ORDER BY stage""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT shard, n_tok,
        |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                              ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT shard, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY shard, seq""".stripMargin,
    "text_pii_scrub" -> Pipeline.piiScrubOracle,
    "sample_stratified" -> Pipeline.stratifiedSampleOracle,
    "sample_bottomk" -> Pipeline.bottomKSampleOracle(),
    "sample_weighted" -> Pipeline.weightedSampleOracle(),
    "sample_mixture" -> Pipeline.mixtureSampleOracle(),
    "events_cep" -> Events.cepOracle(),
    "sample_importance" -> Pipeline.importanceSampleOracle,
    "decontaminate" -> Pipeline.decontaminateOracle,
    "text_repetition" -> Pipeline.repetitionStatsOracle,
    "profile_columns" -> Relational.profileColumnsOracle,
    "dq_expectations" -> Relational.dqExpectationsOracle,
    "dq_drift" -> Relational.dqDriftOracle,
    "stats_ols" -> Relational.statsOlsOracle,
    "stats_chi2" -> Relational.statsChi2Oracle,
    "stats_ks" -> Relational.statsKsOracle(),
    "stats_welch" -> Relational.statsWelchOracle(),
    "stats_mannwhitney" -> Relational.statsMwuOracle(),
    "sample_splits" -> Pipeline.hashSplitsOracle,
    "events_attribution" -> Events.attributionOracle,
    "ts_forecast" -> TimeSeries.forecastOracle())
  }

  /** DuckDB twin of [[Pipeline.pipelineE2e]] — every stage's standalone
    * oracle fragment under ONE statement: the clean-signal CTEs (shared
    * formulas with `clean_corpus`), the decontamination gram chain, the
    * MinHash pair pipeline (SHROWS + MINHASH_CTES verbatim), the
    * temperature rates from the (n, Z) frozen for `sfDir`, the 5-stage
    * funnel and the packed-sequence rollup. */
  private def e2eSql(sfDir: String): String = {
    val (scoreCols, m, caseChain) = langSql
    val (n, z) = Pipeline.frozenTempStats(sfDir)
    val clean = "(n_tok >= 20 AND n_tok <= 1000 AND score >= 0.5 AND lp <> 'und')"
    val decon = s"($clean AND NOT is_eval AND NOT leak)"
    val dedup = s"($decon AND keeper = doc_id AND NOT mh_dup)"
    val bal = s"($dedup AND temp_kept)"
    def stageSel(i: Int, name: String, cond: String) =
      s"""SELECT CAST($i AS BIGINT) AS stage, '$name' AS name,
         |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM sig WHERE $cond HAVING count(*) > 0""".stripMargin
    s"""WITH $SHROWS,
       |$MINHASH_CTES,
       |cs AS (SELECT doc_id, text, lang,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(${hits(TextAnalysis.stopwords)} AS BIGINT) AS stop_hits,
       |  CAST(length(text) AS BIGINT) AS n_char, $scoreCols
       |  FROM documents),
       |cg AS (SELECT *, $m AS m,
       |        round(least(1.0, n_tok / 100.0) * 0.4 + (1.0 - n_punct / n_char) * 0.3
       |              + least(1.0, stop_hits * 5.0 / n_tok) * 0.3, 6) AS score
       |      FROM cs),
       |cc AS (SELECT doc_id, lang, n_tok, score,
       |             CASE $caseChain ELSE 'und' END AS lp,
       |             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |      FROM cg),
       |ev0 AS (SELECT doc_id, (${HashOps.wordHashSqlN(15)}) % 1000
       |                         < ${Pipeline.DecontamEvalPermille} AS is_eval
       |        FROM (SELECT doc_id, md5('eval:' || doc_id) AS m FROM documents)),
       |dg0 AS (SELECT doc_id, is_eval,
       |               list_distinct(list_transform(
       |                 generate_series(1, len(t) - ${Pipeline.DecontamGram - 1}),
       |                 i -> array_to_string(t[i:i+${Pipeline.DecontamGram - 1}], ' '))) AS gs
       |        FROM (SELECT dd.doc_id, ev0.is_eval, string_split(dd.text, ' ') AS t
       |              FROM documents dd JOIN ev0 USING (doc_id))
       |        WHERE len(t) >= ${Pipeline.DecontamGram}),
       |dg AS (SELECT doc_id, is_eval, ${HashOps.wordHashSqlN(15)} AS gh
       |       FROM (SELECT doc_id, is_eval, md5(unnest(gs)) AS m FROM dg0)),
       |dev AS (SELECT DISTINCT gh FROM dg WHERE is_eval),
       |leaked AS (SELECT DISTINCT doc_id FROM dg JOIN dev USING (gh) WHERE NOT is_eval),
       |losers AS (SELECT DISTINCT doc_b AS doc_id FROM res),
       |tr AS (SELECT lang, least(1000, CAST(floor(round(1000.0 * ($n * 0.5)
       |                * (sqrt(n_g) / $z) / n_g, 6)) AS BIGINT)) AS keep_permille
       |       FROM (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang)),
       |tk AS (SELECT doc_id, (${HashOps.wordHashSqlN(15)}) % 1000 < keep_permille AS temp_kept
       |       FROM (SELECT dd.doc_id, tr.keep_permille, md5('temp:' || dd.doc_id) AS m
       |             FROM documents dd JOIN tr USING (lang))),
       |sig AS (SELECT cc.doc_id, cc.n_tok, cc.score, cc.lp, cc.keeper, ev0.is_eval,
       |               (leaked.doc_id IS NOT NULL) AS leak,
       |               (losers.doc_id IS NOT NULL) AS mh_dup, tk.temp_kept
       |        FROM cc JOIN ev0 USING (doc_id)
       |                LEFT JOIN leaked USING (doc_id)
       |                LEFT JOIN losers USING (doc_id)
       |                JOIN tk USING (doc_id)),
       |surv AS (SELECT doc_id, n_tok FROM sig WHERE $bal),
       |pc AS (SELECT doc_id % 8 AS shard, n_tok,
       |              sum(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
       |                               ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM surv),
       |ps AS (SELECT shard, (cum - n_tok) // 2048 AS seq, sum(n_tok) AS tkn
       |       FROM pc GROUP BY 1, 2)
       |${stageSel(1, "all", "TRUE")}
       |UNION ALL ${stageSel(2, "clean", clean)}
       |UNION ALL ${stageSel(3, "decontam", decon)}
       |UNION ALL ${stageSel(4, "dedup", dedup)}
       |UNION ALL ${stageSel(5, "balance", bal)}
       |UNION ALL SELECT CAST(6 AS BIGINT), 'packed', count(*),
       |                 CAST(coalesce(sum(tkn), 0) AS BIGINT) FROM ps
       |ORDER BY stage""".stripMargin
  }

  private def eventOracle: Map[String, String] = Map(
    "events_paths" ->
      """WITH t AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM t WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, event_type, next_type LIMIT 10""".stripMargin,
    "events_anomaly" ->
      """WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS c, CAST(sum(n) AS BIGINT) AS s1,
        |              CAST(sum(n * n) AS BIGINT) AS s2
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, d.day, d.n
        |FROM d JOIN st ON d.event_type = st.event_type
        |WHERE (d.n * st.c - st.s1) * (d.n * st.c - st.s1)
        |      > 4 * (st.s2 * st.c - st.s1 * st.s1)
        |ORDER BY d.event_type, d.day""".stripMargin,
    "ts_autocorr" -> TimeSeries.autocorrOracle(),
    "ts_changepoint" -> TimeSeries.changepointOracle(),
    "ts_fill" ->
      """WITH h AS (SELECT user_id, epoch_us(date_trunc('hour', ts)) AS hour_us,
        |                  count(*) AS n, round(avg(value), 6) AS v
        |           FROM events WHERE user_id < 5 GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1 FROM h GROUP BY 1),
        |sp AS (SELECT user_id, unnest(generate_series(h0, h1, 3600000000)) AS hour_us FROM b),
        |j AS (SELECT sp.user_id, sp.hour_us, h.n, h.v
        |      FROM sp LEFT JOIN h ON sp.user_id = h.user_id AND sp.hour_us = h.hour_us)
        |SELECT user_id, hour_us, CAST(coalesce(n, 0) AS BIGINT) AS n,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour_us
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM j ORDER BY user_id, hour_us""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, d, min(d) OVER (PARTITION BY user_id) AS cohort
        |      FROM e)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |       CAST(d - cohort AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "events_hourly" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin,
    "events_sessions" ->
      """WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS us FROM events),
        |l AS (SELECT *, lag(us, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us FROM e),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary FROM l),
        |s AS (SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM b)
        |SELECT user_id, session_id, count(*) AS n,
        |       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |       round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "events_session_window" ->
      // session_window merges when the gap is ≤ the duration (an event
      // landing exactly on the window end still extends it — pinned by
      // EventsSpec), so the island boundary is strictly `>`
      """WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS us FROM events),
        |l AS (SELECT *, lag(us, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us FROM e),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary FROM l),
        |s AS (SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM b)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |       epoch_us(max(ts)) + 1800000000 AS end_us,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_us""".stripMargin,
    "events_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the ts Lloyd loop in integer micro-units: strided z-windows →
    // round(round(z,6)·1e6) integer features → 2 scale-0 rounds from the
    // 4 lowest-id seeds via the shared LLOYD2 chain — every output value
    // an exact integer, immune to cross-engine summation order
    "ts_cluster_steps" ->
      s"""WITH $ZWIN,
         |st AS (SELECT user_id, start_seq, zw FROM zz WHERE start_seq % 4 = 1),
         |pts AS (SELECT CAST((user_id << 40) + start_seq AS BIGINT) AS vec_id,
         |               list_transform(zw, x -> round(round(x, 6) * 1000000, 0)) AS v FROM st),
         |cents AS (SELECT cid, c FROM (
         |            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
         |            FROM pts) WHERE cid < 4),
         |$ASSIGN, ${lloyd2(0)},
         |n2 AS (SELECT n1.cid, n1.dim, coalesce(m2.n, 0) AS n,
         |              coalesce(m2.mean, round(n1.nx, 0)) AS mean
         |       FROM n1 LEFT JOIN m2 USING (cid, dim)),
         |u AS (SELECT 1 AS iter, cid, dim, n, mean FROM n1
         |      UNION ALL
         |      SELECT 2 AS iter, cid, dim, n, mean FROM n2)
         |SELECT CAST(iter AS BIGINT) AS iter, CAST(cid AS BIGINT) AS cluster_id,
         |       CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
         |       CAST(mean AS BIGINT) AS mean_micro
         |FROM u ORDER BY iter, cluster_id, dim""".stripMargin,
    // ts_cluster's feature pipeline (strided z-windows, composite ids)
    "ts_windows" ->
      s"""WITH $ZWIN,
         |st AS (SELECT user_id, start_seq, zw FROM zz WHERE start_seq % 4 = 1)
         |SELECT CAST((user_id << 40) + start_seq AS BIGINT) AS id,
         |       CAST(generate_subscripts(zw, 1) - 1 AS BIGINT) AS dim,
         |       round(unnest(zw), 6) AS z
         |FROM st ORDER BY id, dim""".stripMargin,
    "ts_motif" ->
      s"""WITH $ZWIN,
         |qsel AS (SELECT user_id AS qu, start_seq AS qs, zw AS qw FROM zz
         |         ORDER BY user_id, start_seq LIMIT 1)
         |SELECT z.user_id, z.start_seq,
         |       round(list_distance(z.zw, q.qw), 6) AS dist
         |FROM zz z CROSS JOIN qsel q
         |WHERE NOT (z.user_id = q.qu AND z.start_seq = q.qs)
         |ORDER BY list_distance(z.zw, q.qw), z.user_id, z.start_seq
         |LIMIT 10""".stripMargin,
    "events_sliding" ->
      """WITH w AS (SELECT event_type, value,
        |             unnest([epoch_us(date_trunc('hour', ts)),
        |                     epoch_us(date_trunc('hour', ts)) - 3600000000]) AS win_us
        |           FROM events)
        |SELECT win_us, event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM w GROUP BY win_us, event_type ORDER BY win_us, event_type""".stripMargin,
    "events_funnel" ->
      """WITH v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us, event_id AS view_id
        |           FROM events WHERE event_type = 'view'),
        |     p AS (SELECT user_id AS p_user, epoch_us(ts) AS p_us, event_id AS purchase_id
        |           FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, CAST(count(v.view_id) AS BIGINT) AS n_views,
        |       CAST(coalesce(min(v.view_id), -1) AS BIGINT) AS first_view_id
        |FROM p LEFT JOIN v ON p.p_user = v.v_user
        |                  AND v.v_us <= p.p_us AND v.v_us > p.p_us - 1800000000
        |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin)

  // DuckDB lexicon/list literals generated from the same Scala constants.
  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")
  private def hits(ws: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> list_contains(${sqlList(ws)}, t)))"
  private val wordHashSql: String = HashOps.wordHashSql

  /** Shared fragments: distinct word-3-gram shingle rows (keyed by their
    * 60-bit md5 hash, mirroring Dedup.shingleRows) / double vectors. */
  /** TPC-H-shape SQL shared VERBATIM between the Spark query and the
    * DuckDB oracle (ANSI subset both dialects parse identically —
    * sharing the text makes query/oracle drift impossible). */
  private val SqlQ2 =
    """SELECT p_partkey, s_suppkey, s_name,
      |       CAST(round(s_acctbal * 100, 0) AS BIGINT) AS acct_cents
      |FROM part JOIN lineitem ON l_partkey = p_partkey
      |          JOIN supplier ON s_suppkey = l_suppkey
      |WHERE p_size = 10
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND CAST(round(s_acctbal * 100, 0) AS BIGINT) =
      |      (SELECT min(CAST(round(s2.s_acctbal * 100, 0) AS BIGINT))
      |       FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
      |       WHERE l2.l_partkey = p_partkey
      |         AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |         AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
      |GROUP BY 1, 2, 3, 4 ORDER BY p_partkey, s_suppkey""".stripMargin

  private val SqlQ4 =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val SqlQ6 =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |              * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_c4,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
      |  AND l_quantity < 24""".stripMargin

  private val SqlQ7 =
    """SELECT CASE WHEN n1.n_nationkey % 2 = 0 THEN 'EVEN->ODD'
      |            ELSE 'ODD->EVEN' END AS lane,
      |       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_nationkey % 2 = 0 AND n2.n_nationkey % 2 = 1)
      |    OR (n1.n_nationkey % 2 = 1 AND n2.n_nationkey % 2 = 0))
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  private val SqlQ10 =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_c4 DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Q14's scan+conditional-sum body — shared VERBATIM by both engines;
    * only the final ppm division differs (FIXTURES.md engine split:
    * cents×pct sums × 1e6 overflow int64, so Spark divides in
    * DECIMAL(38,0) and DuckDB in HUGEINT — both see only non-negative
    * operands). */
  private val SqlQ14Body =
    """s AS (SELECT sum(CASE WHEN p_type = 'PROMO'
      |                 THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |                      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
      |                 ELSE 0 END) AS p,
      |             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |                 * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS t
      |      FROM lineitem JOIN part ON p_partkey = l_partkey
      |      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')""".stripMargin

  // Hashed-output typing rule (FIXTURES.md, r12): the wide DECIMAL/
  // HUGEINT types stay INTERNAL to the ppm division — the emitted
  // carriers are BIGINT (the c4 sums fit int64 through sf10: ~4.4e12 at
  // sf0.01, linear in sf). r11 proved the driver's hasher renders
  // DECIMAL(38,0) values differently from DuckDB VARCHAR/BIGINT even
  // when the math is identical (the 4/4-vs-0/187 separator), so no
  // DECIMAL may cross the final SELECT.
  private val SqlQ14SelectSpark =
    """SELECT CAST(p AS BIGINT) AS promo_c4, CAST(t AS BIGINT) AS total_c4,
      |       CAST(CAST(p AS DECIMAL(38,0)) * 1000000 div t AS BIGINT) AS promo_ppm
      |FROM s""".stripMargin

  private val SqlQ14SelectDuck =
    """SELECT CAST(p AS BIGINT) AS promo_c4, CAST(t AS BIGINT) AS total_c4,
      |       CAST(CAST(p AS HUGEINT) * 1000000 // t AS BIGINT) AS promo_ppm
      |FROM s""".stripMargin

  /** Q8's join+conditional-share body — shared VERBATIM by both
    * engines; only the final ppm division differs (the [[SqlQ14Body]]
    * engine split, same non-negative operands). */
  private val SqlQ8Body =
    """b AS (SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |             CASE WHEN n1.n_nationkey % 2 = 0 THEN 1 ELSE 0 END AS is_even_supp,
      |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS vol
      |      FROM lineitem
      |      JOIN orders   ON l_orderkey = o_orderkey
      |      JOIN supplier ON l_suppkey = s_suppkey
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |      WHERE ((n1.n_nationkey % 2 = 0 AND n2.n_nationkey % 2 = 1)
      |          OR (n1.n_nationkey % 2 = 1 AND n2.n_nationkey % 2 = 0))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |y AS (SELECT l_year,
      |             sum(CASE WHEN is_even_supp = 1 THEN vol ELSE 0 END) AS p,
      |             sum(vol) AS t
      |      FROM b GROUP BY l_year)""".stripMargin

  // BIGINT carriers for the same reason as [[SqlQ14SelectSpark]].
  private val SqlQ8SelectSpark =
    """SELECT l_year, CAST(p AS BIGINT) AS even_c4, CAST(t AS BIGINT) AS total_c4,
      |       CAST(CAST(p AS DECIMAL(38,0)) * 1000000 div t AS BIGINT) AS share_ppm
      |FROM y ORDER BY l_year""".stripMargin

  private val SqlQ8SelectDuck =
    """SELECT l_year, CAST(p AS BIGINT) AS even_c4, CAST(t AS BIGINT) AS total_c4,
      |       CAST(CAST(p AS HUGEINT) * 1000000 // t AS BIGINT) AS share_ppm
      |FROM y ORDER BY l_year""".stripMargin

  private val SqlQ16 =
    """SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 1000)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** TPC-H Q9 shape (profit by nation and year): the fixture has no
    * partsupp, so supply cost is stood in by `p_retailprice` over the
    * part↔supplier lineitem bridge (the [[SqlQ2]] adaptation
    * convention). The profit term is a SIGNED sum — revenue c4 minus
    * retail-cost c4 goes negative on ~23% of rows (sf0.01) — the live
    * exercise of the negative-value rule (no division anywhere, so the
    * FIXTURES.md negative-// rule is untouched) and of the r12
    * hashed-output typing rule (signed BIGINT carrier; sums fit int64
    * through sf1000: ~1.7e13 at sf10). Shared VERBATIM by both engines. */
  private val SqlQ9 =
    """SELECT n_name, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
      |                - CAST(round(p_retailprice * 100, 0) AS BIGINT) * 100
      |                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_c4,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN part     ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation   ON n_nationkey = s_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, EXTRACT(year FROM l_shipdate)
      |ORDER BY n_name, l_year""".stripMargin

  /** TPC-H Q11 shape (important-stock identification): per-part value
    * held by the nation-group suppliers, keeping parts whose value
    * exceeds 2× the mean part value. The threshold is the exact
    * cross-multiplied integer test `value · n > 2 · total` (the
    * [[SqlQ22]] convention — no float fraction crosses engines), and it
    * is SCALE-FREE: TPC-H's fixed fraction empties at larger sf as the
    * part count grows, a mean-relative share does not (8/87/494 rows at
    * sf0.001/0.01/0.1). Shared VERBATIM by both engines. */
  private val SqlQ11 =
    """WITH v AS (SELECT l_partkey,
      |                  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |           FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |           WHERE s_nationkey % 5 = 0
      |           GROUP BY l_partkey),
      |tot AS (SELECT count(*) AS n, sum(value_cents) AS s FROM v)
      |SELECT l_partkey, value_cents FROM v
      |WHERE value_cents * (SELECT n FROM tot) > 2 * (SELECT s FROM tot)
      |ORDER BY value_cents DESC, l_partkey""".stripMargin

  /** TPC-H Q12 shape (shipmode priority split): two-way conditional
    * count per ship mode — high-priority vs low-priority lines among
    * 1997 late shipments. The fixture has no l_shipmode/commit/receipt
    * dates: mode is a deterministic `l_suppkey % 3` stand-in and "late"
    * is shipped ≥ 60 days after the order date. Shared VERBATIM. */
  private val SqlQ12 =
    """SELECT CASE CAST(l_suppkey % 3 AS BIGINT) WHEN 0 THEN 'MAIL'
      |            WHEN 1 THEN 'SHIP' ELSE 'RAIL' END AS shipmode,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val SqlQ19 =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |              * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS revenue_c4,
      |       count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  private val SqlQ13 =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |           AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val SqlQ15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
      |              AS BIGINT) AS total_revenue_c4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue_c4
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue_c4 = (SELECT max(total_revenue_c4) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  private val SqlQ20 =
    """SELECT s_suppkey, s_name
      |FROM supplier WHERE s_suppkey IN (
      |  SELECT l1.l_suppkey FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
      |  WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l1.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |    AND p_size < 15
      |  GROUP BY l1.l_suppkey, l1.l_partkey
      |  HAVING 2 * sum(CAST(l1.l_quantity AS BIGINT)) >
      |         (SELECT sum(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |          WHERE l2.l_partkey = l1.l_partkey
      |            AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |            AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'))
      |ORDER BY s_suppkey""".stripMargin

  private val SHROWS =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |s0 AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs FROM d),
       |shs AS (SELECT doc_id, unnest(shs) AS sh FROM s0),
       |sh AS (SELECT doc_id, ${HashOps.wordHashSqlN(15)} AS shh
       |       FROM (SELECT doc_id, md5(sh) AS m FROM shs))""".stripMargin
  private val COSP =
    "p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private def cosSql(a: String, b: String): String =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** MinHash LSH pair CTEs (after SHROWS): end in
    * `res(doc_a, doc_b, jaccard)` — shared by the pair query and the
    * connected-components oracle. */
  private val MINHASH_CTES =
    s"""mh AS (SELECT doc_id, j,
       |              min(((2 * j + 1) * (shh % ${Dedup.MINHASH_P})
       |                   + (j * ${Dedup.MINHASH_B}) % ${Dedup.MINHASH_P}) % ${Dedup.MINHASH_P}) AS h
       |       FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.MINHASH_PERMS - 1})) AS j) g
       |       GROUP BY doc_id, j),
       |bk AS (SELECT doc_id, CAST(floor(j / 2.0) AS BIGINT) AS band,
       |              min(CASE WHEN j % 2 = 0 THEN h END) * ${Dedup.MINHASH_P}
       |                + min(CASE WHEN j % 2 = 1 THEN h END) AS key
       |       FROM mh GROUP BY doc_id, band),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
       |                            AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ov AS (SELECT c.doc_a, c.doc_b, count(*) AS c FROM cand c
       |       JOIN sh x ON x.doc_id = c.doc_a
       |       JOIN sh y ON y.doc_id = c.doc_b AND y.shh = x.shh
       |       GROUP BY 1, 2),
       |res AS (SELECT doc_a, doc_b, c * 1.0 / (x.n + y.n - c) AS jaccard
       |        FROM ov JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |        WHERE c * 1.0 / (x.n + y.n - c) >= 0.5)""".stripMargin

  private def dedupOracle: Map[String, String] = {
    val base = dedupOracleBase
    // recall metric: reuse the ngram/minhash pipelines verbatim as
    // subqueries (DuckDB allows WITH inside a FROM subquery)
    base + ("dedup_recall" ->
      s"""SELECT
         |  (SELECT count(*) FROM (${base("dedup_ngram")})) AS n_exact,
         |  (SELECT count(*) FROM (${base("dedup_minhash")})) AS n_lsh,
         |  (SELECT count(*)
         |   FROM (${base("dedup_ngram")}) e
         |   JOIN (${base("dedup_minhash")}) l USING (doc_a, doc_b)) AS n_hit""".stripMargin) +
    // canonical selection: the components pipeline verbatim as a
    // subquery, joined to the text_quality score formula; per-component
    // argmax by (score DESC, doc_id)
    ("dedup_canonical" ->
      s"""WITH comp AS (SELECT * FROM (${base("dedup_components")})),
         |q AS (SELECT doc_id,
         |        round(least(1.0, len(string_split(text, ' ')) / 100.0) * 0.4
         |          + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
         |                   / CAST(length(text) AS DOUBLE)) * 0.3
         |          + least(1.0, ${hits(TextAnalysis.stopwords)} * 5.0
         |                       / len(string_split(text, ' '))) * 0.3, 6) AS score
         |      FROM documents),
         |j AS (SELECT c.component, c.doc_id, q.score,
         |             row_number() OVER (PARTITION BY c.component
         |                                ORDER BY q.score DESC, c.doc_id) AS rn
         |      FROM comp c JOIN q USING (doc_id))
         |SELECT component,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
         |       max(CASE WHEN rn = 1 THEN score END) AS canonical_score,
         |       count(*) AS n_members,
         |       count(*) - 1 AS n_dropped
         |FROM j GROUP BY component ORDER BY component""".stripMargin)
  }

  private def dedupOracleBase: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "dedup_passage" -> Dedup.passageDedupOracle,
    "dedup_substring" -> Dedup.substringDupOracle,
    "dedup_winnow" -> Dedup.winnowPairsOracle,
    "chunk_cdc" -> Dedup.cdcChunksOracle,
    "chunk_cdc_minsize" -> Dedup.cdcMinSizeOracle,
    "dedup_chunks" -> Dedup.chunkDupOracle,
    "dedup_chunk_stats" -> Dedup.chunkDupStatsOracle,
    "dedup_chunk_canonical" -> Dedup.chunkCanonicalOracle,
    "dedup_ngram" ->
      s"""WITH $SHROWS,
         |rare AS (SELECT shh FROM sh GROUP BY shh HAVING count(*) <= 50),
         |shr AS (SELECT s.doc_id, s.shh FROM sh s JOIN rare USING (shh)),
         |sz AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |       FROM shr a JOIN shr b ON a.shh = b.shh AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(c * 1.0 / (x.n + y.n - c), 6) AS jaccard
         |FROM pr JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE c * 1.0 / (x.n + y.n - c) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // identical ordering (df asc, shh asc), identical prefix length
    // n − ⌈3n/5⌉ + 1 and exact-integer threshold test as
    // Dedup.jaccardPrefix; the size-compat prune here is weaker than
    // its positional filter, and both filters are exact
    "dedup_jaccard_prefix" ->
      s"""WITH $SHROWS,
         |df AS (SELECT shh, count(*) AS df FROM sh GROUP BY shh),
         |ord AS (SELECT sh.doc_id, sh.shh,
         |               row_number() OVER (PARTITION BY sh.doc_id
         |                                  ORDER BY df.df, sh.shh) AS rn,
         |               count(*) OVER (PARTITION BY sh.doc_id) AS n
         |        FROM sh JOIN df USING (shh)),
         |pref AS (SELECT doc_id, shh, n FROM ord
         |         WHERE rn <= n - (${Dedup.JacNum} * n + ${Dedup.JacDen} - 1) // ${Dedup.JacDen} + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.n AS na, b.n AS nb
         |         FROM pref a JOIN pref b ON a.shh = b.shh AND a.doc_id < b.doc_id
         |         WHERE ${Dedup.JacNum} * greatest(a.n, b.n) <= ${Dedup.JacDen} * least(a.n, b.n)),
         |ver AS (SELECT c.doc_a, c.doc_b, c.na, c.nb, count(*) AS i
         |        FROM cand c JOIN sh x ON x.doc_id = c.doc_a
         |                    JOIN sh y ON y.doc_id = c.doc_b AND y.shh = x.shh
         |        GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       CAST(i * 1000000 // (na + nb - i) AS BIGINT) AS jaccard_ppm
         |FROM ver
         |WHERE i * ${Dedup.JacDen} >= (na + nb - i) * ${Dedup.JacNum}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $SHROWS,
         |$MINHASH_CTES
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
         |FROM res ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_edit" ->
      s"""WITH $SHROWS,
         |$MINHASH_CTES
         |SELECT r.doc_a, r.doc_b,
         |       CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist
         |FROM res r JOIN documents x ON r.doc_a = x.doc_id
         |           JOIN documents y ON r.doc_b = y.doc_id
         |WHERE levenshtein(x.text, y.text) <= 50
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $SHROWS,
         |$MINHASH_CTES,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM res
         |          UNION SELECT doc_b, doc_a FROM res),
         |walk(a, b) AS (SELECT a, b FROM edges
         |               UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a)
         |SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component
         |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT doc_id, ${HashOps.wordHashSqlN(Dedup.SIMHASH_BITS / 4)} AS hw
         |      FROM (SELECT doc_id, md5(w) AS m FROM tok)),
         |bits AS (SELECT doc_id, b,
         |                sum(CASE WHEN ((hw >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
         |         FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SIMHASH_BITS - 1})) AS b) g
         |         GROUP BY doc_id, b),
         |sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
         |        FROM bits GROUP BY doc_id),
         |bands AS (SELECT doc_id, sig, band,
         |                 (sig >> (band * ${Dedup.SIMHASH_BAND_BITS})) & ${(1L << Dedup.SIMHASH_BAND_BITS) - 1} AS key
         |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SIMHASH_BANDS - 1})) AS band) g),
         |ok AS (SELECT band, key FROM bands GROUP BY band, key
         |       HAVING count(*) <= ${Dedup.SIMHASH_BUCKET_CAP}),
         |bk AS (SELECT b.* FROM bands b JOIN ok USING (band, key)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sa, b.doc_id AS doc_b, b.sig AS sb
         |         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
         |                            AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_cosine" ->
      s"""WITH $COSP
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(${cosSql("a.v", "b.v")}, 6) AS cos
         |FROM p a JOIN p b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_cosine_sampled" ->
      s"""WITH $COSP,
         |ps AS (SELECT * FROM p WHERE vec_id % 5 = 0)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(${cosSql("a.v", "b.v")}, 6) AS cos
         |FROM ps a JOIN ps b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin)

  /** `ann_recall` / `ann_recall_sampled` oracle: the four static top-k
    * pipelines verbatim as subqueries (DuckDB allows WITH inside a FROM
    * subquery), joined on (q_id, n_id), plus the legs whose SQL carries
    * state frozen for `sfDir` — the PQ codebooks (plain and inside the
    * IVF→PQ replay) and the HNSW pairs. The graph build is rows-only by
    * declared contract, but DuckDB still recomputes the pairs' overlap
    * with the SQL-replayed brute truth, so recall_hnsw is independently
    * checked. */
  private def annRecallOracle(sfDir: String, sampled: Boolean): String = {
    val (sqls, pqSql, hnswSql) =
      if (sampled) (annSqlsSampled, Similarity.pqOracle(sfDir, Some(5L), 50),
        Hnsw.pairsSql(sfDir, Some(5L), 50))
      else (oracleSql, Similarity.pqOracle(sfDir), Hnsw.pairsSql(sfDir, None, 10))
    val ivfpqSql = ivfPqOracle(sfDir, sampled)
    s"""WITH b AS (SELECT q_id, n_id FROM (${sqls("ann_brute_topk")})),
       |     i AS (SELECT q_id, n_id FROM (${sqls("ann_ivf_trained")})),
       |     s AS (SELECT q_id, n_id FROM (${sqls("ann_sq_topk")})),
       |     l AS (SELECT q_id, n_id FROM (${sqls("ann_lsh_topk")})),
       |     pq AS (SELECT q_id, n_id FROM ($pqSql)),
       |     ip AS (SELECT q_id, n_id FROM ($ivfpqSql)),
       |     hn AS ($hnswSql),
       |     c AS (SELECT (SELECT count(*) FROM b) AS n_brute,
       |                  (SELECT count(*) FROM b JOIN i USING (q_id, n_id)) AS n_hit_ivf,
       |                  (SELECT count(*) FROM b JOIN s USING (q_id, n_id)) AS n_hit_sq,
       |                  (SELECT count(*) FROM b JOIN l USING (q_id, n_id)) AS n_hit_lsh,
       |                  (SELECT count(*) FROM b JOIN pq USING (q_id, n_id)) AS n_hit_pq,
       |                  (SELECT count(*) FROM b JOIN ip USING (q_id, n_id)) AS n_hit_ivfpq,
       |                  (SELECT count(*) FROM b JOIN hn USING (q_id, n_id)) AS n_hit_hnsw)
       |SELECT n_brute, n_hit_ivf, n_hit_sq, n_hit_lsh, n_hit_pq, n_hit_ivfpq, n_hit_hnsw,
       |       round(n_hit_ivf * 1.0 / n_brute, 6) AS recall_ivf,
       |       round(n_hit_sq * 1.0 / n_brute, 6) AS recall_sq,
       |       round(n_hit_lsh * 1.0 / n_brute, 6) AS recall_lsh,
       |       round(n_hit_pq * 1.0 / n_brute, 6) AS recall_pq,
       |       round(n_hit_ivfpq * 1.0 / n_brute, 6) AS recall_ivfpq,
       |       round(n_hit_hnsw * 1.0 / n_brute, 6) AS recall_hnsw
       |FROM c""".stripMargin
  }

  /** The `ann_ivf_trained` training-replay prefix (pts/cents → Lloyd-2
    * → cents2) — shared verbatim by the trained-IVF oracle and the
    * composed IVF→PQ oracle so the two replays cannot drift. */
  private def lloydCents2Prefix(ptsCte: String, centsCte: String): String =
    s"""$ptsCte, $centsCte, $ASSIGN, $LLOYD2,
       |cents2 AS (SELECT cid, list(coalesce(m2.mean, n1.nx) ORDER BY dim) AS c
       |           FROM n1 LEFT JOIN m2 USING (cid, dim) GROUP BY cid)""".stripMargin

  /** Composed IVF→PQ twin (full corpus or the %5 sample): Lloyd-replay
    * prefix + the encode/ADC pieces over the codebooks frozen for
    * `sfDir`. */
  private def ivfPqOracle(sfDir: String, sampled: Boolean): String =
    if (sampled)
      Similarity.ivfPqOracleSql(sfDir, lloydCents2Prefix(PTS_S5, CENTS_S5),
        keepMod = Some(5L), nQueries = 50)
    else Similarity.ivfPqOracleSql(sfDir, lloydCents2Prefix(PTS, CENTS))

  private def annOracleBase: Map[String, String] =
    annSqls(COSP, PTS, CENTS, qLim = 10, seedLim = KMeansSteps.K) +
      ("ann_hard_negatives" -> Similarity.hardNegativesOracle) +
      ("embed_rp" -> Similarity.randomProjectionOracle) +
      ("embed_pca" -> Similarity.pcaOracle()) +
      ("embed_pca_basis" -> Similarity.pcaBasisOracle()) +
      ("embed_pca_project" -> Similarity.pcaProjectOracle()) +
      ("embed_whiten" -> Similarity.pcaWhitenOracle()) +
      ("rag_retrieve" -> Similarity.ragRetrieveOracle) +
      ("rag_bm25" -> Similarity.ragBm25Oracle) +
      ("rag_hybrid" -> Similarity.ragHybridOracle)

  /** Sampled-corpus ANN twin SQLs (`vec_id % 5 = 0`, 10 queries from
    * `vec_id < 50`, seeds = the K lowest SAMPLED ids): identical
    * pipelines with the p/pts/cents CTEs restricted BEFORE any
    * training — the SQL mirror of `Similarity.points(keepMod)`. */
  private def annSqlsSampled: Map[String, String] = annSqls(
    "p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 5 = 0)",
    PTS_S5, CENTS_S5, qLim = 50, seedLim = 5 * KMeansSteps.K)

  private val PTS_S5 =
    "pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 5 = 0)"
  private val CENTS_S5 =
    s"cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < ${5 * KMeansSteps.K})"

  private def annSqls(cosp: String, ptsCte: String, centsCte: String,
      qLim: Int, seedLim: Int): Map[String, String] = Map(
    // trained IVF: the 2-round Lloyd TRAINING is replayed in SQL
    // (shared LLOYD2 chain), then bucket/probe/rerank over the learned
    // centroids — the full production ANN pipeline under one oracle
    "ann_ivf_trained" ->
      s"""WITH ${lloydCents2Prefix(ptsCte, centsCte)},
         |bkt AS (SELECT vec_id, v, cid AS bucket FROM (
         |          SELECT p.vec_id, p.v, c.cid,
         |                 row_number() OVER (PARTITION BY p.vec_id
         |                   ORDER BY list_distance(p.v, c.c), c.cid) AS rn
         |          FROM pts p CROSS JOIN cents2 c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM pts WHERE vec_id < $qLim),
         |probes AS (SELECT q_id, qv, cid AS bucket FROM (
         |             SELECT q.q_id, q.qv, c.cid,
         |                    row_number() OVER (PARTITION BY q.q_id
         |                      ORDER BY list_distance(q.qv, c.c), c.cid) AS rn
         |             FROM q CROSS JOIN cents2 c) WHERE rn <= 2),
         |s AS (SELECT pr.q_id, b.vec_id AS n_id, ${cosSql("pr.qv", "b.v")} AS cos
         |      FROM bkt b JOIN probes pr ON b.bucket = pr.bucket AND b.vec_id <> pr.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH $cosp,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM p WHERE vec_id < $qLim),
         |s AS (SELECT q.q_id, p.vec_id AS n_id, ${cosSql("q.qv", "p.v")} AS cos
         |      FROM q JOIN p ON p.vec_id <> q.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,
    "ann_matryoshka" -> Similarity.matryoshkaOracle(),
    "ann_sq_topk" ->
      s"""WITH $cosp,
         |u AS (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM p),
         |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM u GROUP BY dim),
         |qz AS (SELECT vec_id, dim,
         |         CASE WHEN mx = mn THEN 0
         |              ELSE CAST(round((x - mn) / (mx - mn) * 255, 0) AS BIGINT) END AS q
         |       FROM u JOIN st USING (dim)),
         |dq AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |              CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dq
         |       FROM qz a JOIN qz b USING (dim)
         |       WHERE a.vec_id < $qLim AND b.vec_id <> a.vec_id GROUP BY 1, 2),
         |cand AS (SELECT q_id, n_id FROM
         |           (SELECT q_id, n_id,
         |              row_number() OVER (PARTITION BY q_id ORDER BY dq, n_id) AS rn FROM dq)
         |         WHERE rn <= 20),
         |s AS (SELECT c.q_id, c.n_id, ${cosSql("qp.v", "np.v")} AS cos
         |      FROM cand c JOIN p qp ON qp.vec_id = c.q_id JOIN p np ON np.vec_id = c.n_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH $cosp,
         |cents AS (SELECT vec_id AS cid, v AS c FROM p WHERE vec_id < $seedLim),
         |bkt AS (SELECT vec_id, v, cid AS bucket FROM (
         |          SELECT p.vec_id, p.v, c.cid,
         |                 row_number() OVER (PARTITION BY p.vec_id
         |                   ORDER BY list_distance(p.v, c.c), c.cid) AS rn
         |          FROM p CROSS JOIN cents c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM p WHERE vec_id < $qLim),
         |probes AS (SELECT q_id, qv, cid AS bucket FROM (
         |             SELECT q.q_id, q.qv, c.cid,
         |                    row_number() OVER (PARTITION BY q.q_id
         |                      ORDER BY list_distance(q.qv, c.c), c.cid) AS rn
         |             FROM q CROSS JOIN cents c) WHERE rn <= 2),
         |s AS (SELECT pr.q_id, b.vec_id AS n_id, ${cosSql("pr.qv", "b.v")} AS cos
         |      FROM bkt b JOIN probes pr ON b.bucket = pr.bucket AND b.vec_id <> pr.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH $cosp,
         |pl0 AS (SELECT g.p, h.i, md5('plane_' || g.p || ':' || h.i) AS m
         |        FROM (SELECT unnest(generate_series(0, ${Similarity.LSH_PLANES - 1})) AS p) g
         |        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) h),
         |plw AS (SELECT p, i,
         |               (CAST((${HashOps.wordHashSqlN(15)}) % 2001 AS BIGINT) - 1000) / 1000.0 AS wgt
         |        FROM pl0),
         |pl AS (SELECT p, list(wgt ORDER BY i) AS plv FROM plw GROUP BY p),
         |bits AS (SELECT e.vec_id, pl.p,
         |                CASE WHEN list_inner_product(e.v, pl.plv) >= 0 THEN 1 ELSE 0 END AS bit
         |         FROM p e CROSS JOIN pl),
         |bk AS (SELECT vec_id, CAST(p // ${Similarity.LSH_BAND_BITS} AS BIGINT) AS band,
         |              CAST(sum(bit << (p % ${Similarity.LSH_BAND_BITS})) AS BIGINT) AS key
         |       FROM bits GROUP BY vec_id, band),
         |qb AS (SELECT vec_id AS q_id, band, key FROM bk WHERE vec_id < $qLim),
         |cand AS (SELECT DISTINCT qb.q_id, b.vec_id AS n_id
         |         FROM bk b JOIN qb ON b.band = qb.band AND b.key = qb.key
         |                           AND b.vec_id <> qb.q_id),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM p WHERE vec_id < $qLim),
         |s AS (SELECT c.q_id, c.n_id, ${cosSql("q.qv", "n.v")} AS cos
         |      FROM cand c JOIN q ON c.q_id = q.q_id JOIN p n ON c.n_id = n.vec_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM s)
         |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin)

  private def textOracle: Map[String, String] = {
    val scoreCols = TextAnalysis.lexicons
      .map { case (l, ws) => s"CAST(${hits(ws)} AS BIGINT) AS s_$l" }.mkString(",\n       ")
    val m = TextAnalysis.lexicons.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val caseChain = TextAnalysis.lexicons
      .map { case (l, _) => s"WHEN s_$l = m AND m > 0 THEN '$l'" }.mkString("\n            ")
    Map(
      "text_lang_id" ->
        s"""WITH s AS (SELECT doc_id, $scoreCols FROM documents),
           |g AS (SELECT *, $m AS m FROM s)
           |SELECT doc_id, s_de, s_en, s_es, s_fr,
           |       CASE $caseChain ELSE 'und' END AS lang_pred
           |FROM g ORDER BY doc_id""".stripMargin,
      "text_quality" ->
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           |  CAST(${hits(TextAnalysis.stopwords)} AS BIGINT) AS stop_hits,
           |  CAST(length(text) AS BIGINT) AS n_char FROM documents)
           |SELECT doc_id, n_tok, n_punct, stop_hits,
           |       round(least(1.0, n_tok / 100.0) * 0.4
           |             + (1.0 - n_punct / n_char) * 0.3
           |             + least(1.0, stop_hits * 5.0 / n_tok) * 0.3, 6) AS score
           |FROM c ORDER BY doc_id""".stripMargin,
      "text_tokens" ->
        s"""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeIshPattern}')) AS BIGINT) AS n_bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_classifier" -> TextAnalysis.classifierOracle,
      "text_fingerprint" ->
        s"""WITH t AS (SELECT doc_id,
           |             unnest(string_split(text, ' ')) AS w,
           |             generate_subscripts(string_split(text, ' '), 1) AS i
           |           FROM documents),
           |h AS (SELECT doc_id, i, $wordHashSql AS hw
           |      FROM (SELECT doc_id, i, md5(w) AS m FROM t)),
           |p AS (SELECT doc_id,
           |             ((hw % ${TextAnalysis.FP_MOD}) * ((i * 31 + 7) % ${TextAnalysis.FP_MOD})) % ${TextAnalysis.FP_MOD} AS term
           |      FROM h)
           |SELECT doc_id, CAST(sum(term) % ${TextAnalysis.FP_MOD} AS BIGINT) AS fingerprint
           |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_vocab" ->
        """SELECT w, count(DISTINCT doc_id) AS df, count(*) AS cf
          |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          |GROUP BY w ORDER BY cf DESC, w LIMIT 100""".stripMargin,
      "text_heaps" -> TextAnalysis.heapsOracle(),
      "text_tfidf" ->
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
          |df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |s AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
          |             CAST(tf.tf AS DOUBLE) * n.n / df.df AS score
          |      FROM tf JOIN df USING (w) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rank
          |      FROM s)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, w, CAST(tf AS BIGINT) AS tf,
          |       CAST(df AS BIGINT) AS df, round(score, 6) AS score
          |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
      "text_bigrams" -> TextAnalysis.bigramLMOracle,
      "text_lm_score" -> TextAnalysis.lmScoreOracle,
      "merge_upsert" -> Relational.mergeUpsertOracle,
      "text_chargrams" ->
        """WITH g AS (SELECT unnest(CASE WHEN length(text) >= 3
          |             THEN list_transform(generate_series(1, length(text) - 2),
          |                                 i -> substring(text, i, 3))
          |             ELSE [] END) AS g
          |           FROM documents)
          |SELECT g, count(*) AS cf FROM g GROUP BY g
          |ORDER BY cf DESC, g LIMIT 30""".stripMargin,
      // winnowing: k=8 grams, w=4 windows, 40-bit hash, rightmost-min
      // packed as hm*2^20 + (2^20-1-pos) so the frame argmin is one
      // integer MIN in both engines; CTEs shared with dedup_winnow
      "text_winnow" ->
        s"""WITH ${TextAnalysis.winnowOracleCtes}
           |SELECT doc_id, fp, fp_pos
           |FROM wfp ORDER BY doc_id, fp_pos, fp""".stripMargin,
      "sketch_cms" -> {
        val W = TextAnalysis.CMS_WIDTH
        val D = TextAnalysis.CMS_DEPTH
        s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
           |dj AS (SELECT unnest(generate_series(0, ${D - 1})) AS j),
           |r0 AS (SELECT w, j, md5(j || ':' || w) AS m FROM tok CROSS JOIN dj),
           |r1 AS (SELECT w, j, (${HashOps.wordHashSqlN(15)}) % $W AS bucket FROM r0),
           |sketch AS (SELECT j, bucket, count(*) AS c FROM r1 GROUP BY j, bucket),
           |top AS (SELECT w, count(*) AS true_cf FROM tok GROUP BY w
           |        ORDER BY true_cf DESC, w LIMIT 20),
           |p0 AS (SELECT t.w, t.true_cf, d.j, md5(d.j || ':' || t.w) AS m
           |       FROM top t CROSS JOIN dj d),
           |p1 AS (SELECT w, true_cf, j, (${HashOps.wordHashSqlN(15)}) % $W AS bucket FROM p0)
           |SELECT p.w, CAST(p.true_cf AS BIGINT) AS true_cf, CAST(min(s.c) AS BIGINT) AS est_cf
           |FROM p1 p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
           |GROUP BY p.w, p.true_cf ORDER BY true_cf DESC, w""".stripMargin
      },
      "sample_docs" ->
        s"""SELECT doc_id FROM (
           |  SELECT doc_id, ${HashOps.wordHashSqlN(15)} AS hk
           |  FROM (SELECT doc_id, md5(text) AS m FROM documents))
           |WHERE hk % 100 < 10 ORDER BY doc_id""".stripMargin)
  }

  private def kmeansOracle: Map[String, String] = Map(
    "vec_sql" ->
      s"""WITH $PTS
         |SELECT vec_id, round(list_inner_product(v, v), 6) AS sq_norm,
         |       round(list_distance(v, v), 6) AS self_dist
         |FROM pts ORDER BY vec_id""".stripMargin,
    "ingest_embeddings" ->
      "SELECT vec_id, len(embedding) AS dim FROM embeddings ORDER BY vec_id",
    "lineitem_features" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       round(sqrt(l_quantity*l_quantity + l_extendedprice*l_extendedprice
        |             + l_discount*l_discount + l_tax*l_tax), 6) AS fnorm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, fnorm""".stripMargin,
    "kmeans_min_dist" ->
      s"""WITH $PTS, $CENTS
         |SELECT p.vec_id, round(min(list_distance(p.v, c.c)), 6) AS min_dist
         |FROM pts p CROSS JOIN cents c GROUP BY p.vec_id ORDER BY vec_id""".stripMargin,
    "kmeans_farthest" ->
      s"""WITH $PTS, $CENTS,
         |md AS (SELECT p.vec_id, min(list_distance(p.v, c.c)) AS md
         |       FROM pts p CROSS JOIN cents c GROUP BY p.vec_id)
         |SELECT vec_id, round(md, 6) AS min_dist FROM md
         |ORDER BY md DESC, vec_id LIMIT 1""".stripMargin,
    "kmeans_assign" ->
      s"""WITH $PTS, $CENTS, $ASSIGN
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM a ORDER BY vec_id""".stripMargin,
    "kmeans_sizes" ->
      s"""WITH $PTS, $CENTS, $ASSIGN
         |SELECT CAST(cid AS BIGINT) AS cluster_id, count(*) AS n
         |FROM a GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "kmeans_recenter" ->
      s"""WITH $PTS, $CENTS, $ASSIGN,
         |j AS (SELECT a.cid, p.v FROM a JOIN pts p USING (vec_id)),
         |l AS (SELECT cid, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM j)
         |SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(dim AS BIGINT) AS dim,
         |       count(*) AS n, round(sum(x) / count(*), 6) AS mean
         |FROM l GROUP BY cid, dim ORDER BY cluster_id, dim""".stripMargin,
    "kmeans_delta" ->
      s"""WITH $PTS, $CENTS, $ASSIGN,
         |j AS (SELECT a.cid, p.v FROM a JOIN pts p USING (vec_id)),
         |l AS (SELECT cid, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM j),
         |m AS (SELECT cid, dim, sum(x) / count(*) AS mean FROM l GROUP BY cid, dim),
         |o AS (SELECT cid, generate_subscripts(c, 1) - 1 AS dim, unnest(c) AS oc FROM cents),
         |disp AS (SELECT m.cid, sqrt(sum((m.mean - o.oc) * (m.mean - o.oc))) AS disp
         |         FROM m JOIN o ON m.cid = o.cid AND m.dim = o.dim GROUP BY m.cid)
         |SELECT round(sum(disp) / count(*), 6) AS delta FROM disp""".stripMargin,
    "kmeans_reshape" ->
      s"""WITH $PTS,
         |l AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM pts)
         |SELECT vec_id, CAST(CASE WHEN dim < 32 THEN 0 ELSE 1 END AS BIGINT) AS bucket,
         |       round(sum(x) / count(*), 6) AS value
         |FROM l GROUP BY vec_id, 2 ORDER BY vec_id, bucket""".stripMargin,
    "kmeans_scatter_data" ->
      s"""WITH $PTS, $CENTS, $ASSIGN,
         |l AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM pts),
         |r2 AS (SELECT vec_id, CASE WHEN dim < 32 THEN 0 ELSE 1 END AS b,
         |              sum(x) / count(*) AS val
         |       FROM l GROUP BY vec_id, b),
         |pxy AS (SELECT vec_id, min(CASE WHEN b = 0 THEN val END) AS x,
         |               min(CASE WHEN b = 1 THEN val END) AS y
         |        FROM r2 GROUP BY vec_id),
         |pout AS (SELECT CAST(a.cid AS BIGINT) AS cluster_id, p.vec_id,
         |                round(p.x, 6) AS x, round(p.y, 6) AS y
         |         FROM pxy p JOIN a USING (vec_id)),
         |cl AS (SELECT cid, generate_subscripts(c, 1) - 1 AS dim, unnest(c) AS x FROM cents),
         |cr AS (SELECT cid, CASE WHEN dim < 32 THEN 0 ELSE 1 END AS b,
         |              sum(x) / count(*) AS val
         |       FROM cl GROUP BY cid, b),
         |cout AS (SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(-1 AS BIGINT) AS vec_id,
         |                round(min(CASE WHEN b = 0 THEN val END), 6) AS x,
         |                round(min(CASE WHEN b = 1 THEN val END), 6) AS y
         |         FROM cr GROUP BY cid)
         |SELECT * FROM (SELECT * FROM pout UNION ALL SELECT * FROM cout)
         |ORDER BY cluster_id, vec_id""".stripMargin,
    // the 2-iteration Lloyd loop: assign→recenter→assign→recenter with
    // rounded intermediate centroids and empty-cluster carry (n = 0)
    "kmeans_fit_steps" ->
      s"""WITH $PTS, $CENTS, $ASSIGN, $LLOYD2,
         |n2 AS (SELECT n1.cid, n1.dim, coalesce(m2.n, 0) AS n,
         |              coalesce(m2.mean, round(n1.nx, 6)) AS mean
         |       FROM n1 LEFT JOIN m2 USING (cid, dim)),
         |u AS (SELECT 1 AS iter, cid, dim, n, mean FROM n1
         |      UNION ALL
         |      SELECT 2 AS iter, cid, dim, n, mean FROM n2)
         |SELECT CAST(iter AS BIGINT) AS iter, CAST(cid AS BIGINT) AS cluster_id,
         |       CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n, mean
         |FROM u ORDER BY iter, cluster_id, dim""".stripMargin,
    "kmeans_wcss" ->
      s"""WITH $PTS, $CENTS,
         |d AS (SELECT p.vec_id, c.cid, list_distance(p.v, c.c) AS dist
         |      FROM pts p CROSS JOIN cents c),
         |a AS (SELECT vec_id, cid, dist FROM (
         |        SELECT vec_id, cid, dist,
         |               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |        FROM d) WHERE rn = 1)
         |SELECT CAST(cid AS BIGINT) AS cluster_id,
         |       round(sum(dist * dist), 6) AS wcss, count(*) AS n
         |FROM a GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "kmeans_elbow" ->
      s"""WITH $PTS, $CENTS,
         |d AS (SELECT p.vec_id, c.cid, list_distance(p.v, c.c) AS dist
         |      FROM pts p CROSS JOIN cents c),
         |ks AS (SELECT unnest(generate_series(1, $K)) AS k),
         |m AS (SELECT ks.k, d.vec_id, min(d.dist) AS md
         |      FROM ks JOIN d ON d.cid < ks.k GROUP BY ks.k, d.vec_id)
         |SELECT CAST(k AS BIGINT) AS k, round(sum(md * md), 6) AS wcss
         |FROM m GROUP BY k ORDER BY k""".stripMargin,
    "kmeans_dbi" ->
      s"""WITH $PTS, $CENTS,
         |d AS (SELECT p.vec_id, c.cid, list_distance(p.v, c.c) AS dist
         |      FROM pts p CROSS JOIN cents c),
         |r AS (SELECT vec_id, cid, dist,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |      FROM d),
         |s AS (SELECT cid, avg(dist) AS s FROM r WHERE rn = 1 GROUP BY cid),
         |cd AS (SELECT a.cid AS ci, b.cid AS cj, list_distance(a.c, b.c) AS dij
         |       FROM cents a JOIN cents b ON a.cid <> b.cid)
         |SELECT CAST(ci AS BIGINT) AS cluster_id,
         |       round(max((sa.s + sb.s) / dij), 6) AS r_i
         |FROM cd JOIN s sa ON sa.cid = ci JOIN s sb ON sb.cid = cj
         |GROUP BY ci ORDER BY cluster_id""".stripMargin,
    "kmeans_silhouette" ->
      s"""WITH $PTS, $CENTS,
         |d AS (SELECT p.vec_id, c.cid, list_distance(p.v, c.c) AS dist
         |      FROM pts p CROSS JOIN cents c),
         |r AS (SELECT vec_id, cid, dist,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |      FROM d),
         |ab AS (SELECT a.vec_id, a.cid AS cluster_id, a.dist AS a, b.dist AS b
         |       FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
         |       round(avg((b - a) / greatest(a, b)), 6) AS avg_silhouette,
         |       count(*) AS n
         |FROM ab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "kmeans_avg_distance" ->
      """WITH pts AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pair AS (SELECT a.label, a.vec_id, list_distance(a.v, b.v) AS d
        |         FROM pts a JOIN pts b ON a.label = b.label),
        |nz AS (SELECT * FROM pair WHERE d > 0),
        |pp AS (SELECT label, vec_id, sum(d) / count(*) AS ad FROM nz GROUP BY label, vec_id)
        |SELECT label, round(sum(ad) / count(*), 6) AS avg_dist
        |FROM pp GROUP BY label ORDER BY label""".stripMargin
  )
}
