package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-hygiene GATE: every query's executed (AQE-final) plan must be
  * free of CartesianProduct and BroadcastNestedLoopJoin — the two
  * operators that turn into O(N·M) scans at cluster scale — unless the
  * query DECLARES the shape below with a justification. Promoted from
  * the manual `runMain graft.PlanAudit` sweep so a refactor that
  * degrades a join to NLJ fails `sbt test`, not a human's memory. */
class PlanGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Queries whose NLJ/cartesian is intentional AND bounded — each with
    * the reason the shape is safe at scale. Everything else must plan
    * equi-joins (or no joins) only. */
  val declared: Map[String, String] = Map(
    "cross_join" -> "the operator under test IS a cartesian (5x25 dims)",
    "join_theta" -> "the operator under test IS a non-equi theta join",
    "ann_hard_negatives" -> "band-filtered brute scan: broadcast-query-batch shape (the band prunes before the top-k heaps)",
    "rag_bm25" -> "1-row corpus-stats aggregate (N, L) broadcast-cross-joined onto the posting-intersection scores",
    "rag_hybrid" -> "the BM25 leg's 1-row stats cross-join (the dense leg reads the materialized scored relation)",
    "dq_expectations" -> "the 1-row single-pass and referential rule summaries cross-join 1x1 into the rule rows",
    "lake_skipping" -> "1-row box-bounds aggregate broadcast-cross-joined onto both layout simulations (the bloomSemiStats shape)",
    "basket_rules" -> "1-row basket-count aggregate broadcast-cross-joined onto the brand-squared rule relation",
    "ann_recall" -> "1-row hit/truth count aggregates cross-joined into the single metric row (the legs read materialized sweeps)",
    "ann_recall_sampled" -> "same 1-row cross-joins over the %5-sampled harness",
    "ann_hnsw_ef_recall" -> "same 1-row hit/truth cross-joins for the two efSearch legs (the brute truth reads the materialized sweep)",
    "dedup_recall" -> "1-row count aggregates cross-joined into the single metric row",
    "join_bloom" -> "1-row stats aggregates cross-joined into the single metric row (the bloom test itself is a narrow scan)",
    "graph_triangles" -> "1-row census aggregates cross-joined into the single metric row (the wedge/closing joins are equi-joins)",
    "dedup_cosine" -> "exact all-pairs cosine baseline (the LSH/banded paths are the scale route)",
    "dedup_cosine_sampled" -> "the same declared-quadratic baseline, %5-sample-restricted so its oracle runs at every sweep sf",
    "dedup_semantic_recall" -> "recall eval contains the exact all-pairs baseline by construction (dedup_cosine's declared contract)",
    "dedup_semantic_recall_sampled" -> "same eval, %5-sample-restricted pair sweep so the schedule's recall stays oracle-checked at sf1+",
    "kmeans_dbi" -> "k x k centroid-pair relation - k rows, never data-sized",
    "sample_importance" -> "1-row token-totals aggregate broadcast-cross-joined onto the ratio projection",
    "text_collocations" -> "1-row token-total aggregate broadcast-cross-joined onto the pruned bigram relation",
    "ts_changepoint" -> "1-row (n, T) series-stats aggregate broadcast-cross-joined onto the hours-sized CUSUM relation",
    "ann_matryoshka" -> "one broadcast-query-batch scan per prefix dim (brute's declared shape) + the 1-row truth-count cross-join",
    "sample_mixture" -> "1-row total-weight aggregate broadcast-cross-joined onto the sources-sized quota relation",
    "dq_drift" -> "1-row (n_a, n_b) window-totals aggregate broadcast-cross-joined onto the grid-sized ECDF relation",
    "text_heaps" -> "1-row derived-bucket-width aggregate broadcast-cross-joined onto the corpus scan (bounds the growth curve at HeapsMaxBuckets rows at any scale)")

  /** Scratch BUILDS whose NLJ is intentional AND bounded, keyed by the
    * scratch key's prefix (before the first ':'). A materialized
    * operator's returned relation is a parquet read — its scale-posture
    * scan lives in the BUILD, so the gate audits those too (drained per
    * query; the first query to touch a relation triggers its build). */
  val declaredBuilds: Map[String, String] = Map(
    "ann_brute" -> "exact truth sweep: query batch (10/50 rows) broadcast against the corpus by design",
    "ann_sq" -> "quantized exact scan: same broadcast-query-batch shape as brute",
    "ann_pq" -> "PQ ADC scan: same broadcast-query-batch shape (8 bytes/vector at scale)",
    "rag_dense" -> "passage retrieval scoring: broadcast-query-batch scan (5 passage vectors) against the passage corpus")

  private def nljCount(p: String): Int =
    PlanAudit.opCount(p, "BroadcastNestedLoopJoin") +
      PlanAudit.opCount(p, "CartesianProduct")

  test("no undeclared query or scratch build plans a cartesian/NLJ; every declaration is live") {
    // rebuild every scratch relation inside THIS sweep so the build
    // plans are observable regardless of which suite ran first
    graft.sources.Scratch.reset()
    val offenders = Seq.newBuilder[String]
    val liveQueries = Set.newBuilder[String]
    val liveBuilds = Set.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = nljCount(PlanAudit.finalPlanString(fn(spark, sf).df))
      if (n > 0) {
        if (declared.contains(name)) liveQueries += name
        else offenders += s"$name (nlj+cart=$n)"
      }
      graft.sources.Scratch.drainBuilds().foreach { case (key, df) =>
        val bn = nljCount(PlanAudit.finalPlanString(df))
        val prefix = key.takeWhile(_ != ':')
        if (bn > 0) {
          if (declaredBuilds.contains(prefix)) liveBuilds += prefix
          else offenders += s"build $key (nlj+cart=$bn)"
        }
      }
      spark.catalog.clearCache()
    }
    assert(offenders.result().isEmpty,
      s"undeclared NLJ/cartesian plans: ${offenders.result().mkString(", ")} — " +
        "fix the join or declare it (PlanGateSpec.declared / declaredBuilds) with a justification")
    // a stale allowlist entry is a hole in the gate — if a declared
    // query or build stops planning an NLJ (e.g. got rewritten), drop it
    val staleQ = declared.keySet -- liveQueries.result()
    assert(staleQ.isEmpty, s"declared but NLJ-free (remove from allowlist): $staleQ")
    val staleB = declaredBuilds.keySet -- liveBuilds.result()
    assert(staleB.isEmpty, s"declared builds now NLJ-free (remove): $staleB")
  }
}
