package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale-posture properties from
  * PERF.md, asserted so a refactor can't silently regress them. */
class PlanSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).df.queryExecution
      .explainString(FormattedMode)

  /** Plan of a scratch-materialized operator's BUILD (the scan that
    * executes at scale) — the query itself returns a parquet read of
    * the materialized result. */
  private def buildPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("scans are column-pruned (ingest reads only vec_id + embedding)") {
    val p = plan("ingest_embeddings")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("q1 aggregate scan prunes to the referenced columns only") {
    val p = plan("q1_agg")
    assert(!p.contains("l_orderkey"), "q1 must not read join keys it doesn't use")
    assert(p.contains("HashAggregate"), p)
  }

  test("assignment is a narrow map: no aggregate or join, single sort exchange") {
    val p = plan("kmeans_assign")
    assert(!p.contains("Join"), "assignment must not join — centroids are literals")
    assert(!p.contains("HashAggregate"), "assignment must not aggregate")
    assert(p.count(_ == '\n') > 0 &&
      "Exchange".r.findAllIn(p).length <= 2, s"unexpected exchanges:\n$p")
  }

  test("star join broadcasts the dimension side") {
    val p = plan("join_mkt")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("farthest-point is a partial top-1 (TakeOrderedAndProject)") {
    val p = plan("kmeans_farthest")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("filters push down to the parquet scan") {
    val p = plan("join_mkt")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
  }

  test("range join is a binned equi-join, not a nested-loop cross product") {
    val p = plan("range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join must bin to equi-keys, not NLJ:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cube expands once: a single Expand feeding one aggregate pass") {
    val p = plan("cube_agg")
    assert("Expand".r.findAllIn(p).length >= 1 && p.contains("HashAggregate"), p)
  }

  test("LSH probe broadcasts the query buckets against the corpus") {
    val p = buildPlan(graft.operators.Similarity
      .lshTopKBuild(spark, sf, 10, 5, None))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("snowflake geo join broadcasts both dimension hops") {
    val p = plan("join_geo")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "supplier->nation->region must be two broadcast joins:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the 100 TB shape: fact ⋈ dim with a selective dim predicate and no
    // broadcast — Spark's runtime row-level filter should inject a bloom
    // built from the dim keys and apply it to the fact scan side, so the
    // fact shuffle carries only probable matches
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"expected an injected runtime bloom filter in:\n$p")
      assert(j.collect().map(_.getLong(1)).sum > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~95% of the rows vs a tiny distinct right;
      // payload varies per row so the hot shuffle partition can't
      // compress away below the skew threshold
      val l = (0 until 200000)
        .map(i => ((if (i % 20 == 0) i % 7 else 0).toLong, i.toLong))
        .toDF("k", "pay")
      val r = (0 until 7).map(_.toLong).toDF("k")
      val j = l.join(r, "k")
      // execute THIS dataframe: AQE finalizes (and re-plans) the plan of
      // the executed query, not of derived ones like count()
      assert(j.collect().length == 200000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pii scrub is a pure narrow map: no exchange before the output sort") {
    val p = plan("text_pii_scrub")
    // exactly one exchange — the deterministic output sort (FormattedMode
    // prints each operator twice: once in the tree, once in the detail)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("pack_sequences scan prunes to (doc_id, text) and shuffles per shard") {
    val p = plan("pack_sequences")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("clean_corpus shuffles the text hash, never the document body") {
    val p = plan("clean_corpus")
    // the dedup-survivor window partitions by md5(text) computed BEFORE
    // its exchange; the document text itself must not cross the wire
    val exchangeArgs = p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
    assert(exchangeArgs.forall(l => l.contains("md5") || !l.contains("text")), p)
  }

  test("decontaminate broadcasts the eval gram set against the gram stream") {
    val p = plan("decontaminate")
    // the eval side is benchmark-sized at any corpus scale — the join
    // must be a broadcast hash join, never a shuffled/merge join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("profile_columns is one aggregate pass over a pruned scan") {
    val p = plan("profile_columns")
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double"), p)
  }

  test("sql_q5 snowflake: every dimension broadcasts, no cartesian") {
    val p = plan("sql_q5")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // region, nation, supplier, customer joins all resolve broadcast at
    // this sf; the only sort-merge candidate is the fact-fact join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
  }

  test("scd_latest compaction is one shuffle + one local sort, no join") {
    val p = plan("scd_latest")
    assert(!p.contains("Join"), "latest-per-key must window, not self-join:\n" + p)
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p)
  }

  test("merge_upsert is a single equi-join over pruned scans") {
    val p = plan("merge_upsert")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // tree lines only ("Op ... (id)") — FormattedMode repeats each
    // operator as a "(id) Op" detail header
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\\n]*\\(\\d+\\)".r
      .findAllIn(p).length == 1, "exactly one join:\n" + p)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      "merge must read only (key, price):\n" + p)
  }

  test("ann_sq_topk prunes candidates with the partial top-k operator") {
    val p = buildPlan(graft.operators.Similarity
      .sqTopKBuild(spark, sf, 10, 5, 20, None))
    assert(p.contains("PartialTopK"),
      "the quantized candidate scan must prune per-partition before any exchange:\n" + p)
  }

  test("zorder_key is exchange-free: TakeOrdered, flat integer ops, no HOF") {
    val p = plan("zorder_key")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("aggregate("),
      "the Morton key must be flat bit ops, not a lambda fold:\n" + p)
  }

  test("trained-IVF probe broadcasts the probe set; centroids ride as literals") {
    val p = buildPlan(graft.operators.Similarity
      .ivfTrainedTopKBuild(spark, sf, 10, 5, 2, None))
    assert(p.contains("BroadcastHashJoin"),
      "probes must broadcast against the bucketed corpus:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PNG decode pipeline is narrow: no join, no aggregate, metadata-only scan") {
    val p = plan("multimodal_features")
    assert(!p.contains("Join"), "decode must not join:\n" + p)
    assert(!p.contains("HashAggregate"),
      "pooling happens inside the decode map, not as an aggregate:\n" + p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "synthesis derives dims from doc_id — the scan must read nothing else:\n" + p)
  }

  test("ts_windows shuffles once on the user key (window), never joins") {
    val p = plan("ts_windows")
    assert(!p.contains("Join"), "windowing must not self-join:\n" + p)
    assert(p.contains("Window"), p)
  }
}
