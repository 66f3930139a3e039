package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational operator surface over the TPC-H-ish tables. The reference
  * has none of these (SURVEY.md §2 absent-table: joins, filters, grouping
  * sets, windows, set ops, distinct) — they are required engine breadth
  * for a complete analytics library.
  *
  * Oracle-parity rule for aggregates: money/quantity sums are computed in
  * integer cents (`round(x*100)` per row, then BIGINT sum) — exact and
  * order-independent, immune to FP summation-order drift between Spark
  * partitions and DuckDB. Per-row float math stays double + round(6).
  *
  * Scale notes are per-operator in the Scaladoc.
  */
object Relational {

  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** TPC-H Q1-shaped aggregation: one hash aggregate, map-side partials,
    * shuffle of (flag,status) × 4 longs only. */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("qty_cents"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_c4"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star join: fact lineitem ⋈ orders (shuffle hash/SMJ on orderkey)
    * ⋈ broadcast customer (small dim — the broadcast side is explicit).
    * Revenue per market segment. */
  def joinMkt(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_c4"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Bloom sizing for [[bloomSemiStats]]: 16 bits/build-key (fp ≈ 1%
    * at k = 3), rounded up to a 64-bit word (bits pack 32 per long so the cross-engine << never touches the int64 sign bit), clamped to
    * [[BLOOM_MIN_M]], [[BLOOM_MAX_M]]] — integer arithmetic only, so
    * the oracle derives the identical m from count(build). Above the
    * cap the filter saturates and fp_rate rises — which is exactly the
    * measurement the operator exists to report; a production deployment
    * would broadcast the word relation instead of inlining literals and
    * raise the cap, with unchanged semantics. */
  val BLOOM_MIN_M = 4096
  val BLOOM_MAX_M = 65536
  val BLOOM_BITS_PER_KEY = 16
  val BLOOM_K = 3

  /** Filter size in bits for a build side of `nBuild` keys. */
  def bloomM(nBuild: Long): Int =
    math.min(BLOOM_MAX_M.toLong, math.max(BLOOM_MIN_M.toLong,
      (BLOOM_BITS_PER_KEY * nBuild + 63) / 64 * 64)).toInt

  /** Bloom-filter-pruned semi join with an oracle-checked
    * false-positive measurement — the runtime-filter technique (Spark's
    * own AQE InjectRuntimeFilter / Bloom join of Trino/Snowflake) made
    * explicit and deterministic: build a [[bloomM]]-sized filter over the
    * BUILDING-segment customer keys (md5-derived positions — the
    * [[graft.functions.HashOps]] convention, so DuckDB rebuilds the
    * identical bits), probe every order with [[BLOOM_K]] bit tests, and
    * report pass/match/false-positive counts. No false negatives by
    * construction (every true match passes — spec-pinned); the FP rate
    * is the number that justifies filter sizing before a 100 TB scan.
    *
    * Scale shape: the filter is built by ONE groupBy(word) bit_or over
    * k·|build| position rows and collapses to m/32 literal longs riding
    * the plan like centroids; the probe side is one narrow codegen'd
    * pass over orders — no shuffle, no join for the bloom test itself.
    * The exact-match leg is the broadcast semi join the bloom would
    * gate at scale. Stats cross-joins are 1-row. */
  def bloomSemiStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ck = Tables(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("long").as("k"))
    val nBuild = ck.count()
    val m = bloomM(nBuild)
    def pos(i: Int, key: Column): Column =
      pmod(graft.functions.HashOps.wordHashN(
        concat(lit(s"bl${i}_"), key.cast("string")), 15), lit(m.toLong))
    val words = ck
      .select(explode(array((0 until BLOOM_K).map(i => pos(i, col("k"))): _*)).as("p"))
      .select(expr("cast(p div 32 as int)").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("bits"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val bloomLit = array((0 until m / 32).map(i =>
      lit(words.getOrElse(i, 0L))): _*)
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_custkey").cast("long").as("k"))
    // dynamic shift counts need the SQL form (the Scala shiftright API
    // is literal-count only); bloom rides the row as a literal array
    val withP = (0 until BLOOM_K).foldLeft(o.withColumn("bloom", bloomLit)) {
      (d, i) => d.withColumn(s"p$i", pos(i, col("k")))
    }
    val passExpr = (0 until BLOOM_K).map(i =>
      s"(shiftrightunsigned(element_at(bloom, cast(p$i div 32 as int) + 1), " +
        s"cast(p$i % 32 as int)) & 1) = 1").mkString(" AND ")
    val probeStats = withP.withColumn("pass", expr(passExpr))
      .agg(count(lit(1)).as("n_probe"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val matchStats = o.join(broadcast(ck), Seq("k"), "left_semi")
      .agg(count(lit(1)).as("n_match"))
    ck.agg(count(lit(1)).as("n_build"))
      .crossJoin(probeStats).crossJoin(matchStats)
      .select(col("n_build"), lit(m.toLong).as("m"), col("n_probe"),
        col("n_pass"), col("n_match"),
        (col("n_pass") - col("n_match")).as("n_false_pos"),
        round((col("n_pass") - col("n_match")) * lit(1.0) /
          greatest(col("n_probe") - col("n_match"), lit(1L)), 6).as("fp_rate"))
  }

  /** DuckDB twin of [[bloomSemiStats]] — rebuilds the identical filter
    * bits from the same md5 derivation. */
  def bloomSemiOracle: String = {
    val h = graft.functions.HashOps.wordHashSqlN(15)
    s"""WITH ck AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
       |            WHERE c_mktsegment = 'BUILDING'),
       |mm AS (SELECT CAST(least($BLOOM_MAX_M, greatest($BLOOM_MIN_M,
       |              ($BLOOM_BITS_PER_KEY * count(*) + 63) // 64 * 64)) AS BIGINT) AS mb
       |       FROM ck),
       |iv AS (SELECT unnest(generate_series(0, ${BLOOM_K - 1})) AS i),
       |bp AS (SELECT ($h) % mb AS p FROM
       |         (SELECT md5('bl' || i || '_' || k) AS m, mb
       |          FROM ck CROSS JOIN iv CROSS JOIN mm)),
       |words AS (SELECT p // 32 AS w,
       |                 bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
       |          FROM bp GROUP BY p // 32),
       |o AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS k FROM orders),
       |op AS (SELECT o_orderkey, ($h) % mb AS p FROM
       |         (SELECT o_orderkey, md5('bl' || i || '_' || k) AS m, mb
       |          FROM o CROSS JOIN iv CROSS JOIN mm)),
       |fl AS (SELECT o_orderkey,
       |              bool_and(((coalesce(w.bits, 0) >> CAST(p % 32 AS INT)) & 1) = 1) AS pass
       |       FROM op LEFT JOIN words w ON op.p // 32 = w.w
       |       GROUP BY o_orderkey),
       |c AS (SELECT (SELECT count(*) FROM ck) AS n_build,
       |             (SELECT mb FROM mm) AS m,
       |             (SELECT count(*) FROM o) AS n_probe,
       |             (SELECT count(*) FROM fl WHERE pass) AS n_pass,
       |             (SELECT count(*) FROM o WHERE k IN (SELECT k FROM ck)) AS n_match)
       |SELECT n_build, m, n_probe, n_pass, n_match,
       |       n_pass - n_match AS n_false_pos,
       |       round((n_pass - n_match) * 1.0 / greatest(n_probe - n_match, 1), 6) AS fp_rate
       |FROM c""".stripMargin
  }

  /** Semi/anti join: customers with vs without orders, per nation.
    * left_semi/left_anti keep only the build-side key — no payload
    * shuffle. */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders").select(col("o_custkey"))
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
      .agg(count(lit(1)).as("n")).withColumn("grp", lit("with"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
      .agg(count(lit(1)).as("n")).withColumn("grp", lit("without"))
    withO.unionByName(without)
      .select(col("c_nationkey"), col("grp"), col("n"))
      .orderBy("c_nationkey", "grp")
  }

  /** Group top-k pruning over an arbitrary DataFrame: keeps (at least)
    * every row whose rank under `orderCols` within its `groupCols` group
    * is ≤ k, WITHOUT shuffling the input — a per-partition k-bounded
    * heap per group ([[graft.plans.PartialTopKExec]]), so only
    * O(partitions · groups · k) rows survive into whatever exact
    * ordering logic (window, orderBy) the caller runs next.
    *
    * `orderCols` should be a total order (include a unique tiebreaker)
    * when downstream semantics are rank-sensitive. This call is the one
    * place [[graft.plans.TopKStrategy]] is installed: it adds itself to
    * the session's `spark.experimental.extraStrategies` once. */
  def topkPerGroup(df: DataFrame, groupCols: Seq[Column],
      orderCols: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    val order = orderCols.map(PlanBridge.expression(spark, _)).map {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }
    PlanBridge.ofRows(spark, graft.plans.TopKPerGroup(
      groupCols.map(PlanBridge.expression(spark, _)), order, k,
      df.queryExecution.analyzed))
  }

  /** Window functions: per returnflag top-3 lineitems by price with
    * row_number + rank + lag + running cents sum.
    *
    * Two-phase top-k: the partition column has 3 distinct values, so a
    * single window would sort N/3 rows in each of 3 reducer tasks — the
    * plan that dies at 100 TB (and is the slow plan at sf0.1). Phase 1
    * is [[topkPerGroup]] — a shuffle-free per-partition bounded-heap
    * prune down to partitions·3·3 rows — and phase 2 runs the real
    * window over the remainder. Correct because a row with global rank
    * ≤ 3 has rank ≤ 3 in every subset it belongs to, and every window
    * function here (rank/lag/running sum over rows ≤ current) only
    * looks at rows ranked before the current row, all of which survive
    * pruning. */
  def topkWindow(spark: SparkSession, sfDir: String): DataFrame = {
    // ordering key is the exact integer cents value (not the double) so
    // the oracle's ordering is bit-identical
    val ord = Seq(desc("price_cents"), asc("l_orderkey"), asc("l_linenumber"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(ord: _*)
    val base = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        cents(col("l_extendedprice")).as("price_cents"))
    topkPerGroup(base, Seq(col("l_returnflag")), ord, 3)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("prev_price_cents", coalesce(lag("price_cents", 1).over(w), lit(-1L)))
      .withColumn("running_cents",
        sum("price_cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rn") <= 3)
      .orderBy("l_returnflag", "rn")
  }

  /** ROLLUP grouping sets over (returnflag, linestatus); rollup NULLs
    * surfaced as 'ALL' so the compare is null-free. */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_cents"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("qty_cents"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** CUBE grouping sets over orders (status × priority): all four
    * grouping combinations in ONE pass — Catalyst expands the cube into a
    * single Expand + hash aggregate, so the fact table is read once, not
    * four times. NULL group markers surfaced as 'ALL' (null-free compare). */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(cents(col("o_totalprice"))).as("price_cents"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("price_cents"), col("n"))
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Lateral explode with outer semantics: each order key expands to its
    * priority's words; orders whose priority has no second word still
    * survive (null row) — `posexplode_outer`, the UDTF-shaped surface. */
  def explodeOuter(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        posexplode_outer(slice(split(col("o_orderpriority"), "[- ]"), 3, 10))
          .as(Seq("pos", "word")))
      .select(col("o_orderkey"),
        coalesce(col("pos").cast("long"), lit(-1L)).as("pos"),
        coalesce(col("word"), lit("-")).as("word"))
      .orderBy("o_orderkey", "pos")

  /** Regex-function breadth: extract, global replace, match test, and
    * count of matches — identical char-class semantics across engines. */
  def regexpFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("first_upper"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_type").rlike("[0-9]").cast("long").as("has_digit"),
        size(split(col("p_name"), " ")).cast("long").as("n_words"))
      .orderBy("p_partkey")

  /** Calendar rollup (year → month) of order revenue: the standard
    * time-hierarchy report — one Expand + aggregate pass. */
  def timeRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        cents(col("o_totalprice")).as("pc"))
      .rollup(col("y"), col("m"))
      .agg(sum(col("pc")).as("price_cents"), count(lit(1)).as("n"))
      .select(coalesce(col("y"), lit(-1L)).as("y"),
        coalesce(col("m"), lit(-1L)).as("m"),
        col("price_cents"), col("n"))
      .orderBy("y", "m")

  /** Higher-order array functions as user surface: transform / filter /
    * exists / forall / aggregate over the integer-cents vector — all
    * integer arithmetic, so exactly reproducible. */
  def hofFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        array(cents(col("l_quantity")), cents(col("l_extendedprice")),
          cents(col("l_discount")), cents(col("l_tax"))).as("v"))
      .select(col("l_orderkey"), col("l_linenumber"),
        aggregate(transform(col("v"), x => x * 2), lit(0L), (a, x) => a + x).as("doubled_sum"),
        size(filter(col("v"), x => x > 1000L)).cast("long").as("n_over"),
        exists(col("v"), x => x === 0L).cast("long").as("any_zero"),
        forall(col("v"), x => x >= 0L).cast("long").as("all_nonneg"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Date spine: one row per day of each order's 6-day window —
    * `sequence` + explode, the standard calendar-densification pattern
    * (gap filling, as-of backfills). Thinned to every 1000th order. */
  def dateSpine(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(col("o_orderkey"),
        posexplode(sequence(col("d"), date_add(col("d"), 5))).as(Seq("i", "day")))
      .select(col("o_orderkey"), col("i").cast("long").as("i"),
        date_format(col("day"), "yyyy-MM-dd").as("day_str"))
      .orderBy("o_orderkey", "i")

  /** Explicit cartesian product of two tiny dims — the one join shape
    * where a cross product is the intended plan (materializing a
    * dimension grid). Never for two large sides. */
  def crossJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "region").crossJoin(Tables(spark, sfDir, "nation"))
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") === col("n_regionkey")).cast("long").as("is_home"))
      .orderBy("r_name", "n_name")

  /** NULL-semantics functions: nullif / coalesce / null-safe equality —
    * the three-valued-logic surface, exercised on synthesized nulls. */
  def nullSemantics(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"))
      .select(col("o_orderkey"),
        coalesce(col("status_or_null"), lit("OPEN")).as("status_filled"),
        col("status_or_null").isNull.cast("long").as("was_open"),
        (col("status_or_null") <=> lit("F")).cast("long").as("nullsafe_is_f"))
      .orderBy("o_orderkey")

  /** Theta (non-equi) join: parts matched to suppliers whose balance
    * falls inside a price band — no equi-key exists, so the right plan
    * for a SMALL right side is an explicit broadcast nested loop (each
    * task scans its part rows against the in-memory supplier list;
    * no shuffle). For two large sides, banding (see [[rangeJoin]]) is
    * the escape hatch. */
  def joinTheta(spark: SparkSession, sfDir: String,
      keepMod: Option[Long] = None): DataFrame = {
    // keepMod: deterministic key-mod restriction on BOTH sides — the
    // `join_theta_sampled` twin whose DuckDB replay stays tractable at
    // sweep sfs where the full NLJ oracle is O(N²)-slow (same plan
    // shape, 1/keepMod² of the candidate pairs)
    val p = keepMod.foldLeft(Tables(spark, sfDir, "part"))(
      (d, m) => d.filter(col("p_partkey") % m === 0))
    val s = keepMod.foldLeft(Tables(spark, sfDir, "supplier"))(
      (d, m) => d.filter(col("s_suppkey") % m === 0))
    p.join(broadcast(s),
        col("s_acctbal") >= col("p_retailprice") * 0.5 &&
          col("s_acctbal") < col("p_retailprice") * 1.5)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy("p_brand")
  }

  /** Explicit GROUPING SETS — the two single-column marginals in one
    * pass, a shape neither rollup nor cube produces alone. */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_cents"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("qty_cents"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Statistical aggregates: correlation and population stddev/variance
    * per group. Normalized (corr) or small-magnitude (stddev of O(10)
    * values) outputs keep round(6) safe against partition-order
    * summation drift. */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(stddev_pop(col("l_quantity")), 6).as("qty_sd"),
        round(var_pop(col("l_discount")), 6).as("disc_var"),
        round(avg(col("l_tax")), 6).as("tax_mean"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Per-group closed-form OLS (y = a + b·x, least squares) kept EXACT
    * end-to-end: x = quantity (integer-valued), y = price in integer
    * cents; the slope/intercept are emitted as exact rational
    * numerator/denominator pairs (n·Σxy − Σx·Σy over n·Σx² − (Σx)²)
    * as DIGIT STRINGS (the values exceed int64 at sf1, and the
    * FIXTURES.md hashed-output typing rule bans DECIMAL carriers —
    * r11 proved the driver hashes DECIMAL(38,0) values unequally even
    * when mathematically identical) plus truncating integer-ppm
    * ratios — no float mean, variance or division ever crosses
    * engines. The ppm divisions are
    * SIGN-SEPARATED (sign(num) · (|num| // den)): DuckDB versions
    * disagree on whether negative HUGEINT `//` floors or truncates
    * (the r10 driver-oracle breach, FIXTURES.md negative-// rule), but
    * every floor/truncate semantic agrees on non-negative operands.
    * DuckDB's DECIMAL `//` TRUE-divides, so the oracle computes in
    * HUGEINT.
    *
    * Scale shape: ONE partial-aggregated scan computes the five
    * sufficient statistics per group (the classic map-side-combine
    * regression); cross products then run on k-row data. The int64
    * envelope breaks at sf1 (Σy² ~ 6e19), so the k-row cross products
    * are DECIMAL(38,0) — magnitudes ≤ ~1e30 at 100 TB, comfortably
    * inside 38 digits. The float-space twin of this query is
    * [[statsAgg]]'s corr; regression in ppm is the exact face. */
  def statsOls(spark: SparkSession, sfDir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val g = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    g.select(col("l_returnflag"), col("n"),
        (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).as("slope_num"),
        (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).as("slope_den"),
        (d(col("sy")) * d(col("sxx")) - d(col("sx")) * d(col("sxy"))).as("intercept_num"))
      .select(col("l_returnflag"), col("n"),
        // hashed-output typing rule (FIXTURES.md, r12): the cross
        // products exceed int64 at sf1, so the EXACT digits ship as
        // strings — DECIMAL(38,0) stays internal to the division.
        // r11 proved the driver's hasher canonicalizes DECIMAL(38,0)
        // VALUES differently (mathematically-equal rows, matching
        // schema, unequal hash: the 4/4-vs-0/187 separator), so no
        // DECIMAL may cross a hashed final SELECT; digit strings hash
        // identically everywhere.
        col("slope_num").cast("string").as("slope_num"),
        col("slope_den").cast("string").as("slope_den"),
        // sign-separated magnitude division (FIXTURES.md negative-//
        // rule): the numerators go negative for some groups, and floor
        // vs truncate semantics on negative integer division differ
        // ACROSS DuckDB VERSIONS (the r10 driver-oracle breach). With
        // only non-negative magnitudes crossing `div`/`//`, every
        // engine/version agrees; values are unchanged (Spark div always
        // truncated toward zero).
        expr("cast(signum(slope_num) as bigint) * " +
          "(abs(slope_num) * 1000000 div slope_den)").as("slope_ppm"),
        col("intercept_num").cast("string").as("intercept_num"),
        expr("cast(signum(intercept_num) as bigint) * " +
          "(abs(intercept_num) * 1000000 div slope_den)").as("intercept_ppm"))
      .orderBy("l_returnflag")
  }

  /** DuckDB twin of [[statsOls]] — HUGEINT cross products (int128 holds
    * every magnitude here; DECIMAL `//` would true-divide). */
  def statsOlsOracle: String =
    """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |                  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      |           FROM lineitem),
      |g AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * x) AS sxx, sum(x * y) AS sxy
      |      FROM b GROUP BY l_returnflag),
      |h AS (SELECT l_returnflag, n,
      |             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
      |             CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS inum
      |      FROM g)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |       CAST(num AS VARCHAR) AS slope_num,
      |       CAST(den AS VARCHAR) AS slope_den,
      |       CAST(CAST(sign(num) AS HUGEINT) * (abs(num) * 1000000 // den) AS BIGINT) AS slope_ppm,
      |       CAST(inum AS VARCHAR) AS intercept_num,
      |       CAST(CAST(sign(inum) AS HUGEINT) * (abs(inum) * 1000000 // den) AS BIGINT) AS intercept_ppm
      |FROM h ORDER BY l_returnflag""".stripMargin

  /** Chi-square test of independence over the l_returnflag ×
    * l_linestatus contingency table, kept EXACT end-to-end: per cell
    * the observed count o, the expected count in ppm (r·c·10⁶ div N),
    * the deviation dev = o·N − r·c as exact DIGIT STRINGS (>int64 at
    * sf100; the FIXTURES.md typing rule bans DECIMAL carriers), and the
    * cell's χ² contribution dev²/(N·r·c) in ppm via the bounded
    * two-stage floor chain ((|dev|·10³ div N) · |dev| · 10³) div (r·c)
    * — the [[TextAnalysis]] collocations device, ordered
    * divide-by-N-first so the mid-chain truncation loses ≤ 1 part in
    * |dev|·10³/N instead of flooring small deviations to zero; only
    * |dev| magnitudes cross `div`, so the FIXTURES.md negative-// rule
    * holds without an allowlist entry. The statistic total rides every row
    * (cells-sized global window — 6 rows here; the table is
    * category-cardinality-sized at any corpus scale).
    *
    * Scale shape: ONE partial-aggregated scan builds the contingency
    * table; margins, N and the χ² arithmetic run on cells-sized data
    * (k_r·k_c rows). The float-space siblings are [[statsAgg]]'s
    * corr/stddev; this is the categorical-association face. */
  def statsChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val o = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("o"))
    val r = o.groupBy("rf").agg(sum("o").as("rn"))
    val c = o.groupBy("ls").agg(sum("o").as("cn"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.join(r, "rf").join(c, "ls")
      .withColumn("n", sum(col("o")).over(all))
      .select(col("rf"), col("ls"), col("o"), col("rn"), col("cn"), col("n"),
        (d(col("o")) * d(col("n")) - d(col("rn")) * d(col("cn"))).as("dev"))
      .select(col("rf"), col("ls"), col("o"),
        expr("cast(cast(rn as decimal(38,0)) * cn * 1000000 div n as bigint)")
          .as("exp_ppm"),
        col("dev").cast("string").as("dev"),
        expr("cast(((abs(dev) * 1000 div n) * abs(dev) * 1000) " +
          "div (cast(rn as decimal(38,0)) * cn) as bigint)").as("chi_ppm"))
      .withColumn("chi2_total_ppm", sum(col("chi_ppm")).over(all))
      .orderBy("rf", "ls")
  }

  /** DuckDB twin of [[statsChi2]] — HUGEINT cross products, the
    * identical two-stage |dev| floor chain and cells-sized windows. */
  def statsChi2Oracle: String =
    """WITH o AS (SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
      |           FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT rf, sum(o) AS rn FROM o GROUP BY rf),
      |c AS (SELECT ls, sum(o) AS cn FROM o GROUP BY ls),
      |cell AS (SELECT o.rf, o.ls, o.o, r.rn, c.cn, sum(o.o) OVER () AS n
      |         FROM o JOIN r USING (rf) JOIN c USING (ls)),
      |h AS (SELECT rf, ls, o, rn, cn, n,
      |             CAST(o AS HUGEINT) * n - CAST(rn AS HUGEINT) * cn AS dev
      |      FROM cell)
      |SELECT rf, ls, CAST(o AS BIGINT) AS o,
      |       CAST(CAST(rn AS HUGEINT) * cn * 1000000 // n AS BIGINT) AS exp_ppm,
      |       CAST(dev AS VARCHAR) AS dev,
      |       CAST(((abs(dev) * 1000 // n) * abs(dev) * 1000)
      |            // (CAST(rn AS HUGEINT) * cn) AS BIGINT) AS chi_ppm,
      |       CAST(sum(((abs(dev) * 1000 // n) * abs(dev) * 1000)
      |                // (CAST(rn AS HUGEINT) * cn)) OVER () AS BIGINT) AS chi2_total_ppm
      |FROM h ORDER BY rf, ls""".stripMargin

  /** Interval (range) join: every event matched to the orders of the same
    * hash key whose 7-day window [o_orderdate, o_orderdate+7d) contains
    * the event.
    *
    * Scalable formulation: both sides are binned to the interval width, the
    * right side is replicated to the (at most 2) bins its window overlaps,
    * and the join becomes an EQUI-join on (key, bin) + a residual range
    * filter — a normal shuffled hash join that partitions cleanly at any
    * scale, instead of the non-equi cross-product-per-key Spark would
    * otherwise plan (BroadcastNestedLoopJoin). Bin width == interval width
    * bounds replication at 2× and makes candidate sets minimal. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val winUs = 7L * 24 * 3600 * 1000000 // 7 days in microseconds
    val o = Tables(spark, sfDir, "orders")
      .select((col("o_custkey") % 10).as("key"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"))
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), (col("user_id") % 10).as("key"),
        unix_micros(col("ts")).as("ts_us"))
    val matched = Joins.interval(e, o, winUs)
      .groupBy("event_id")
      .agg(count(col("o_orderkey")).as("n"), min("o_orderkey").as("mn"))
    // left-outer against the full event list: unmatched events keep 0/-1
    e.select("event_id").join(matched, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("mn"), lit(-1L)).as("first_orderkey"))
      .orderBy("event_id")
  }

  /** Distribution/navigation window functions beyond [[topkWindow]]'s
    * ranking set: ntile, percent_rank, cume_dist, and first/last value
    * over an explicit ROWS frame, per order-priority partition. One
    * shuffle keyed by the partition column. */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(asc("price_cents"), asc("o_orderkey"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("cheapest", first("o_orderkey").over(frame))
      .withColumn("dearest", last("o_orderkey").over(frame))
      .filter(col("o_orderkey") % 100 === 0) // thin the compare surface
      .orderBy("o_orderpriority", "price_cents", "o_orderkey")
  }

  /** ALL-variants of the set operators (bag semantics: duplicates kept /
    * subtracted with multiplicity) — counts per key keep the compare
    * compact. */
  def setOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val a = o.filter(col("o_orderstatus") === "O").select((col("o_custkey") % 100).as("k"))
    val b = o.filter(col("o_totalprice") > 150000.0).select((col("o_custkey") % 100).as("k"))
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("except_all")))
      .unionByName(a.unionAll(b).withColumn("op", lit("union_all")))
      .groupBy("op", "k").agg(count(lit(1)).as("n"))
      .orderBy("op", "k")
  }

  /** Typed JSON extraction over the events props column (`from_json` with
    * an explicit schema — schema'd parse once, not per-path regex).
    * Narrow projection + aggregate. */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, sfDir)
      .select(col("event_type"), from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
      .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type", "k_mod")
  }

  /** String-function breadth over part names: padding, reversal,
    * replacement, search, slicing, character translation — everything
    * with identical semantics in the DuckDB twin. */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "part")
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        reverse(col("p_name")).as("name_rev"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        substring(col("p_name"), 1, 5).as("name5"),
        translate(col("p_type"), "ae", "43").as("type_l33t"),
        repeat(col("p_brand"), 2).as("brand2"),
        length(trim(col("p_name"))).cast("long").as("name_len"))
      .orderBy("p_partkey")

  /** Geography rollup: supplier → nation → region chain (two broadcast
    * dims — the canonical snowflake pattern: each hop is a tiny
    * broadcast, the fact never shuffles). */
  def joinGeo(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables(spark, sfDir, "supplier")
    val n = Tables(spark, sfDir, "nation")
    val r = Tables(spark, sfDir, "region")
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(cents(col("s_acctbal"))).as("acctbal_cents"))
      .orderBy("r_name", "n_name")
  }

  /** Date/time-function breadth over order dates: arithmetic, diffs,
    * calendar fields, boundary snapping — engine-portable semantics only
    * (ISO weeks; weekday pinned to ISO Monday=1 on both sides). */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(col("o_orderkey"),
        date_format(col("d"), "yyyy-MM-dd").as("d_str"),
        date_format(date_add(col("d"), 7), "yyyy-MM-dd").as("next_week"),
        datediff(col("d"), lit("2024-01-01").cast("date")).cast("long").as("days_since"),
        (weekday(col("d")) + 1).cast("long").as("isodow"),
        weekofyear(col("d")).cast("long").as("iso_week"),
        quarter(col("d")).cast("long").as("qtr"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("month_end"),
        date_format(trunc(col("d"), "week"), "yyyy-MM-dd").as("week_start"))
      .orderBy("o_orderkey")

  /** Map-type functions: construction, lookup, keys, cardinality — the
    * MapType surface with exact DuckDB MAP twins. */
  def mapFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        map_from_arrays(
          array(lit("q"), lit("p")),
          array(cents(col("l_quantity")), cents(col("l_extendedprice")))).as("m"))
      .select(col("l_orderkey"), col("l_linenumber"),
        element_at(col("m"), "q").as("q_val"),
        element_at(col("m"), "p").as("p_val"),
        size(col("m")).cast("long").as("n_entries"),
        array_join(map_keys(col("m")), ",").as("keys_str"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Approximate quantiles (Greenwald-Khanna sketch): the one-pass
    * fixed-memory path for percentiles over 100 TB — mergeable partials,
    * bounded error. Sketch internals differ across engines, so rows-only
    * (exact [[quantiles]] is the oracle-checked twin). */
  /** Approximate percentiles with a BOUNDED oracle: the sketch value
    * itself is engine-specific (KLL-style, not SQL-replayable), but its
    * accuracy contract is checkable — `accuracy = 10000` bounds the rank
    * error at N/10000, so the approximate quantile must land between the
    * EXACT quantiles at p ± 0.005 (50× the guarantee). The query emits
    * those exact brackets (DuckDB recomputes them independently —
    * `quantile_cont` parity is proven by `quantiles`) plus the
    * in-bracket flag the oracle pins at 1: a broken sketch fails the
    * gate, while the sketch's value never needs cross-engine equality. */
  def approxQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = Seq(0.5, 0.9, 0.99)
    val eps = 0.005
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_extendedprice"),
          array(ps.map(lit(_)): _*), lit(10000)).as("qs"),
        percentile(col("l_extendedprice"),
          array(ps.map(p => lit(p - eps)): _*)).as("lo"),
        percentile(col("l_extendedprice"),
          array(ps.map(p => lit(p + eps)): _*)).as("hi"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("q_idx", "q")),
        col("lo"), col("hi"))
      .select(col("l_returnflag"), col("q_idx").cast("long").as("q_idx"),
        round(element_at(col("lo"), col("q_idx").cast("int") + 1), 6).as("q_lo"),
        round(element_at(col("hi"), col("q_idx").cast("int") + 1), 6).as("q_hi"),
        (col("q") >= element_at(col("lo"), col("q_idx").cast("int") + 1) &&
          col("q") <= element_at(col("hi"), col("q_idx").cast("int") + 1))
          .cast("long").as("within"))
      .orderBy("l_returnflag", "q_idx")
  }

  /** Array-function breadth over the lineitem vector: sort, slice,
    * contains, sequence, element access — all list ops with exact DuckDB
    * twins. */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        array(cents(col("l_quantity")), cents(col("l_extendedprice")),
          cents(col("l_discount")), cents(col("l_tax"))).as("v"))
      .select(col("l_orderkey"), col("l_linenumber"),
        concat_ws("_", array_sort(col("v")).cast("array<string>")).as("sorted_str"),
        concat_ws("_", slice(col("v"), 2, 2).cast("array<string>")).as("mid_str"),
        array_contains(col("v"), lit(0L)).cast("long").as("has_zero"),
        element_at(col("v"), -1).as("last_el"),
        size(col("v")).cast("long").as("n_el"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Set operators: INTERSECT / EXCEPT / UNION over customer-key sets
    * (open orders vs big-ticket orders), tagged into one result. */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val b = o.filter(col("o_totalprice") > 150000.0).select(col("o_custkey"))
    a.intersect(b).withColumn("op", lit("intersect"))
      .unionByName(a.except(b).withColumn("op", lit("except")))
      .unionByName(a.union(b).distinct().withColumn("op", lit("union")))
      .select(col("op"), col("o_custkey"))
      .orderBy("op", "o_custkey")
  }

  /** Exact distinct aggregation (count-distinct expands to a two-phase
    * aggregate; partial aggregation still applies). */
  def distinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HLL approximate distinct — sketch counts differ across engines by
    * design, so this is a rows-only query (no oracle). At scale this is
    * the right default: one pass, fixed memory, mergeable sketches. */
  /** HyperLogLog++ distinct counts with a BOUNDED oracle: the sketch
    * estimate is engine-specific, but its accuracy contract (default
    * rsd 0.05) is checkable — the estimate must land within 3×rsd of the
    * EXACT count, which DuckDB recomputes independently; the oracle pins
    * the flags at 1. Same design as [[approxQuantiles]]: the gate
    * verifies the guarantee, not sketch-value equality. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // the rsd the bound derives from is passed EXPLICITLY to the sketch
    // (not left to approx_count_distinct's default), so a Spark default
    // change can never detach the gate from the sketch it checks. The
    // 3×rsd bound is 3 standard deviations of a probabilistic guarantee,
    // not a hard contract — a ~0.3% per-flag residual failure risk is
    // accepted and documented next to the pinned-flag oracle.
    val rsd = 0.05
    val bound = 3 * rsd
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        approx_count_distinct(col("l_partkey"), rsd).as("ap"),
        approx_count_distinct(col("l_orderkey"), rsd).as("ao"))
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
        (abs(col("ap") - col("n_parts")) <= col("n_parts") * bound)
          .cast("long").as("parts_ok"),
        (abs(col("ao") - col("n_orders")) <= col("n_orders") * bound)
          .cast("long").as("orders_ok"))
      .orderBy("l_returnflag")
  }

  /** Scalar-function breadth: string/date/math projections with
    * engine-portable semantics (no transcendentals — libm results are not
    * bit-portable across engines). Narrow, codegen'd, pushdown-friendly. */
  def scalarFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      upper(col("l_returnflag")).as("flag_u"),
      concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("fs"),
      length(concat(col("l_returnflag"), col("l_linestatus"))).cast("long").as("fs_len"),
      year(col("l_shipdate")).cast("long").as("ship_y"),
      month(col("l_shipdate")).cast("long").as("ship_m"),
      dayofmonth(col("l_shipdate")).cast("long").as("ship_d"),
      unix_micros(date_trunc("month", col("l_shipdate"))).as("ship_month_us"),
      round(abs(col("l_discount") - 0.05), 6).as("disc_dev"),
      round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
      ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
      floor(col("l_extendedprice")).cast("long").as("price_floor"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Pivot: event counts per user-decile × event type (type values
    * pinned so the output schema is static — the scalable form; dynamic
    * pivot needs a driver-side distinct first). */
  def pivotAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .groupBy((col("user_id") % 10).as("user_decile"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_decile")
  }

  /** Correlated scalar subquery via the SQL surface: orders priced above
    * their priority's average (the subquery decorrelates to a join +
    * aggregate under Catalyst). */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders o2
        |                      WHERE o2.o_orderpriority = o.o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Exact continuous quantiles (25/50/75th percentile of quantity per
    * returnflag) — `percentile` sorts within the aggregate; the
    * long-format output keeps the compare scalar. */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("q_idx", "q")))
      .select(col("l_returnflag"), col("q_idx").cast("long").as("q_idx"),
        round(col("q"), 6).as("q"))
      .orderBy("l_returnflag", "q_idx")

  /** As-of (backward) join: for every event, the most recent order (by
    * o_orderdate ≤ event ts) within the same hash key. Spark lacks a
    * native as-of join; this is the scalable union+window formulation:
    * both sides union into one stream sorted by (key, ts, side), and a
    * running `last(ignoreNulls)` carries the latest right-side row
    * forward — one shuffle on the key, sort-merge within partitions, no
    * range explosion. The right side is first deduped per (key, ts)
    * (min orderkey) so the match is deterministic. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables(spark, sfDir, "orders")
      .select((col("o_custkey") % 10).as("key"), col("o_orderdate").as("ts"), col("o_orderkey"))
      .groupBy("key", "ts").agg(min("o_orderkey").as("o_orderkey"))
    val l = Tables.events(spark, sfDir)
      .select((col("user_id") % 10).as("key"), col("ts"), col("event_id"))
    Joins.asof(l, r, "o_orderkey")
      .select(col("event_id"), coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"))
      .orderBy("event_id")
  }

  /** Wide→long unpivot (melt) of the lineitem numeric measures, then a
    * per-metric aggregate. The unpivot itself is a narrow row expansion
    * (4× rows, no shuffle); the aggregate shuffles 4 groups of integer
    * cents — exact at any scale. */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "v")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), sum(cents(col("v"))).as("cents"))
      .orderBy("metric")

  /** DuckDB twin of [[unpivotMeasures]] (UNION ALL formulation). */
  def unpivotMeasuresOracle: String = {
    val arms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => s"SELECT '$c' AS metric, $c AS v FROM lineitem")
      .mkString("\nUNION ALL\n")
    s"""WITH u AS ($arms)
       |SELECT metric, count(*) AS n,
       |       CAST(sum(CAST(round(v * 100, 0) AS BIGINT)) AS BIGINT) AS cents
       |FROM u GROUP BY metric ORDER BY metric""".stripMargin
  }

  /** Bucket width (in cents) of [[histogram]]. */
  val HistWidthCents = 500000L

  /** Equi-width histogram of l_extendedprice: integer-cents division
    * into fixed $5,000 buckets — exact at any scale (no FP binning
    * drift), one partial-aggregated shuffle of bucket counts. NB: `div`
    * truncates toward zero while the oracle's `//` floors; identical
    * only because prices are nonnegative — for signed measures bin with
    * an explicit floor (see Joins.interval). */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .selectExpr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)" +
        s" div $HistWidthCents AS bucket")
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** DuckDB twin of [[histogram]]. */
  def histogramOracle: String =
    s"""SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) // $HistWidthCents AS bucket,
       |       count(*) AS n
       |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Columns profiled by [[profileColumns]]. */
  val ProfileCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Per-column data-quality profile (null count, exact distinct count,
    * min/max) in long format — the standard pre-training table QA sweep.
    *
    * One aggregate pass over the scan; the multiple exact count-distincts
    * expand the input (one grouping per distinct column), which is the
    * exact-answer cost — at 100 TB swap in `approx_count_distinct` and
    * the pass becomes a single narrow partial aggregate. The final
    * explode touches only the 1-row aggregate result. */
  def profileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"))
    }
    val row = Tables(spark, sfDir, "lineitem").agg(aggs.head, aggs.tail: _*)
    val items = array(ProfileCols.map(c => struct(
      lit(c).as("col_name"),
      col(s"${c}__nulls").as("n_nulls"),
      col(s"${c}__nd").as("n_distinct"),
      col(s"${c}__min").as("min_v"),
      col(s"${c}__max").as("max_v"))): _*)
    row.select(explode(items).as("p")).select("p.*").orderBy("col_name")
  }

  /** DuckDB twin of [[profileColumns]] (FILTER keeps counts BIGINT). */
  def profileColumnsOracle: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v,
         |  CAST(max($c) AS DOUBLE) AS max_v FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** The declarative rule set of [[dqExpectations]]: Deequ-style
    * expectations (Schelter et al., VLDB 2018) over the fact table —
    * each rule is (name, violation predicate) evaluable inside one
    * aggregate pass. Uniqueness and referential integrity need their
    * own shapes and are appended separately. */
  private[graft] val DqSingle: Seq[(String, Column)] = Seq(
    "completeness_l_shipdate" -> col("l_shipdate").isNull,
    "range_l_quantity_1_50" -> (col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
    "set_l_returnflag_ANR" -> !col("l_returnflag").isin("A", "N", "R"),
    "nonneg_l_extendedprice" -> (col("l_extendedprice") < 0.0),
    "freshness_l_shipdate_1995_2002" ->
      (col("l_shipdate") < lit("1995-01-01").cast("timestamp") ||
        col("l_shipdate") >= lit("2002-01-01").cast("timestamp")))

  /** Data-quality expectation sweep (the Deequ/Great-Expectations
    * product surface): one row per declared rule —
    * (rule, n_checked, n_violations, pass) — the gate a 100 TB ingest
    * runs BEFORE training ever sees the data.
    *
    * Scale shape: all row-local rules fold into ONE aggregate pass over
    * the scan (conditional sums — no per-rule re-scan); uniqueness is
    * one key-shuffle aggregate counting rows inside multiply-occurring
    * key groups; referential integrity is one anti join on the foreign
    * key (shuffle hash at fact×fact scale, broadcast when the dimension
    * allows). The three 1-row summaries cross-join (1×1×1) and explode
    * into the rule rows — driver never sees the data. */
  def dqExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
    val uniqRow = orders.groupBy("o_orderkey")
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_orders"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("v__uniq"))
      .select(lit("uniqueness_o_orderkey").as("rule"),
        col("n_orders").as("n_checked"), col("v__uniq").as("n_violations"))
    dqStreamableRows(Tables(spark, sfDir, "lineitem"), orders)
      .unionByName(uniqRow)
      .withColumn("pass", when(col("n_violations") === 0L, 1L).otherwise(0L))
      .orderBy("rule")
  }

  /** The batch-incremental subset of the [[dqExpectations]] rules —
    * (rule, n_checked, n_violations) for the five row-local rules plus
    * referential integrity. Every counter is a SUM over input rows
    * (the anti join is per-row too), so per-micro-batch results merge
    * by addition: the property [[graft.streaming.DqStream]] builds on.
    * The orders-table uniqueness rule is NOT in this set — it is a
    * dimension-side check, not a property of the streamed fact rows. */
  private[graft] def dqStreamableRows(li: DataFrame, orders: DataFrame): DataFrame = {
    val singleAggs = count(lit(1)).as("n_rows") +:
      DqSingle.map { case (name, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(s"v__$name") }
    val single = li.agg(singleAggs.head, singleAggs.tail: _*)
    val refv = li.join(orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v__ref"))
    val rules = DqSingle.map { case (name, _) =>
      struct(lit(name).as("rule"), col("n_rows").as("n_checked"),
        col(s"v__$name").as("n_violations")) } :+
      struct(lit("ref_l_orderkey_in_orders").as("rule"),
        col("n_rows").as("n_checked"), col("v__ref").as("n_violations"))
    single.crossJoin(refv)
      .select(explode(array(rules: _*)).as("r")).select("r.*")
  }

  /** DuckDB twin of [[dqExpectations]] — same rules, FILTER-aggregated. */
  def dqExpectationsOracle: String = {
    val singles = Seq(
      "completeness_l_shipdate" -> "l_shipdate IS NULL",
      "range_l_quantity_1_50" -> "(l_quantity < 1.0 OR l_quantity > 50.0)",
      "set_l_returnflag_ANR" -> "l_returnflag NOT IN ('A', 'N', 'R')",
      "nonneg_l_extendedprice" -> "l_extendedprice < 0.0",
      "freshness_l_shipdate_1995_2002" ->
        ("(l_shipdate < TIMESTAMP '1995-01-01 00:00:00' " +
          "OR l_shipdate >= TIMESTAMP '2002-01-01 00:00:00')"))
      .map { case (name, pred) =>
        s"""SELECT '$name' AS rule, count(*) AS n_checked,
           |  count(*) FILTER (WHERE $pred) AS n_violations FROM lineitem""".stripMargin }
    val uniq =
      """SELECT 'uniqueness_o_orderkey' AS rule,
        |  (SELECT count(*) FROM orders) AS n_checked,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_violations
        |FROM (SELECT count(*) AS c FROM orders
        |      GROUP BY o_orderkey HAVING count(*) > 1)""".stripMargin
    val refv =
      """SELECT 'ref_l_orderkey_in_orders' AS rule,
        |  (SELECT count(*) FROM lineitem) AS n_checked,
        |  count(*) AS n_violations
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin
    (singles ++ Seq(uniq, refv))
      .mkString("SELECT rule, n_checked, n_violations,\n" +
        "  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass FROM (\n",
        "\nUNION ALL\n", "\n) ORDER BY rule")
  }

  /** [[dqDrift]] comparison windows and ECDF grid — shared with the
    * oracle builder so query and oracle cannot drift. */
  val DriftWinA: (String, String) = ("2024-01-01 00:00:00", "2024-01-08 00:00:00")
  val DriftWinB: (String, String) = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")

  /** Two-sample Kolmogorov–Smirnov distribution-drift check between two
    * time windows of the event `value` stream — the standard "did this
    * week's data shift?" monitor of a data-quality stack, kept EXACT:
    * values land on a deci-unit grid (binned KS — the grid is bounded
    * by the VALUE RANGE, not the corpus, so the ECDF relation never
    * grows with data), and the statistic is the integer
    * D' = max |n_b·cumA(v) − n_a·cumB(v)| (the classic KS D times
    * n_a·n_b — no float ECDF ever crosses engines). Output: the argmax
    * grid value, both window sizes, D', and D in integer ppm via the
    * FIXTURES.md engine-split division (n_a·n_b·1e6 overflows int64 at
    * large windows: Spark DECIMAL(38,0) `div`, DuckDB HUGEINT `//`,
    * operands non-negative by construction — |·| and counts).
    *
    * Scale shape: one scan builds both windows' per-bin counts (one
    * grid-keyed aggregate, map-side combinable); the ECDF windows and
    * the argmax run on the grid-sized relation (bounded by design); the
    * 1-row (n_a, n_b) totals broadcast-cross-join on
    * (PlanGateSpec-declared). */
  def dqDrift(spark: SparkSession, sfDir: String): DataFrame =
    driftFromBins(driftBinCounts(Tables.events(spark, sfDir)))

  /** Per-grid-bin counts of both [[DriftWinA]]/[[DriftWinB]] windows
    * over an arbitrary events relation — `(v, ca, cb)`. ADDITIVE across
    * corpus slices (counts sum), which is what makes the streaming twin
    * ([[graft.streaming.DriftStream]]) slicing-independent. */
  def driftBinCounts(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("ts"), expr("cast(round(value * 10, 0) as bigint)").as("v"))
    def in(win: (String, String)) =
      col("ts") >= lit(win._1).cast("timestamp") &&
        col("ts") < lit(win._2).cast("timestamp")
    ev.filter(in(DriftWinA) || in(DriftWinB))
      .groupBy("v")
      .agg(sum(when(in(DriftWinA), 1L).otherwise(0L)).as("ca"),
        sum(when(in(DriftWinB), 1L).otherwise(0L)).as("cb"))
  }

  /** The KS statistic over a merged `(v, ca, cb)` bin relation — the
    * deterministic tail of [[dqDrift]], shared by batch and stream. */
  def driftFromBins(m: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = m.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    m.withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("d_scaled",
        abs(col("n_b") * col("cuma") - col("n_a") * col("cumb")))
      .orderBy(desc("d_scaled"), asc("v"))
      .limit(1)
      .select(col("v").as("at_value_deci"), col("n_a"), col("n_b"),
        col("d_scaled"),
        expr("cast(cast(d_scaled as decimal(38,0)) * 1000000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("ks_ppm"))
  }

  /** DuckDB twin of [[dqDrift]] — identical grid, windows and integer
    * KS chain (HUGEINT on the ppm division per the engine split). */
  def dqDriftOracle: String =
    s"""WITH ev AS (SELECT ts, CAST(round(value * 10, 0) AS BIGINT) AS v FROM events),
       |a AS (SELECT v, count(*) AS ca FROM ev
       |      WHERE ts >= TIMESTAMP '${DriftWinA._1}' AND ts < TIMESTAMP '${DriftWinA._2}'
       |      GROUP BY v),
       |b AS (SELECT v, count(*) AS cb FROM ev
       |      WHERE ts >= TIMESTAMP '${DriftWinB._1}' AND ts < TIMESTAMP '${DriftWinB._2}'
       |      GROUP BY v),
       |m AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |      FROM a FULL OUTER JOIN b ON a.v = b.v),
       |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM m),
       |c AS (SELECT v,
       |        CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
       |        CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
       |      FROM m),
       |d AS (SELECT v, n_a, n_b, abs(n_b * cuma - n_a * cumb) AS d_scaled
       |      FROM c CROSS JOIN t)
       |SELECT v AS at_value_deci, n_a, n_b, CAST(d_scaled AS BIGINT) AS d_scaled,
       |       CAST(CAST(d_scaled AS HUGEINT) * 1000000
       |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm
       |FROM d ORDER BY d_scaled DESC, v LIMIT 1""".stripMargin

  /** CDC latest-snapshot compaction (SCD type-1 read path): one current
    * row per key — here the most recent order per customer, ties broken
    * by the larger orderkey. The canonical change-log → snapshot collapse
    * every incremental 100 TB table needs.
    *
    * One shuffle on the key; the window's sort is per-key local. At
    * scale this is exactly the MERGE/compaction read: the changelog
    * shuffles once and only rn=1 survives — never a self-join against
    * max(ts) (which would scan twice and shuffle twice). */
  def scdLatest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey").cast("long").as("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_custkey")
  }

  /** DuckDB twin of [[scdLatest]]. */
  def scdLatestOracle: String =
    """WITH w AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |           FROM orders)
      |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
      |FROM w WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Key restriction of [[scd2History]] (oracle-tractability device:
    * the history build emits one row per change row, so the sweep-sf
    * compare stays bounded by restricting to 1% of keys — the
    * `join_theta_sampled` keepMod convention). */
  val Scd2Mod = 100L

  /** SCD type-2 history build — the versioned-dimension complement of
    * [[scdLatest]]: per key the changelog becomes contiguous validity
    * intervals — (version, valid_from, valid_to, is_current) — with
    * `valid_to` = the NEXT version's start (lead) and the open current
    * row capped at 9999-12-31, the standard warehouse convention.
    *
    * One shuffle on the key; version numbering, the interval ends and
    * the current flag all come from a single window sort (never a
    * self-join against max(ts) — the same single-pass argument as
    * [[scdLatest]]). At 100 TB this is the dimension-history rebuild
    * that runs after every CDC ingest; the changelog shuffles once. */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .filter(col("o_custkey") % Scd2Mod === 0)
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("next_from", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey").cast("long").as("o_custkey"), col("version"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("next_from"), "yyyy-MM-dd"), lit("9999-12-31"))
          .as("valid_to"),
        when(col("next_from").isNull, 1L).otherwise(0L).as("is_current"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_custkey", "version")
  }

  /** DuckDB twin of [[scd2History]] — identical ordering and interval
    * construction. */
  def scd2HistoryOracle: String =
    s"""WITH w AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       |             row_number() OVER (PARTITION BY o_custkey
       |               ORDER BY o_orderdate, o_orderkey) AS version,
       |             lead(o_orderdate) OVER (PARTITION BY o_custkey
       |               ORDER BY o_orderdate, o_orderkey) AS next_from
       |           FROM orders WHERE o_custkey % ${Scd2Mod} = 0)
       |SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       |       CAST(version AS BIGINT) AS version, o_orderkey,
       |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       |       coalesce(strftime(next_from, '%Y-%m-%d'), '9999-12-31') AS valid_to,
       |       CAST(CASE WHEN next_from IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
       |FROM w ORDER BY o_custkey, version""".stripMargin

  /** MERGE INTO semantics (the lakehouse upsert): a base snapshot
    * full-outer-joined with a change set, every key resolving to
    * insert / update / keep — the batch form of what
    * [[scdLatest]] reads back out of an accumulated changelog.
    *
    * One shuffle on the merge key for both sides; at 100 TB the base
    * table is stored bucketed by the key ([[graft.sources.Sinks
    * .writeBucketed]]) so the join — and therefore the whole MERGE —
    * runs with no exchange on the base side, which is the layout
    * contract every table format's MERGE relies on. Integer-cents
    * arithmetic keeps the updated values exact. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("pc"))
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("bk"), col("pc").as("bp"))
    val upd = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("uk"), (col("pc") + 1000).as("up"))
    base.join(upd, col("bk") === col("uk"), "full_outer")
      .select(coalesce(col("bk"), col("uk")).as("o_orderkey"),
        coalesce(col("up"), col("bp")).as("price_cents"),
        when(col("bk").isNull, "insert")
          .when(col("uk").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy("o_orderkey")
  }

  /** DuckDB twin of [[mergeUpsert]]. */
  def mergeUpsertOracle: String =
    """WITH base AS (SELECT o_orderkey,
      |                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
      |              FROM orders WHERE o_orderkey % 3 <> 0),
      |upd AS (SELECT o_orderkey,
      |               CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1000 AS price_cents
      |        FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
      |       coalesce(u.price_cents, b.price_cents) AS price_cents,
      |       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
      |            WHEN u.o_orderkey IS NULL THEN 'keep' ELSE 'update' END AS action
      |FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order (Morton) interleaved key over (l_partkey, l_suppkey) —
    * the multi-dimensional lake-layout primitive: writing a table
    * range-partitioned and sorted by this key co-locates rows that are
    * close in BOTH dimensions, so 2-D predicates prune files on either
    * column (the Delta/Iceberg OPTIMIZE ZORDER technique; see
    * [[graft.sources.Sinks.writeZOrdered]] for the write path). The key
    * itself is a narrow integer expression — 16 bits per dimension
    * interleaved via a HOF fold, no shuffle, exact in int64. */
  /** Bit-spread half of the Morton interleave: the 16 low bits of `x`
    * moved to even positions 0,2,…,30 via the classic magic-bits
    * doubling trick — 8 flat codegen'd integer ops. (The obvious
    * per-bit `aggregate(sequence(0,15), …)` fold is a lambda HOF:
    * interpreted per row, no codegen — measured 20 s vs 0.4 s over
    * 600k rows for the same value.) */
  private def mortonSpread(x: Column): Column = {
    val a = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Morton key of two 16-bit dimensions: px bits at even positions,
    * sx at odd. */
  def mortonKey(px: Column, sx: Column): Column =
    mortonSpread(px).bitwiseOR(shiftleft(mortonSpread(sx), 1))

  def zorderKey(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (col("l_partkey") % 65536).cast("long").as("px"),
        (col("l_suppkey") % 65536).cast("long").as("sx"))
      .withColumn("zkey", mortonKey(col("px"), col("sx")))
      .orderBy("zkey", "l_orderkey", "l_linenumber")
      .limit(50)

  /** DuckDB twin of [[zorderKey]]. */
  def zorderKeyOracle: String =
    """WITH t AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |                  CAST(l_partkey % 65536 AS BIGINT) AS px,
      |                  CAST(l_suppkey % 65536 AS BIGINT) AS sx FROM lineitem)
      |SELECT l_orderkey, l_linenumber, px, sx,
      |  CAST(list_sum(list_transform(range(0, 16),
      |      i -> (((px >> i) & 1) << (2*i)) + (((sx >> i) & 1) << (2*i+1)))) AS BIGINT) AS zkey
      |FROM t ORDER BY zkey, l_orderkey, l_linenumber LIMIT 50""".stripMargin

  /** Top-rule count of [[basketRules]]. */
  val BasketTopN = 50

  /** Market-basket association rules (the Agrawal–Srikant 2-itemset
    * core): baskets are orders, items are part BRANDS (a bounded
    * 25-value vocabulary at every sf — the category level real basket
    * analysis mines), and every directed rule a→b gets exact integer
    * support/confidence/lift in ppm. Lift's cross product
    * (c_pair·N·1e6) exceeds int64 by sf10, so the k²-row rule relation
    * computes it in DECIMAL(38,0) ↔ HUGEINT — the [[statsOls]] device.
    * Top [[BasketTopN]] by (lift DESC, antecedent, consequent).
    *
    * Scale shape: ONE distinct (order, brand) projection (brand joins
    * in via broadcast of the part dimension at bench scale; at fact×
    * fact scale the join shuffles on partkey), pair expansion bounded
    * by items-per-order² (≤21 here; a wide-basket corpus would cap the
    * per-basket item list like [[graft.operators.Dedup]]'s posting
    * lists), then everything after the two count aggregates runs on
    * brand²-sized relations — hundreds of rows regardless of corpus
    * size. */
  def basketRules(spark: SparkSession, sfDir: String,
      topN: Int = BasketTopN): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    // r16: the distinct basket projection feeds THREE branches (basket
    // count, item counts, the pair self-join) — persist it so the
    // lineitem⋈part scan + distinct shuffle run once, not per branch
    // (PERF.md rule 6; exchange reuse does not cover the self-join's
    // differing downstream projections)
    val li = Tables(spark, sfDir, "lineitem")
      .join(broadcast(Tables(spark, sfDir, "part")),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("br"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = li.agg(countDistinct(col("o")).as("n_baskets"))
    val items = li.groupBy("br").agg(count(lit(1)).as("ci"))
    val pairs = li.as("x").join(li.as("y"), Seq("o"))
      .where(col("x.br") < col("y.br"))
      .groupBy(col("x.br").as("a"), col("y.br").as("b"))
      .agg(count(lit(1)).as("cp"))
    val rules = pairs.select(col("a").as("ant"), col("b").as("cons"), col("cp"))
      .unionByName(pairs.select(col("b").as("ant"), col("a").as("cons"), col("cp")))
      .join(items.select(col("br").as("ant"), col("ci").as("c_ant")), "ant")
      .join(items.select(col("br").as("cons"), col("ci").as("c_cons")), "cons")
      .crossJoin(broadcast(n))
    rules.select(col("ant"), col("cons"), col("cp").as("n_pair"),
        col("c_ant"), col("c_cons"), col("n_baskets"),
        expr("cp * 1000000 div n_baskets").as("support_ppm"),
        expr("cp * 1000000 div c_ant").as("confidence_ppm"),
        (d(col("cp")) * d(col("n_baskets")) * d(lit(1000000L))).as("ln_"),
        (d(col("c_ant")) * d(col("c_cons"))).as("ld_"))
      .select(col("ant"), col("cons"), col("n_pair"), col("c_ant"), col("c_cons"),
        col("support_ppm"), col("confidence_ppm"),
        expr("ln_ div ld_").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("ant"), asc("cons"))
      .limit(topN)
  }

  /** DuckDB twin of [[basketRules]] — identical pair expansion and the
    * identical HUGEINT lift chain. */
  def basketRulesOracle(topN: Int = BasketTopN): String =
    s"""WITH li AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS br
       |            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
       |n AS (SELECT count(DISTINCT o) AS n_baskets FROM li),
       |items AS (SELECT br, count(*) AS ci FROM li GROUP BY br),
       |pairs AS (SELECT x.br AS a, y.br AS b, count(*) AS cp
       |          FROM li x JOIN li y ON x.o = y.o AND x.br < y.br
       |          GROUP BY 1, 2),
       |dir AS (SELECT a AS ant, b AS cons, cp FROM pairs
       |        UNION ALL SELECT b, a, cp FROM pairs),
       |r AS (SELECT ant, cons, cp, ia.ci AS c_ant, ic.ci AS c_cons, n_baskets
       |      FROM dir JOIN items ia ON ia.br = ant
       |               JOIN items ic ON ic.br = cons
       |      CROSS JOIN n)
       |SELECT ant, cons, cp AS n_pair, c_ant, c_cons,
       |       CAST(cp * 1000000 // n_baskets AS BIGINT) AS support_ppm,
       |       CAST(cp * 1000000 // c_ant AS BIGINT) AS confidence_ppm,
       |       CAST(CAST(cp AS HUGEINT) * n_baskets * 1000000
       |            // (CAST(c_ant AS HUGEINT) * c_cons) AS BIGINT) AS lift_ppm
       |FROM r
       |ORDER BY lift_ppm DESC, ant, cons LIMIT $topN""".stripMargin

  /** Rows per simulated file in [[lakeSkipping]]. */
  val SkipFileRows = 512L

  /** File-skipping (zone-map) planner: the measurable case FOR the
    * z-order layout. The fact table is laid out twice — natural
    * (orderkey) order and [[mortonKey]] z-order — chunked into
    * [[SkipFileRows]]-row files, and a 2-D box predicate
    * (px ∈ [max/4, max/2), sx likewise — bounds derived from the data
    * by exact integer division so the box scales with any sf) is
    * planned against each layout's per-file min/max stats. Output: one
    * row per layout — (layout, n_files, files_scanned,
    * files_with_matches, rows_matching) — where `files_scanned` is the
    * zone-map candidate count (min < hi AND max ≥ lo on both dims) and
    * `rows_matching` must be layout-invariant (the built-in
    * self-check). Z-order co-locates both dimensions, so its candidate
    * set collapses toward the files that truly match, while the
    * natural layout's px/sx zones span everything — THE reason a 100 TB
    * lake z-orders its scan keys (Delta/Iceberg data skipping; the
    * write path is [[graft.sources.Sinks.writeZOrdered]], tested for
    * exactly this 2-D clustering).
    *
    * Scale shape: each layout costs one total-order window (the sort a
    * real writer pays once at write time) and one file-keyed aggregate;
    * the summaries are file-count-sized. The 1-row bounds aggregate
    * broadcast-cross-joins (declared, the [[bloomSemiStats]] shape). */
  def lakeSkipping(spark: SparkSession, sfDir: String,
      fileRows: Long = SkipFileRows): DataFrame = {
    val base = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        (col("l_partkey") % 65536).cast("long").as("px"),
        (col("l_suppkey") % 65536).cast("long").as("sx"))
      .withColumn("zkey", mortonKey(col("px"), col("sx")))
    val bounds = base.agg(
      expr("max(px) div 4").as("p_lo"), expr("max(px) div 2").as("p_hi"),
      expr("max(sx) div 4").as("s_lo"), expr("max(sx) div 2").as("s_hi"))
    def layout(name: String, ord: Seq[Column]): DataFrame = {
      val rn = row_number().over(Window.orderBy(ord: _*))
      val hit = col("px") >= col("p_lo") && col("px") < col("p_hi") &&
        col("sx") >= col("s_lo") && col("sx") < col("s_hi")
      base.crossJoin(broadcast(bounds))
        .withColumn("rn", rn.cast("long"))
        .withColumn("f", expr(s"(rn - 1) div $fileRows"))
        .groupBy("f")
        .agg(min("px").as("min_px"), max("px").as("max_px"),
          min("sx").as("min_sx"), max("sx").as("max_sx"),
          sum(when(hit, 1L).otherwise(0L)).as("n_match"),
          first("p_lo").as("p_lo"), first("p_hi").as("p_hi"),
          first("s_lo").as("s_lo"), first("s_hi").as("s_hi"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("min_px") < col("p_hi") && col("max_px") >= col("p_lo") &&
            col("min_sx") < col("s_hi") && col("max_sx") >= col("s_lo"),
            1L).otherwise(0L)).as("files_scanned"),
          sum(when(col("n_match") > 0, 1L).otherwise(0L)).as("files_with_matches"),
          sum("n_match").as("rows_matching"))
        .select(lit(name).as("layout"), col("n_files"), col("files_scanned"),
          col("files_with_matches"), col("rows_matching"))
    }
    layout("natural", Seq(asc("l_orderkey"), asc("ln")))
      .unionByName(layout("zorder", Seq(asc("zkey"), asc("l_orderkey"), asc("ln"))))
      .orderBy("layout")
  }

  /** DuckDB twin of [[lakeSkipping]] — identical Morton key, file
    * chunking, bounds derivation and zone-map test. */
  def lakeSkippingOracle(fileRows: Long = SkipFileRows): String =
    s"""WITH base AS (
       |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
       |         CAST(l_partkey % 65536 AS BIGINT) AS px,
       |         CAST(l_suppkey % 65536 AS BIGINT) AS sx,
       |         CAST(list_sum(list_transform(range(0, 16),
       |             i -> ((((l_partkey % 65536) >> i) & 1) << (2*i))
       |                + ((((l_suppkey % 65536) >> i) & 1) << (2*i+1)))) AS BIGINT) AS zkey
       |  FROM lineitem),
       |bounds AS (SELECT max(px) // 4 AS p_lo, max(px) // 2 AS p_hi,
       |                  max(sx) // 4 AS s_lo, max(sx) // 2 AS s_hi FROM base),
       |nat AS (SELECT (row_number() OVER (ORDER BY l_orderkey, ln) - 1) // $fileRows AS f,
       |               px, sx, p_lo, p_hi, s_lo, s_hi,
       |               CASE WHEN px >= p_lo AND px < p_hi
       |                     AND sx >= s_lo AND sx < s_hi THEN 1 ELSE 0 END AS m
       |        FROM base CROSS JOIN bounds),
       |zor AS (SELECT (row_number() OVER (ORDER BY zkey, l_orderkey, ln) - 1) // $fileRows AS f,
       |               px, sx, p_lo, p_hi, s_lo, s_hi,
       |               CASE WHEN px >= p_lo AND px < p_hi
       |                     AND sx >= s_lo AND sx < s_hi THEN 1 ELSE 0 END AS m
       |        FROM base CROSS JOIN bounds),
       |natf AS (SELECT f, min(px) AS min_px, max(px) AS max_px,
       |                min(sx) AS min_sx, max(sx) AS max_sx, sum(m) AS n_match,
       |                any_value(p_lo) AS p_lo, any_value(p_hi) AS p_hi,
       |                any_value(s_lo) AS s_lo, any_value(s_hi) AS s_hi
       |         FROM nat GROUP BY f),
       |zorf AS (SELECT f, min(px) AS min_px, max(px) AS max_px,
       |                min(sx) AS min_sx, max(sx) AS max_sx, sum(m) AS n_match,
       |                any_value(p_lo) AS p_lo, any_value(p_hi) AS p_hi,
       |                any_value(s_lo) AS s_lo, any_value(s_hi) AS s_hi
       |         FROM zor GROUP BY f)
       |SELECT 'natural' AS layout, count(*) AS n_files,
       |  CAST(sum(CASE WHEN min_px < p_hi AND max_px >= p_lo
       |                 AND min_sx < s_hi AND max_sx >= s_lo
       |            THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |  CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_with_matches,
       |  CAST(sum(n_match) AS BIGINT) AS rows_matching
       |FROM natf
       |UNION ALL
       |SELECT 'zorder', count(*),
       |  CAST(sum(CASE WHEN min_px < p_hi AND max_px >= p_lo
       |                 AND min_sx < s_hi AND max_sx >= s_lo
       |            THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(sum(n_match) AS BIGINT)
       |FROM zorf
       |ORDER BY layout""".stripMargin

  /** [[compactionPlan]] target output-file size — shared with the
    * oracle builder so query and oracle cannot drift. */
  val COMPACT_TARGET = 8192L

  /** Compaction planner for the documents "lake": within each lang
    * partition, docs sort by (n_chars DESC, doc_id) and pack into output
    * files of ~[[targetBytes]] by cumulative-size binning —
    * bin = bytes-before-me div target. This is the deterministic
    * planner step of a real small-file compactor (size-tiered,
    * contiguous-by-sort assignment): one sort per partition key, no
    * driver loop, no sequential bin state — so it distributes as a
    * plain window at 1000 executors where first-fit-decreasing (a
    * sequential fold) would not. Each planned file lands in
    * [target, target + max_doc) bytes except the per-partition tail.
    * Output: one row per planned file with its doc count and bytes. */
  def compactionPlan(spark: SparkSession, sfDir: String,
      targetBytes: Long = COMPACT_TARGET): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(desc("n_chars"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("before", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("bin", expr(s"before div $targetBytes"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"),
        min("doc_id").as("first_doc"))
      .orderBy("lang", "bin")
  }

  /** [[featureBins]] bin count — shared with the oracle builder so
    * query and oracle cannot drift. */
  val BINS_N = 10

  /** Equal-frequency feature discretization: ntile([[nBins]]) of the
    * extended price (cents) per returnflag, reported as per-bin
    * occupancy and exact [lo, hi] cents range — the binning table a
    * feature-engineering pass materializes before bucketed encodes.
    * ntile is deterministic here because the window order is a total
    * order (cents, orderkey, linenumber), so both engines assign
    * identical bins.
    *
    * Scale: the per-flag sort is the exact gate-scale formulation; at
    * 100 TB the same operator runs as approx-quantile boundaries (the
    * `approx_quantiles` machinery) + a broadcast range assignment with
    * this schema unchanged — the classic exact/approx pairing this repo
    * ships for HLL and percentiles. */
  def featureBins(spark: SparkSession, sfDir: String,
      nBins: Int = BINS_N): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
    Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("price_cents"))
      .withColumn("bin", ntile(nBins).over(w).cast("long"))
      .groupBy("l_returnflag", "bin")
      .agg(count(lit(1)).as("n"),
        min("price_cents").as("lo"), max("price_cents").as("hi"))
      .orderBy("l_returnflag", "bin")
  }

  /** DuckDB twin of [[featureBins]] — ntile over the identical total
    * order. */
  def featureBinsOracle(nBins: Int = BINS_N): String =
    s"""WITH t AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT)
       |                  AS price_cents,
       |                  ntile($nBins) OVER (PARTITION BY l_returnflag
       |                    ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT),
       |                             l_orderkey, l_linenumber) AS bin
       |           FROM lineitem)
       |SELECT l_returnflag, CAST(bin AS BIGINT) AS bin, count(*) AS n,
       |       CAST(min(price_cents) AS BIGINT) AS lo,
       |       CAST(max(price_cents) AS BIGINT) AS hi
       |FROM t GROUP BY 1, 2 ORDER BY l_returnflag, bin""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of two event types, kept EXACT end-to-end: values
    * quantize to integer cents (the [[cents]] device — the shared
    * cross-engine quantizer), the two empirical CDFs are compared at
    * every distinct quantized value, and the KS distance is the
    * cross-multiplied deviation max|F_a − F_b| · n_a·n_b — an integer,
    * so no float CDF ever crosses engines. Output is ONE row: the two
    * sample sizes, the max deviation as exact digits (ks_num — exceeds
    * int64 once cum·n passes ~9·10¹⁸, so the FIXTURES.md typing rule
    * ships it as a digit string), the ppm-floored statistic
    * D_ppm = ks_num·10⁶ div (n_a·n_b) (non-negative magnitudes only
    * cross `div`, per the negative-// rule), and the smallest value at
    * which the max is attained (the deterministic argmax tie-break).
    *
    * Scale shape: ONE partial-aggregated scan bins both samples by
    * quantized value; every step after runs on the distinct-value
    * relation, which is DOMAIN-bounded (`value` ∈ [0.01, 490.02] →
    * ≤ 49,002 cent bins at ANY corpus size), so the single-partition
    * cumulative window is cells-sized by construction — the same
    * contract as [[statsChi2]]'s contingency windows. The argmax is a
    * TakeOrderedAndProject (per-partition bounded heap), never a full
    * sort. This is the distribution-drift test a data-quality gate
    * runs between two cohorts; [[driftFromBins]] is its coarse-bin PSI
    * sibling. */
  /** Shared two-sample binning over any events-shaped relation: ONE
    * partial-aggregated pass bins both samples by quantized value; the
    * result is domain-bounded (≤ 49,002 cent bins for `value` ∈
    * [0.01, 490.02]) at any corpus size. Counts, so ledgers of these
    * bins merge by ADDITION — the property [[graft.streaming.KsStream]]
    * rides for its slicing-independent incremental twin. */
  private[graft] def ksBinCounts(events: DataFrame,
      groupA: String = "click", groupB: String = "view"): DataFrame =
    events
      .filter(col("event_type").isin(groupA, groupB))
      .select(cents(col("value")).as("x"), col("event_type").as("g"))
      .groupBy("x")
      .agg(sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === groupB, 1L).otherwise(0L)).as("cb"))

  /** The deterministic KS tail from a `(x, ca, cb)` bin relation to the
    * one-row statistic — shared verbatim by [[statsKs]] and the
    * streaming ledger's snapshot reader, so stream and batch cannot
    * drift. */
  private[graft] def ksFromBins(bins: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val cum = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .select(col("x"),
        sum("ca").over(cum).as("cum_a"), sum("cb").over(cum).as("cum_b"),
        sum("ca").over(all).as("n_a"), sum("cb").over(all).as("n_b"))
      .select(col("x"), col("n_a"), col("n_b"),
        abs(d(col("cum_a")) * d(col("n_b")) - d(col("cum_b")) * d(col("n_a")))
          .as("dev"))
      .orderBy(col("dev").desc, col("x").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"),
        // hashed-output typing rule (FIXTURES.md, r12): exact digits as
        // a string; DECIMAL stays internal to the division
        col("dev").cast("string").as("ks_num"),
        expr("cast(case when n_a = 0 or n_b = 0 then 0 else " +
          "dev * 1000000 div (cast(n_a as decimal(38,0)) * n_b) end as bigint)")
          .as("ks_ppm"),
        col("x").as("x_at_max"))
  }

  def statsKs(spark: SparkSession, sfDir: String,
      groupA: String = "click", groupB: String = "view"): DataFrame =
    ksFromBins(ksBinCounts(Tables.events(spark, sfDir), groupA, groupB))

  /** DuckDB twin of [[statsKs]] — HUGEINT cross-multiplied deviations,
    * identical argmax tie-break, identical zero-sample guard. */
  def statsKsOracle(groupA: String = "click", groupB: String = "view"): String =
    s"""WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS x, event_type AS g
       |           FROM events WHERE event_type IN ('$groupA', '$groupB')),
       |c AS (SELECT x, sum(CASE WHEN g = '$groupA' THEN 1 ELSE 0 END) AS ca,
       |             sum(CASE WHEN g = '$groupB' THEN 1 ELSE 0 END) AS cb
       |      FROM e GROUP BY x),
       |w AS (SELECT x,
       |             sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |                           AND CURRENT ROW) AS cum_a,
       |             sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |                           AND CURRENT ROW) AS cum_b,
       |             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
       |      FROM c),
       |d AS (SELECT x, n_a, n_b,
       |             abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a) AS dev
       |      FROM w)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       CAST(dev AS VARCHAR) AS ks_num,
       |       CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
       |                 ELSE dev * 1000000 // (CAST(n_a AS HUGEINT) * n_b) END AS BIGINT)
       |         AS ks_ppm,
       |       x AS x_at_max
       |FROM d ORDER BY dev DESC, x LIMIT 1""".stripMargin

  /** Mann–Whitney U (rank-sum) statistic between the same two samples
    * as [[statsKs]], kept EXACT by counting pairwise comparisons on the
    * shared binned relation instead of averaging float ranks: with
    * per-bin counts ca/cb and the running cb prefix,
    * 2U = Σ_x ca(x)·(2·cum_b(x⁻) + cb(x)) — twice the "a beats b" pairs
    * plus the ties, an INTEGER identity equal to 2·(Σranks_a −
    * na(na+1)/2) under midrank tie handling. Ships 2U as exact digits
    * (it reaches na·nb ≈ 10²⁴ at 100 TB) plus the common-language
    * effect size U/(na·nb) — the probability a random `a` value
    * exceeds a random `b` — floored to ppm (auc_ppm: the two-sample
    * AUC). Only non-negative magnitudes cross `div`. The KS statistic
    * answers "do the distributions differ anywhere"; this one answers
    * "which one is stochastically larger, and by how much".
    *
    * Scale shape: identical to [[statsKs]] — one corpus scan into the
    * domain-bounded bins, then cells-sized windows and a 1-row
    * aggregate. */
  def statsMwu(spark: SparkSession, sfDir: String,
      groupA: String = "click", groupB: String = "view"): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val cum = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ksBinCounts(Tables.events(spark, sfDir), groupA, groupB)
      .select(col("ca"), col("cb"),
        (sum("cb").over(cum) - col("cb")).as("cum_b_lt"),
        sum("ca").over(all).as("n_a"), sum("cb").over(all).as("n_b"))
      .agg(coalesce(max("n_a"), lit(0L)).as("n_a"),
        coalesce(max("n_b"), lit(0L)).as("n_b"),
        coalesce(sum(d(col("ca")) * (d(col("cum_b_lt")) * 2 + d(col("cb")))),
          lit(0L).cast("decimal(38,0)")).as("u2"))
      .select(col("n_a"), col("n_b"),
        // hashed-output typing rule (FIXTURES.md, r12): exact digits as
        // a string; DECIMAL stays internal to the division
        col("u2").cast("string").as("u2"),
        expr("cast(case when n_a = 0 or n_b = 0 then 0 else " +
          "u2 * 1000000 div (cast(n_a as decimal(38,0)) * n_b * 2) end as bigint)")
          .as("auc_ppm"))
  }

  /** DuckDB twin of [[statsMwu]] — HUGEINT pairwise-count identity on
    * the identical binned relation. */
  def statsMwuOracle(groupA: String = "click", groupB: String = "view"): String =
    s"""WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS x, event_type AS g
       |           FROM events WHERE event_type IN ('$groupA', '$groupB')),
       |c AS (SELECT x, sum(CASE WHEN g = '$groupA' THEN 1 ELSE 0 END) AS ca,
       |             sum(CASE WHEN g = '$groupB' THEN 1 ELSE 0 END) AS cb
       |      FROM e GROUP BY x),
       |w AS (SELECT ca, cb,
       |             sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
       |                           AND CURRENT ROW) - cb AS cum_b_lt,
       |             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
       |      FROM c),
       |s AS (SELECT coalesce(max(n_a), 0) AS n_a, coalesce(max(n_b), 0) AS n_b,
       |             coalesce(sum(CAST(ca AS HUGEINT) * (CAST(cum_b_lt AS HUGEINT) * 2 + cb)),
       |                      0) AS u2
       |      FROM w)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       CAST(u2 AS VARCHAR) AS u2,
       |       CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
       |                 ELSE u2 * 1000000 // (CAST(n_a AS HUGEINT) * n_b * 2) END AS BIGINT)
       |         AS auc_ppm
       |FROM s""".stripMargin

  /** Welch's two-sample t statistic (unequal variances) between the
    * `value` distributions of two event types, EXACT in integer
    * arithmetic: values quantize to whole units (round(value) — the
    * coarser grid keeps every oracle intermediate inside int128 through
    * sf1, documented below), the per-group sufficient statistics
    * (n, Σx, Σx²) collect as TWO bounded rows, and
    *
    *   t² = (S₁n₂ − S₂n₁)²·(n₁−1)(n₂−1)
    *        / (A₁n₂²(n₂−1) + A₂n₁²(n₁−1)),   Aᵢ = nᵢQᵢ − Sᵢ²
    *
    * is evaluated driver-side in BigInt (the [[Similarity]] PCA
    * bounded-materialization class: 2 rows, 3 longs each, at any
    * corpus size) and emitted floored to milli units. The oracle
    * replays the identical value with HUGEINT plus the exact
    * remainder-split identity ⌊a·k/b⌋ = (a div b)·k + ((a mod b)·k
    * div b), which keeps every intermediate ≤ ~4·10³⁶ at sf1 (the
    * envelope: (S₁n₂)² ≈ 10³⁰ times (n−1)² ≈ 4·10¹⁰ — HUGEINT holds
    * 1.7·10³⁸; the Spark side has no envelope at all). Only
    * non-negative magnitudes cross any division — the numerator is a
    * SQUARE and Aᵢ ≥ 0 by Cauchy–Schwarz — so the negative-// rule
    * holds with no allowlist entry. Degenerate groups (n < 2, zero
    * pooled variance) emit 0 on both engines.
    *
    * Scale shape: ONE partial-aggregated scan (map-side combine to 2
    * groups), a 2-row collect, O(1) driver arithmetic. Welch's df is
    * deliberately NOT emitted: its exact rational needs aᵢ² ≈ 10⁶³ at
    * sf1 — outside int128, so no DuckDB replay could pin it; the
    * variance components it derives from ARE emitted.
    *
    * Two declared contracts (ADVICE r13): (1) the builder is EAGER —
    * constructing the query runs the corpus scan (the Similarity-PCA
    * precedent); callers that only want plan/schema inspection should
    * not construct it. (2) the ORACLE replays the t² floor through the
    * FACTORED route (VERDICT r14 task 6): the direct
    * t2num = dnum²·(n₁−1)(n₂−1) clears both (n−1) denominators into
    * int128 — ≈4·10³⁶ at sf1, and its ·1000 remainder step overflows
    * HUGEINT at sf10 — so the twin divides t2den by G = (n₁−1)(n₂−1)
    * up front and corrects with one exact remainder term (details at
    * [[statsWelchOracle]]); every sf10 intermediate is ≤ ~10³⁶
    * (measured: A ~ 10²⁸, W ~ 10²³, R₀·G ~ 10³⁶, q₀·F ~ 10¹⁹), the
    * envelope now failing only past ~sf30 (the aa·nb² product) or on
    * zero-variance degenerate corpora (q₀·F); the SPARK side (BigInt)
    * has no envelope, and [[graft.operators]] RelationalSpec pins the
    * factored identity against the direct formula on sf10-shaped
    * magnitudes. */
  def statsWelch(spark: SparkSession, sfDir: String,
      groupA: String = "purchase", groupB: String = "click"): DataFrame = {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(groupA, groupB))
      .select(col("event_type").as("g"),
        round(col("value"), 0).cast("long").as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("q"))
      .collect()
    def stat(g: String): (BigInt, BigInt, BigInt) =
      rows.find(_.getString(0) == g)
        .map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3))))
        .getOrElse((BigInt(0), BigInt(0), BigInt(0)))
    val (na, sa, qa) = stat(groupA)
    val (nb, sb, qb) = stat(groupB)
    val aa = na * qa - sa * sa
    val ab = nb * qb - sb * sb
    val meanPpm = (s: BigInt, n: BigInt) => if (n == 0) BigInt(0) else s * 1000000 / n
    val varMilli = (a: BigInt, n: BigInt) =>
      if (n < 2) BigInt(0) else a * 1000 / (n * n - n)
    val dnum = sa * nb - sb * na
    val t2num = dnum * dnum * (na - 1) * (nb - 1)
    val t2den = aa * nb * nb * (nb - 1) + ab * na * na * (na - 1)
    val t2Milli =
      if (na < 2 || nb < 2 || t2den == 0) BigInt(0) else t2num * 1000 / t2den
    Seq((na.toLong, nb.toLong, meanPpm(sa, na).toLong, meanPpm(sb, nb).toLong,
      varMilli(aa, na).toLong, varMilli(ab, nb).toLong, t2Milli.toLong))
      .toDF("n_a", "n_b", "mean_a_ppm", "mean_b_ppm",
        "var_a_milli", "var_b_milli", "t2_milli")
  }

  /** DuckDB twin of [[statsWelch]] — HUGEINT sufficient statistics,
    * identical guards, and the FACTORED t² floor (VERDICT r14 task 6):
    * with G = g1·g2 (gᵢ = nᵢ−1) and the exact floor/mod splits
    *
    *   aa·nb² = g1·u1 + r1,  ab·na² = g2·u2 + r2
    *   W = u1 + u2,  F = r1·g2 + r2·g1   (so t2den = W·G + F exactly)
    *   A = 1000·dnum²;  q0 = A div W,  R0 = A mod W
    *
    * the identity A·G = q0·t2den + (R0·G − q0·F) gives
    *
    *   t2_milli = floor(A·G / t2den) = q0 + floor((R0·G − q0·F)/t2den)
    *
    * unconditionally, with every sf10 intermediate ≤ ~10³⁶ where the
    * direct t2num·1000 needs 10³⁹ (outside HUGEINT). The one
    * negative-capable floor is expressed sign-separated
    * (floor(−M/D) = −1 − (M−1) div D for M ≥ 1) so `//` only ever
    * sees magnitudes — the FIXTURES.md negative-// rule. The W = 0
    * degenerate (near-zero variance) falls back to
    * floor(A·G/F) = G·(A div F) + (A mod F)·G div F, also
    * magnitude-only. */
  def statsWelchOracle(groupA: String = "purchase",
      groupB: String = "click"): String =
    s"""WITH e AS (SELECT event_type AS g, CAST(round(value, 0) AS BIGINT) AS x
       |           FROM events WHERE event_type IN ('$groupA', '$groupB')),
       |a AS (SELECT
       |        CAST(count(*) FILTER (WHERE g = '$groupA') AS HUGEINT) AS na,
       |        CAST(coalesce(sum(x) FILTER (WHERE g = '$groupA'), 0) AS HUGEINT) AS sa,
       |        CAST(coalesce(sum(x * x) FILTER (WHERE g = '$groupA'), 0) AS HUGEINT) AS qa,
       |        CAST(count(*) FILTER (WHERE g = '$groupB') AS HUGEINT) AS nb,
       |        CAST(coalesce(sum(x) FILTER (WHERE g = '$groupB'), 0) AS HUGEINT) AS sb,
       |        CAST(coalesce(sum(x * x) FILTER (WHERE g = '$groupB'), 0) AS HUGEINT) AS qb
       |      FROM e),
       |d AS (SELECT na, nb, sa, sb,
       |             na * qa - sa * sa AS aa, nb * qb - sb * sb AS ab,
       |             sa * nb - sb * na AS dnum,
       |             na - 1 AS g1, nb - 1 AS g2
       |      FROM a),
       |-- the factored pieces; the na/nb < 2 guards keep g1/g2 off the
       |-- divisors for degenerate groups (t2 is 0 there anyway)
       |f AS (SELECT na, nb, sa, sb, aa, ab, g1, g2, g1 * g2 AS gg,
       |             1000 * dnum * dnum AS biga,
       |             CASE WHEN na < 2 OR nb < 2 THEN 0 ELSE (aa * nb * nb) // g1 END AS u1,
       |             CASE WHEN na < 2 OR nb < 2 THEN 0 ELSE (aa * nb * nb) % g1 END AS r1,
       |             CASE WHEN na < 2 OR nb < 2 THEN 0 ELSE (ab * na * na) // g2 END AS u2,
       |             CASE WHEN na < 2 OR nb < 2 THEN 0 ELSE (ab * na * na) % g2 END AS r2
       |      FROM d),
       |g AS (SELECT *, u1 + u2 AS w, r1 * g2 + r2 * g1 AS fr FROM f),
       |h AS (SELECT *, w * gg + fr AS den,
       |             CASE WHEN w > 0 THEN biga // w ELSE 0 END AS q0,
       |             CASE WHEN w > 0 THEN biga % w ELSE 0 END AS r0
       |      FROM g),
       |t AS (SELECT na, nb, sa, sb, aa, ab,
       |             CASE WHEN na < 2 OR nb < 2 OR den = 0 THEN 0
       |                  WHEN w = 0 THEN gg * (biga // fr) + ((biga % fr) * gg) // fr
       |                  WHEN r0 * gg >= q0 * fr THEN q0 + (r0 * gg - q0 * fr) // den
       |                  ELSE q0 - 1 - (q0 * fr - r0 * gg - 1) // den END AS t2m
       |      FROM h)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |       CAST(CASE WHEN na = 0 THEN 0 ELSE sa * 1000000 // na END AS BIGINT)
       |         AS mean_a_ppm,
       |       CAST(CASE WHEN nb = 0 THEN 0 ELSE sb * 1000000 // nb END AS BIGINT)
       |         AS mean_b_ppm,
       |       CAST(CASE WHEN na < 2 THEN 0 ELSE aa * 1000 // (na * na - na) END AS BIGINT)
       |         AS var_a_milli,
       |       CAST(CASE WHEN nb < 2 THEN 0 ELSE ab * 1000 // (nb * nb - nb) END AS BIGINT)
       |         AS var_b_milli,
       |       CAST(t2m AS BIGINT) AS t2_milli
       |FROM t""".stripMargin

  /** DuckDB twin of [[compactionPlan]] — identical sort, identical
    * cumulative binning. */
  def compactionPlanOracle(targetBytes: Long = COMPACT_TARGET): String =
    s"""WITH c AS (SELECT lang, doc_id, n_chars,
       |             CAST(coalesce(sum(n_chars) OVER (
       |               PARTITION BY lang ORDER BY n_chars DESC, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |             AS before
       |           FROM documents)
       |SELECT lang, CAST(before // $targetBytes AS BIGINT) AS bin,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
       |       CAST(min(doc_id) AS BIGINT) AS first_doc
       |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin
}
