package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashOps
import graft.plans.HashedShingles
import graft.sources.Tables

/** Training-data pipeline operators over `documents`: token-budget
  * sequence packing, PII scrubbing, and stratified sampling. Extends the
  * reference's surface (SURVEY.md §2 absent-table — it ships raw CSV
  * points straight into the fit); these are the preparation steps an
  * LLM-scale corpus needs before any clustering/training pass.
  *
  * All three are deterministic (md5-derived hashes, fixed regexes), so
  * the DuckDB oracle reproduces them exactly.
  */
object Pipeline {

  /** Token-budget sequence packing (GPT-style concat-and-chunk
    * accounting): documents are sharded, concatenated in deterministic
    * order within each shard, and split at `budget`-token boundaries; a
    * document belongs to the sequence its first token lands in. Output:
    * per (shard, seq) document and token counts.
    *
    * Scale: the prefix sum is the only inherently sequential step, so it
    * runs per shard — one window partition each, never a global
    * ordering. `nShards` scales with the cluster (at 100 TB you'd use
    * ~10k shards so each shard's documents fit one task's sort); shards
    * pack independently, which is exactly how production packing runs.
    */
  def packSequences(spark: SparkSession, sfDir: String,
      budget: Long = 2048L, nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      // integer floor division — `div`, never Column '/' (double
      // roundtrip + truncation; see Joins.interval)
      .withColumn("seq", expr(s"(cum - n_tok) div $budget"))
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("shard", "seq")
  }

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+[0-9]+ \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"

  /** PII scrub: count and redact email addresses and phone numbers.
    * The synthetic corpus carries no PII, so the query plants a
    * deterministic contact line on a subset of documents first (emails on
    * doc_id % 3 != 0, phones on even doc_id) — the redaction counts then
    * prove the patterns actually fire, and the md5 of the scrubbed text
    * pins the replacement output exactly.
    *
    * Narrow per-row projection — no shuffle; at 100 TB this runs at scan
    * speed. Regexes stay in conservative char-class form so Java and the
    * oracle's RE2-style engine agree. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(col("text"),
      when(pmod(id, lit(3L)) > 0,
        concat(lit(" contact user"), id.cast("string"), lit("@mail.example")))
        .otherwise(lit("")),
      when(pmod(id, lit(2L)) === 0,
        concat(lit(" call +1 (555) 010-"),
          lpad(pmod(id, lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(aug, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    Tables(spark, sfDir, "documents")
      .select(id,
        regexp_count(aug, lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(aug, lit(PhoneRe)).cast("long").as("n_phones"),
        md5(scrubbed.cast("binary")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[piiScrub]] (regexp_replace needs the 'g' flag;
    * counts via regexp_extract_all). */
  def piiScrubOracle: String = {
    val aug = "text || CASE WHEN doc_id % 3 <> 0 THEN " +
      "' contact user' || doc_id || '@mail.example' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN ' call +1 (555) 010-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
       |       md5(regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
       |                          '$PhoneRe', '<PHONE>', 'g')) AS clean_hash
       |FROM a ORDER BY doc_id""".stripMargin
  }

  /** Per-language sampling rates in permille — upsample rare languages,
    * downsample the dominant one (the standard corpus-balancing move). */
  val StratPermille: Seq[(String, Long)] =
    Seq("en" -> 100L, "zh" -> 500L, "es" -> 300L, "de" -> 300L, "fr" -> 200L)
  val StratDefault = 250L

  /** Stratified deterministic sampling: keep a document iff the first 15
    * md5 nibbles of "strat:<doc_id>" fall under its language's permille
    * rate. Same idea as [[TextAnalysis.hashSample]] but with per-stratum
    * rates — reproducible (no RNG state), stable under re-partitioning
    * and task retries, and a narrow filter that pushes to the scan. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = coalesce(
      element_at(
        map(StratPermille.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*),
        col("lang")),
      lit(StratDefault))
    Tables(spark, sfDir, "documents")
      .filter(pmod(
        HashOps.wordHashN(concat(lit("strat:"), col("doc_id").cast("string")), 15),
        lit(1000L)) < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** C4-style cleaning funnel: the composite filter chain a real corpus
    * runs before training — length window, heuristic quality threshold,
    * language-ID confidence, exact-dedup survivorship — reported as a
    * survival funnel (docs and tokens remaining after each cumulative
    * stage).
    *
    * One pass computes every per-doc signal (narrow, codegen'd, reusing
    * [[TextAnalysis]] kernels); the dedup survivor flag is a min-over
    * md5(text) window (shuffle keyed by the 32-byte hash, never the
    * body); the funnel itself is an explode of 5 stage structs + one
    * hash aggregate. At 100 TB: one shuffle of (hash, id) pairs, one
    * aggregate — everything else reads at scan speed. */
  def cleanCorpus(spark: SparkSession, sfDir: String, minTok: Long = 20L,
      maxTok: Long = 1000L, minScore: Double = 0.5): DataFrame = {
    val byText = Window.partitionBy(md5(col("text").cast("binary")))
    val d = Tables(spark, sfDir, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      TextAnalysis.qualityScore(col("text")).as("score"),
      TextAnalysis.langPred(col("text")).as("lp"),
      min("doc_id").over(byText).as("keeper"))
    val lenOk = col("n_tok") >= minTok && col("n_tok") <= maxTok
    val qOk = lenOk && col("score") >= minScore
    val langOk = qOk && col("lp") =!= "und"
    val dedupOk = langOk && col("keeper") === col("doc_id")
    val stages = array(Seq(
      (1L, "all", lit(true)), (2L, "length", lenOk), (3L, "quality", qOk),
      (4L, "language", langOk), (5L, "dedup", dedupOk)).map { case (i, n, c) =>
      struct(lit(i).as("stage"), lit(n).as("name"), c.as("pass"))
    }: _*)
    d.select(explode(stages).as("s"), col("n_tok"))
      .filter(col("s.pass"))
      .groupBy(col("s.stage").as("stage"), col("s.name").as("name"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("stage")
  }

  /** DuckDB twin of [[stratifiedSample]]. */
  def stratifiedSampleOracle: String = {
    val cases = StratPermille
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, ${HashOps.wordHashSqlN(15)} AS hk,
       |         CASE lang $cases ELSE $StratDefault END AS rate
       |  FROM (SELECT doc_id, lang, md5('strat:' || doc_id) AS m FROM documents))
       |WHERE hk % 1000 < rate ORDER BY doc_id""".stripMargin
  }

  /** [[bottomKSample]] per-stratum sample size — shared with the
    * oracle builder so query and oracle cannot drift. */
  val BOTTOMK = 25

  /** Exact-k per-stratum reservoir via bottom-k hashing: the k documents
    * with the smallest md5 priority per language — the distributed
    * equivalent of a per-group reservoir sample (deterministic,
    * mergeable, exactly k rows per stratum). Where `sample_stratified`'s
    * Bernoulli permille keep yields a BINOMIAL sample size, bottom-k
    * guarantees the budget exactly — the contract a fixed-size eval or
    * annotation batch needs.
    *
    * Scale shape: [[Relational.topkPerGroup]]'s per-partition heaps
    * reduce every partition to ≤ k rows per stratum before the single
    * exchange (partitions·strata·k rows total) — no full sort, no
    * corpus-sized shuffle, the same posture as a streamed reservoir
    * merge at 1000 executors. */
  def bottomKSample(spark: SparkSession, sfDir: String,
      k: Int = BOTTOMK): DataFrame = {
    val pri = HashOps.wordHashN(
      concat(lit("res_"), col("doc_id").cast("string")), 15)
    val d = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"), pri.as("priority"))
    val ord = Seq(asc("priority"), asc("doc_id"))
    val w = Window.partitionBy("lang").orderBy(ord: _*)
    Relational.topkPerGroup(d, Seq(col("lang")), ord, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("priority"))
      .orderBy("lang", "rank")
  }

  /** DuckDB twin of [[bottomKSample]] — identical md5 priority, ranked
    * by a plain window (the oracle may sort; the engine may not). */
  def bottomKSampleOracle(k: Int = BOTTOMK): String =
    s"""SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id, priority FROM (
       |  SELECT lang, doc_id, priority, row_number() OVER (
       |           PARTITION BY lang ORDER BY priority, doc_id) AS rn
       |  FROM (SELECT lang, doc_id, ${HashOps.wordHashSqlN(15)} AS priority
       |        FROM (SELECT lang, doc_id, md5('res_' || doc_id) AS m FROM documents)))
       |WHERE rn <= $k ORDER BY lang, rank""".stripMargin

  /** [[weightedSample]] sample size — shared with the oracle builder. */
  val WEIGHTED_K = 30

  /** Weighted sampling WITHOUT replacement via rational priorities —
    * the deterministic face of Efraimidis–Spirakis (A-ES) reservoir
    * sampling: each document draws a 60-bit md5 "uniform" h and
    * competes with priority h div w (w = its token count), so a
    * document's chance of landing in the bottom-k grows with its
    * weight — the doc-length-proportional sampling a token-budgeted
    * eval batch wants. A-ES uses u^(1/w); the rational surrogate h/w
    * keeps the whole chain in exact integer division (identical
    * cross-engine, no pow/log), at the cost of the exact inclusion
    * law — the determinism contract every sampler here follows. h is
    * 60-bit (~1.15e18) and w ≥ 1, so h div w keeps ≥ 2^40 granularity
    * at any realistic doc length; ties break by doc_id.
    *
    * Scale shape: one narrow scan computes (w, h, priority);
    * `orderBy(...).limit(k)` plans TakeOrderedAndProject — per-partition
    * bounded top-k heaps merged on the driver, no full sort, no
    * corpus-sized shuffle (the [[bottomKSample]] posture, global). */
  def weightedSample(spark: SparkSession, sfDir: String,
      k: Int = WEIGHTED_K): DataFrame =
    rankReservoir(
      weightedPriorities(Tables(spark, sfDir, "documents")), k)

  /** `(doc_id, w, priority)` for a `(doc_id, text)` relation — the
    * rational-priority builder shared VERBATIM by [[weightedSample]]
    * and the streaming reservoir (`ReservoirStream`), so batch and
    * stream cannot drift (the dqStreamableRows convention). */
  private[graft] def weightedPriorities(docs: DataFrame): DataFrame = {
    val h = HashOps.wordHashN(
      concat(lit("wres_"), col("doc_id").cast("string")), 15)
    docs
      .select(col("doc_id"),
        greatest(size(split(col("text"), " ")).cast("long"), lit(1L)).as("w"),
        h.as("h"))
      .select(col("doc_id"), col("w"), expr("h div w").as("priority"))
  }

  /** Bottom-k of a priority relation, ranked — the reservoir finisher
    * shared by batch and stream. `orderBy(...).limit(k)` plans
    * TakeOrderedAndProject (per-partition bounded heaps, no full
    * sort). */
  private[graft] def rankReservoir(d: DataFrame, k: Int): DataFrame = {
    val win = Window.orderBy(asc("priority"), asc("doc_id"))
    d.orderBy(asc("priority"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(win).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("priority"))
      .orderBy("rank")
  }

  /** DuckDB twin of [[weightedSample]] — identical hash, weight and
    * rational priority; the oracle may sort the whole corpus. */
  def weightedSampleOracle(k: Int = WEIGHTED_K): String =
    s"""SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rank,
       |       doc_id, w, priority
       |FROM (SELECT doc_id, w, h // w AS priority FROM (
       |        SELECT doc_id, greatest(len(string_split(text, ' ')), 1) AS w,
       |               ${HashOps.wordHashSqlN(15)} AS h
       |        FROM (SELECT doc_id, text, md5('wres_' || doc_id) AS m FROM documents)))
       |ORDER BY priority, doc_id LIMIT $k""".stripMargin

  // ------------------------------------------- source-mixture planning

  /** Per-source mixing weights for [[mixtureSample]] (undeclared sources
    * get [[MixDefaultWeight]]) and the epoch document budget — shared
    * with the oracle builder so query and oracle cannot drift. */
  val MixWeights: Seq[(String, Long)] = Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L)
  val MixDefaultWeight = 1L
  val MixBudget = 200L

  /** Epoch-composition planning — the data-MIXING step of a training
    * pipeline (cf. the Pile / DoReMi-style fixed source weights): each
    * source receives an integer document quota proportional to its
    * declared weight (`budget·w // Σw` — exact, non-negative), and the
    * quota is filled by the source's bottom-`quota` md5-priority
    * documents (the [[bottomKSample]] reservoir device — deterministic,
    * partition/retry stable). Output per source: weight, availability,
    * quota, how many the source actually filled, and the exact
    * selected-id sum (pins the SELECTION, not just its size).
    *
    * Scale shape: one narrow scan builds (source, doc_id, priority);
    * per-partition top-k heaps cap every partition at budget rows per
    * source before the single exchange; the weight/total relation is
    * sources-sized and the 1-row Σw aggregate broadcast-cross-joins on
    * (PlanGateSpec-declared). */
  def mixtureSample(spark: SparkSession, sfDir: String,
      budget: Long = MixBudget): DataFrame = {
    val wcol = coalesce(
      element_at(
        map(MixWeights.flatMap { case (s, w) => Seq(lit(s), lit(w)) }: _*),
        col("source")),
      lit(MixDefaultWeight))
    val d = Tables(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        HashOps.wordHashN(concat(lit("mix_"), col("doc_id").cast("string")), 15)
          .as("priority"))
    val wt = d.groupBy("source").agg(count(lit(1)).as("n_avail"))
      .withColumn("weight", wcol)
    val tot = wt.agg(sum("weight").as("wsum"))
    val quotas = wt.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"$budget * weight div wsum"))
      .select("source", "weight", "n_avail", "quota")
    val ord = Seq(asc("priority"), asc("doc_id"))
    val w = Window.partitionBy("source").orderBy(ord: _*)
    val ranked = Relational.topkPerGroup(d, Seq(col("source")), ord, budget.toInt)
      .withColumn("rnk", row_number().over(w).cast("long"))
    val sel = ranked
      .join(broadcast(quotas.select("source", "quota")), "source")
      .filter(col("rnk") <= col("quota"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("doc_id").as("sel_docid_sum"))
    quotas.join(sel, Seq("source"), "left")
      .na.fill(0L, Seq("n_selected", "sel_docid_sum"))
      .select(col("source"), col("weight"), col("n_avail"), col("quota"),
        col("n_selected"), col("sel_docid_sum"))
      .orderBy("source")
  }

  /** DuckDB twin of [[mixtureSample]] — identical weights, quota
    * arithmetic, priority kernel and tie-breaks. */
  def mixtureSampleOracle(budget: Long = MixBudget): String = {
    val cases = MixWeights
      .map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ")
    s"""WITH d AS (SELECT source, doc_id, ${HashOps.wordHashSqlN(15)} AS priority
       |           FROM (SELECT source, doc_id, md5('mix_' || doc_id) AS m FROM documents)),
       |wt AS (SELECT source, CASE source $cases ELSE $MixDefaultWeight END AS weight,
       |              count(*) AS n_avail
       |       FROM d GROUP BY source),
       |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM wt),
       |q AS (SELECT wt.source, wt.weight, wt.n_avail,
       |             CAST($budget * wt.weight // tot.wsum AS BIGINT) AS quota
       |      FROM wt CROSS JOIN tot),
       |r AS (SELECT source, doc_id, row_number() OVER (
       |        PARTITION BY source ORDER BY priority, doc_id) AS rnk FROM d),
       |sel AS (SELECT r.source, count(*) AS n_selected, sum(r.doc_id) AS sel_docid_sum
       |        FROM r JOIN q ON r.source = q.source AND r.rnk <= q.quota
       |        GROUP BY r.source)
       |SELECT q.source, CAST(q.weight AS BIGINT) AS weight,
       |       CAST(q.n_avail AS BIGINT) AS n_avail, q.quota,
       |       CAST(coalesce(sel.n_selected, 0) AS BIGINT) AS n_selected,
       |       CAST(coalesce(sel.sel_docid_sum, 0) AS BIGINT) AS sel_docid_sum
       |FROM q LEFT JOIN sel ON q.source = sel.source
       |ORDER BY q.source""".stripMargin
  }

  // ------------------------------------------- importance resampling (DSIR)

  /** Target-slice selector for [[importanceSample]]: a deterministic
    * hash-free split (doc_id % 7 == 0) standing in for the "high-quality
    * reference corpus" a real DSIR run scores against. */
  val ImportanceTargetMod = 7L

  /** DSIR-style importance resampling (Xie et al. 2023's
    * data-selection-by-importance-resampling shape, unigram flavor):
    * score every document by the mean likelihood ratio of its tokens
    * under the TARGET unigram distribution vs the corpus distribution,
    * then keep documents with probability proportional to the capped
    * ratio — deterministically, via the same md5-permille device as the
    * other sampling ops (reproducible, partition/retry stable).
    *
    * Arithmetic: per-word ratio r(w) = (cf_t(w)·N_c) / (cf_c(w)·N_t)
    * from EXACT integer counts (every target token is by construction a
    * corpus token, so no smoothing is needed; words absent from the
    * target get r = 0); per-doc importance = round-6 mean of r over
    * token occurrences (the same probability-space convention as
    * `text_lm_score`). keep-rate permille = min(1000, importance·500) —
    * an integer comparison both engines evaluate identically.
    *
    * Scale shape: two token explodes total — one building the
    * word-keyed count relation `cf` (corpus cf + target cf in a single
    * aggregate, persisted: it is vocab-sized, safe to cache at any
    * corpus scale), one for the join back to occurrences. The 1-row
    * totals fold the persisted `cf` (sum(cfc)/sum(cft) ≡ the token
    * counts) rather than re-scanning the corpus, and ride a broadcast
    * cross join. Nothing driver-side; vocab-sized relations shuffle,
    * never the corpus bodies. */
  def importanceSample(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val isTarget = col("doc_id") % ImportanceTargetMod === 0
    val cf = tok.groupBy("w").agg(
      count(lit(1)).as("cfc"),
      sum(when(isTarget, 1L).otherwise(0L)).as("cft"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = cf.agg(
      sum("cfc").as("n_c"),
      sum("cft").as("n_t"))
    val r = tok.join(cf, "w")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        // promote to DOUBLE before either product: cft·n_c as
        // BIGINT·BIGINT overflows Long at ~1e13-token corpora (Spark
        // wraps silently, DuckDB raises — divergent). Double keeps the
        // ratio exact here anyway: both factors stay well under 2^53
        (col("cft") * lit(1.0) * col("n_c") / (col("cfc") * lit(1.0) * col("n_t"))).as("r"))
    r.groupBy("doc_id")
      .agg(round(avg("r"), 6).as("importance"))
      .select(col("doc_id"), col("importance"),
        // floor() explicitly: Spark's double→long cast truncates while
        // DuckDB's rounds — floor on both sides is the shared semantics
        (pmod(HashOps.wordHashN(concat(lit("imp:"), col("doc_id").cast("string")), 15),
          lit(1000L)) <
          floor(least(lit(1000.0), col("importance") * 500)).cast("long"))
          .cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** Temperature-based source-mixture rebalancing (the multilingual
    * sampling step of mBERT/XLM-R-style pipelines: sample languages
    * ∝ share^(1/T) to up-weight the tail): per-language keep rates for
    * a half-corpus budget at T = 2 — chosen because p^(1/2) = sqrt is
    * IEEE-correctly-rounded, so both engines derive bit-identical
    * mixture weights from the same integer counts (a pow-based T would
    * ride libm differences). keep_permille_g =
    * min(1000, floor(round(1000·(N/2)·(sqrt(n_g)/Z)/n_g, 6))) with
    * Z = Σ sqrt(n_h); the per-doc admit is the shared md5-permille
    * device (reproducible, partition/retry stable).
    *
    * Scale shape: counts are a lang-sized aggregate (broadcast), the
    * totals a 1-row broadcast cross join — the corpus never reshuffles;
    * the decision projection is one narrow codegen pass. */
  def temperatureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
    // Z = Σ sqrt(n_g) is an order-dependent double sum: Spark's partial-
    // agg combine order and DuckDB's scan order can differ in the last
    // ulp and flip floor(round(·,6)) exactly at a permille boundary
    // (ADVICE r8). Pin it: collect the lang-sized counts (bounded — one
    // row per language, single digits here, thousands at worst in a real
    // corpus) and fold sqrt in sorted-lang order on the driver; both the
    // plan and the oracle then carry the SAME (n, z) literals, so the
    // rate arithmetic is bit-identical across engines.
    val (n, z) = tempStats(spark, sfDir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_g"))
    val rates = counts
      .select(col("lang"), col("n_g"),
        least(lit(1000L),
          floor(round(lit(1000.0) * (lit(n) * lit(0.5)) *
            (sqrt(col("n_g")) / lit(z)) / col("n_g"), 6)).cast("long"))
          .as("keep_permille"))
    docs.join(broadcast(rates.select("lang", "keep_permille")), "lang")
      .select(col("doc_id"), col("lang"), col("keep_permille"),
        (pmod(HashOps.wordHashN(concat(lit("temp:"), col("doc_id").cast("string")), 15),
          lit(1000L)) < col("keep_permille")).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** (total docs, Z = Σ_g sqrt(n_g) folded in sorted-lang order) for
    * `sfDir` — memoized so the oracles replay the exact literals the
    * plan used ([[frozenTempStats]]). */
  private def tempStats(spark: SparkSession, sfDir: String): (Long, Double) =
    tempReg(sfDir) {
      val counts = Tables(spark, sfDir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_g"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1)
      (counts.map(_._2).sum,
        counts.foldLeft(0.0) { case (acc, (_, ng)) => acc + math.sqrt(ng.toDouble) })
    }
  private val tempReg = new graft.sources.Memo[String, (Long, Double)]("tempstats")

  /** The (n, Z) literals frozen for `sfDir` — for oracle builders
    * outside this object. A temperature-rated query
    * ([[temperatureSample]], [[pipelineE2e]]) must have run on `sfDir`
    * in this JVM (`IllegalStateException` otherwise). */
  private[graft] def frozenTempStats(sfDir: String): (Long, Double) = tempReg.stored(sfDir)

  /** DuckDB twin of [[temperatureSample]] — identical expression order
    * in the rate arithmetic, with (n, z) frozen to the literals the plan
    * used for `sfDir` (`java.lang.Double.toString` is the shortest
    * round-trip form, so DuckDB parses back the identical double). */
  def temperatureSampleOracle(sfDir: String): String = {
    val (n, z) = frozenTempStats(sfDir)
    s"""WITH d AS (SELECT doc_id, lang FROM documents),
       |c AS (SELECT lang, count(*) AS n_g FROM d GROUP BY lang),
       |rates AS (SELECT c.lang, c.n_g,
       |                 least(1000, CAST(floor(round(1000.0 * ($n * 0.5)
       |                   * (sqrt(c.n_g) / $z) / c.n_g, 6)) AS BIGINT)) AS keep_permille
       |          FROM c),
       |k AS (SELECT doc_id, lang, keep_permille, ${HashOps.wordHashSqlN(15)} AS hk
       |      FROM (SELECT d.doc_id, d.lang, r.keep_permille, md5('temp:' || d.doc_id) AS m
       |            FROM d JOIN rates r USING (lang)))
       |SELECT doc_id, lang, keep_permille,
       |       CAST(hk % 1000 < keep_permille AS BIGINT) AS kept
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- composed E2E funnel

  /** End-to-end training-data pipeline as ONE composed plan: clean
    * (length + quality + language) → decontaminate (eval split out,
    * 8-gram leaks out) → dedup (exact keeper + MinHash-LSH loser drop)
    * → temperature-balance → pack — emitting the per-stage survival
    * funnel `(stage, name, n_docs, n_tokens)`, with stage 6 reporting
    * the packed SEQUENCE count over the survivors (its n_tokens equals
    * stage 5's: packing must conserve tokens). Proves the pipeline
    * stages compose without re-reading the corpus: the base projection
    * is persisted and every signal (quality scores, eval grams, shingle
    * signatures, mixture rates) derives from it — ONE parquet scan
    * feeds all stages.
    *
    * Flag semantics (full-corpus, matching each standalone operator):
    * the exact keeper is min doc_id per identical text; MinHash losers
    * are each pair's doc_b over the FULL corpus pairs
    * ([[Dedup.minhashLSH]]'s exact output); temperature rates come from
    * the frozen (n, Z) literals ([[temperatureSample]]'s memo).
    *
    * Scale shape: the base persists once; signals are one narrow
    * codegen pass + the md5-keyed keeper window; decontamination's
    * gram join broadcasts the benchmark-sized eval gram set; the
    * MinHash leg is the standalone operator's bounded-bucket pipeline;
    * everything else joins on doc_id. Stage accounting is an explode
    * of 5 stage structs + one hash aggregate, as [[cleanCorpus]]. */
  def pipelineE2e(spark: SparkSession, sfDir: String,
      minTok: Long = 20L, maxTok: Long = 1000L, minScore: Double = 0.5,
      budget: Long = 2048L, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byText = Window.partitionBy(md5(col("text").cast("binary")))
    val sig0 = base.select(
      col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      TextAnalysis.qualityScore(col("text")).as("score"),
      TextAnalysis.langPred(col("text")).as("lp"),
      min("doc_id").over(byText).as("keeper"),
      evalFlag.as("is_eval"))
    // decontamination: docs sharing any 8-gram with the eval split
    val grams = column(graft.plans.HashedShingles(
      expression(split(col("text"), " ")), DecontamGram))
    val g = base.select(col("doc_id"), evalFlag.as("is_eval"),
      explode(grams).as("gh"))
    val evalGrams = g.filter(col("is_eval")).select("gh").distinct()
    val leaked = g.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "gh").select("doc_id").distinct()
      .withColumn("leak", lit(true))
    // near-dup losers: doc_b of every full-corpus MinHash-LSH pair
    val hs = base.select(col("doc_id"),
      column(graft.plans.HashedShingles(
        expression(split(col("text"), " ")), 3)).as("hsh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val losers = Dedup.minhashLSHFrom(hs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("mh_dup", lit(true))
    // temperature keep decision from the frozen (n, Z) literals
    val (n, z) = tempStats(spark, sfDir)
    val rates = base.groupBy("lang").agg(count(lit(1)).as("n_g"))
      .select(col("lang"),
        least(lit(1000L),
          floor(round(lit(1000.0) * (lit(n) * lit(0.5)) *
            (sqrt(col("n_g")) / lit(z)) / col("n_g"), 6)).cast("long"))
          .as("keep_permille"))
    val sig = sig0
      .join(leaked, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(broadcast(rates), Seq("lang"))
      .withColumn("temp_kept",
        pmod(HashOps.wordHashN(concat(lit("temp:"), col("doc_id").cast("string")), 15),
          lit(1000L)) < col("keep_permille"))
    val clean = col("n_tok") >= minTok && col("n_tok") <= maxTok &&
      col("score") >= minScore && col("lp") =!= "und"
    val decon = clean && !col("is_eval") && col("leak").isNull
    val dedup = decon && col("keeper") === col("doc_id") && col("mh_dup").isNull
    val bal = dedup && col("temp_kept")
    val stages = array(Seq(
      (1L, "all", lit(true)), (2L, "clean", clean), (3L, "decontam", decon),
      (4L, "dedup", dedup), (5L, "balance", bal)).map { case (i, nm, c) =>
      struct(lit(i).as("stage"), lit(nm).as("name"), c.as("pass"))
    }: _*)
    val funnel = sig.select(explode(stages).as("s"), col("n_tok"))
      .filter(col("s.pass"))
      .groupBy(col("s.stage").as("stage"), col("s.name").as("name"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val surv = sig.filter(bal).select(col("doc_id"), col("n_tok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = surv
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        col("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("seq", expr(s"(cum - n_tok) div $budget"))
      .groupBy("shard", "seq").agg(sum("n_tok").as("tkn"))
      // coalesce: zero survivors → (0, 0), not (0, null), both engines
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("tkn"), lit(0L)).as("n_tokens"))
      .select(lit(6L).as("stage"), lit("packed").as("name"),
        col("n_docs"), col("n_tokens"))
    funnel.unionByName(packed).orderBy("stage")
  }

  /** DuckDB twin of [[importanceSample]]. */
  def importanceSampleOracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tot AS (SELECT count(*) AS n_c,
       |               sum(CASE WHEN doc_id % $ImportanceTargetMod = 0 THEN 1 ELSE 0 END) AS n_t
       |        FROM tok),
       |cf AS (SELECT w, count(*) AS cfc,
       |              sum(CASE WHEN doc_id % $ImportanceTargetMod = 0 THEN 1 ELSE 0 END) AS cft
       |       FROM tok GROUP BY w),
       |r AS (SELECT t.doc_id, cf.cft * 1.0 * tot.n_c / (cf.cfc * 1.0 * tot.n_t) AS r
       |      FROM tok t JOIN cf USING (w) CROSS JOIN tot),
       |imp AS (SELECT doc_id, round(avg(r), 6) AS importance FROM r GROUP BY doc_id),
       |k AS (SELECT doc_id, importance, ${HashOps.wordHashSqlN(15)} AS hk
       |      FROM (SELECT doc_id, importance, md5('imp:' || doc_id) AS m FROM imp))
       |SELECT doc_id, importance,
       |       CAST(hk % 1000 < CAST(floor(least(1000.0, importance * 500)) AS BIGINT) AS BIGINT) AS kept
       |FROM k ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ decontamination

  /** Word n-gram length for contamination matching (8 is the common
    * published choice, e.g. GPT-3 appendix C uses 13-gram/8-gram family
    * filters) and the eval-split rate in permille. */
  val DecontamGram = 8
  val DecontamEvalPermille = 50L

  private def evalFlag: Column = pmod(
    HashOps.wordHashN(concat(lit("eval:"), col("doc_id").cast("string")), 15),
    lit(1000L)) < DecontamEvalPermille

  /** Benchmark decontamination: flag training documents that share any
    * word 8-gram with a held-out eval split (a deterministic 5% hash
    * split of the corpus stands in for the benchmark set). Output: each
    * contaminated training doc with its count of distinct leaked 8-grams.
    *
    * The reference ships whatever CSV it is given straight into the fit;
    * decontamination is table stakes for a real training corpus. Scale
    * shape: grams travel as 60-bit md5 hashes (never the strings), the
    * eval gram set is benchmark-sized at ANY corpus scale — so the join
    * is a broadcast hash join against the full-corpus gram stream and
    * the only shuffle is the final per-doc count (doc_id, long) pairs. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    // one md5 per DISTINCT gram via the native shingle kernel — the HOF
    // form (transform + wordHashN) re-evaluates md5 per extracted nibble
    // inside an interpreted lambda: measured 47.6 s vs 1.8 s at sf0.1
    val grams = column(HashedShingles(
      expression(split(col("text"), " ")), DecontamGram))
    // deliberately NOT persisted: the is_eval/!is_eval filters push
    // below the explode, so the two branches hash DISJOINT doc subsets
    // (5% + 95% = one full sweep total) — a persist would materialize
    // token-scale rows to save zero recompute (measured: no change at
    // sf0.1)
    val g = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), evalFlag.as("is_eval"), explode(grams).as("gh"))
    val evalGrams = g.filter(col("is_eval")).select("gh").distinct()
    g.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_leaked_grams"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[decontaminate]] — same md5-derived gram hashes. */
  def decontaminateOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |                  (${HashOps.wordHashSqlN(15)}) % 1000
       |                    < $DecontamEvalPermille AS is_eval,
       |                  string_split(text, ' ') AS t
       |           FROM (SELECT *, md5('eval:' || doc_id) AS m FROM documents)),
       |g0 AS (SELECT doc_id, is_eval,
       |              list_distinct(list_transform(
       |                generate_series(1, len(t) - ${DecontamGram - 1}),
       |                i -> array_to_string(t[i:i+${DecontamGram - 1}], ' '))) AS gs
       |       FROM d WHERE len(t) >= $DecontamGram),
       |g AS (SELECT doc_id, is_eval, ${HashOps.wordHashSqlN(15)} AS gh
       |      FROM (SELECT doc_id, is_eval, md5(unnest(gs)) AS m FROM g0)),
       |ev AS (SELECT DISTINCT gh FROM g WHERE is_eval)
       |SELECT doc_id, count(*) AS n_leaked_grams
       |FROM g JOIN ev USING (gh) WHERE NOT is_eval
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- repetition filtering

  /** Gopher-style repetition quality signals per document: the fraction
    * of tokens taken by the single most frequent token, and the fraction
    * of bigram occurrences whose bigram occurs more than once (Rae et al.
    * 2021 §A1.1 use exactly this duplicate-n-gram-fraction family to cut
    * degenerate/boilerplate text).
    *
    * Two partial-aggregated shuffles keyed by (doc_id, gram) then doc_id —
    * group cardinality is per-document vocabulary, so partitions stay
    * bounded at any corpus size and AQE coalesces the tails. */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val ws = d.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"), sum("c").as("tot"))
    val bigrams = when(size(col("t")) >= 2,
      transform(sequence(lit(1), size(col("t")) - 1),
        i => concat(element_at(col("t"), i), lit(" "), element_at(col("t"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val bs = d.select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"),
        sum("c").as("btot"))
    ws.join(bs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(col("mx") * lit(1.0) / col("tot"), 6).as("top_tok_frac"),
        round(coalesce(col("dup"), lit(0L)) * lit(1.0)
          / coalesce(col("btot"), lit(1L)), 6).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[repetitionStats]]. */
  def repetitionStatsOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS c
      |       FROM (SELECT doc_id, unnest(t) AS w FROM d) GROUP BY 1, 2),
      |ws AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM wc GROUP BY 1),
      |bg AS (SELECT doc_id, g, count(*) AS c FROM (
      |         SELECT doc_id, unnest(CASE WHEN len(t) >= 2
      |           THEN list_transform(generate_series(1, len(t) - 1),
      |                               i -> t[i] || ' ' || t[i+1])
      |           ELSE [] END) AS g FROM d) GROUP BY 1, 2),
      |bs AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
      |              sum(c) AS btot FROM bg GROUP BY 1)
      |SELECT w.doc_id, round(mx * 1.0 / tot, 6) AS top_tok_frac,
      |       round(coalesce(dup, 0) * 1.0 / coalesce(btot, 1), 6) AS dup_bigram_frac
      |FROM ws w LEFT JOIN bs USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- train/val/test split

  /** Permille boundaries of the deterministic corpus split: ids hashing
    * below 800 train, below 900 validation, the rest test. */
  val SplitTrainPermille = 800
  val SplitValPermille = 900

  /** Deterministic train/validation/test corpus split: every document
    * lands in exactly one split by a salted content-independent id hash
    * (`md5("split:" || doc_id)` permille — the [[decontaminate]] eval-
    * split device), so the assignment is STABLE under corpus growth: a
    * document never migrates between splits when new data arrives, the
    * property that keeps eval sets uncontaminated across corpus
    * versions (id-range or row-number splits reshuffle on every
    * ingest). Output pins every assignment via per-(split, source)
    * document counts and exact character sums — any flipped document
    * moves two sums.
    *
    * Scale shape: one narrow projection (hash, compare) + one
    * map-side-combinable aggregate to a splits×sources-sized result;
    * no shuffle wider than the 15-row output at any corpus size. */
  def hashSplits(spark: SparkSession, sfDir: String): DataFrame = {
    val hv = pmod(HashOps.wordHashN(
      concat(lit("split:"), col("doc_id").cast("string")), 15), lit(1000L))
    val split = when(hv < SplitTrainPermille, lit("train"))
      .when(hv < SplitValPermille, lit("val")).otherwise(lit("test"))
    Tables(spark, sfDir, "documents")
      .select(split.as("split"), col("source"), col("n_chars"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
      .orderBy("split", "source")
  }

  /** DuckDB twin of [[hashSplits]] — identical salted md5 permille. */
  def hashSplitsOracle: String =
    s"""WITH d AS (SELECT source, n_chars,
       |                  (${HashOps.wordHashSqlN(15)}) % 1000 AS hv
       |           FROM (SELECT *, md5('split:' || doc_id) AS m FROM documents)),
       |s AS (SELECT CASE WHEN hv < $SplitTrainPermille THEN 'train'
       |                  WHEN hv < $SplitValPermille THEN 'val'
       |                  ELSE 'test' END AS split,
       |             source, n_chars
       |      FROM d)
       |SELECT split, source, count(*) AS docs,
       |       CAST(sum(n_chars) AS BIGINT) AS chars
       |FROM s GROUP BY 1, 2 ORDER BY split, source""".stripMargin
}
