package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Byte-pair-encoding subword tokenization (Sennrich et al., ACL 2016)
  * — the token denomination a real LLM pipeline packs and budgets in,
  * next to the whitespace-word counts the rest of [[Pipeline]] uses
  * (BPE counts run 1.3-3× words and move packing boundaries).
  *
  * Two phases, mirroring production tokenizers:
  *
  *  - '''Train''' (once per corpus, frozen): greedy BPE over the corpus
  *    word-frequency table — repeatedly merge the most frequent adjacent
  *    symbol pair (ties: lexicographically smallest pair), stop at
  *    [[NMerges]] merges or when no pair repeats. The word-frequency
  *    table is VOCABULARY-sized (thousands of rows at any corpus scale,
  *    one Spark aggregate), so training collects it to the driver — the
  *    [[graft.kmeans.FitFinal]] bounded-materialization convention — and
  *    the learned vocab freezes into a per-corpus memo, so the DuckDB
  *    oracle ([[oracleSqls]]) replays the encode from identical
  *    literals.
  *
  *  - '''Encode''' (distributed): deterministic greedy LONGEST-MATCH
  *    scan against the frozen vocab (the WordPiece-style inference pass;
  *    exact merge-order replay would encode identically for every token
  *    the trainer actually produced, and longest-match is the form both
  *    engines express — Spark as an `aggregate` higher-order fold per
  *    word, DuckDB as a recursive CTE whose level count is bounded by
  *    word LENGTH). Encoding runs once per DISTINCT word — the
  *    vocabulary relation, orders of magnitude smaller than the corpus —
  *    and joins back to the token stream by word, so the corpus body
  *    never re-tokenizes per occurrence. Every character of the training
  *    corpus is a vocab token by construction (asserted at train time),
  *    so the greedy scan is total: each step consumes ≥ 1 char.
  *
  * Scale shape: one token explode feeding a word-keyed aggregate
  * (distinct words), the per-word fold over ≤ len(word) steps, then one
  * broadcast join back to the exploded token stream and a doc-keyed
  * aggregate. At 100 TB the distinct-word relation still fits a
  * broadcast for natural-language corpora (vocab growth is sublinear in
  * corpus size); if it ever didn't, the join degrades gracefully to a
  * word-keyed shuffle of (word, ids) pairs — never the document bodies.
  */
object Bpe {

  /** Merge budget — small enough that common words stay multi-token at
    * the gate corpus (the interesting regime for packing), large enough
    * that frequent pairs merge. */
  val NMerges = 20

  /** Token budget per packed sequence for [[packSequencesBpe]] — same
    * budget as [[Pipeline.packSequences]], now denominated in BPE
    * tokens. */
  val BpeBudget = 2048L

  /** A frozen tokenizer: `vocab` in id order (single chars first, then
    * merge outputs in creation order, first-win on duplicates). */
  final case class Model(vocab: Seq[(String, Long)], nMergesDone: Int) {
    /** Vocab sorted for the greedy scan: length desc, then token asc —
      * the FIRST match at a position is the longest (unique per length:
      * the matching token of length L is determined by the text). */
    val byLenDesc: Seq[(String, Long)] =
      vocab.sortBy { case (t, _) => (-t.length, t) }
  }

  /** Greedy BPE training over `(word, frequency)` rows. Deterministic:
    * pair counts fold over words in sorted order, the winning pair is
    * max-count then lexicographically smallest, and merges apply
    * left-to-right non-overlapping. Stops early when no adjacent pair
    * occurs at least twice (weighted). */
  private[operators] def train(wordFreqs: Seq[(String, Long)],
      nMerges: Int = NMerges): Model = {
    val sorted = wordFreqs.sortBy(_._1)
    val chars = sorted.flatMap(w => codePoints(w._1)).distinct.sorted
    var seqs = sorted.map { case (w, f) => (codePoints(w), f) }
    val merges = Seq.newBuilder[(String, String)]
    var done = 0
    var stop = false
    while (done < nMerges && !stop) {
      val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      for ((syms, f) <- seqs; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
      val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some((pair @ (a, b), c)) if c >= 2 =>
          merges += pair
          seqs = seqs.map { case (syms, f) => (applyMerge(syms, a, b), f) }
          done += 1
        case _ => stop = true
      }
    }
    val toks = (chars ++ merges.result().map { case (a, b) => a + b }).distinct
    val model = Model(toks.zipWithIndex.map { case (t, i) => (t, i.toLong) }, done)
    // encode-totality invariant: every corpus code point is a vocab
    // token (code POINTS, not UTF-16 units — an astral char is one
    // two-unit token)
    val tokSet = model.vocab.map(_._1).toSet
    require(sorted.forall(w => codePoints(w._1).forall(tokSet)),
      "BPE train: corpus char missing from vocab")
    model
  }

  /** Split into code points, each as a String — the SAME unit the
    * distributed trainer's `split(w, '')` produces (a Java empty-regex
    * split never separates a surrogate pair), so the two trainer paths
    * learn identical symbol inventories on any charset, astral plane
    * included (ADVICE r14: the old `w.map(_.toString)` split UTF-16
    * code units and diverged on non-BMP text). */
  private def codePoints(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** One left-to-right non-overlapping merge application. */
  private def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Distinct-word ceiling for the driver-collected trainer. Under it
    * the word-frequency table collects (≤ ~40 MB — the
    * [[graft.kmeans.FitFinal]] bounded-materialization convention) and
    * [[train]] runs driver-side; ABOVE it [[trainDistributed]] keeps
    * the table in Spark and the driver only ever sees one argmax pair
    * per merge round — web-scale corpora reach 10⁸-10⁹ distinct
    * "words" after whitespace split, and an unbounded collect there is
    * a driver OOM (VERDICT r13 task 3). Same local/distributed gate
    * shape as [[Dedup.COMPONENTS_LOCAL_EDGES]]. Env-overridable for
    * scale measurements (`GRAFT_BPE_LOCAL_MAX_WORDS`), clamped below
    * Int.MaxValue: the gate probes with a `limit(max + 1)` collect,
    * which is Int-sized — a configured max at or above Int.MaxValue
    * could never be probed (the +1 row is unrepresentable), so a
    * larger corpus would silently local-train on a truncated word set,
    * and Long.MaxValue would overflow the limit to a negative value
    * and throw (ADVICE r15). */
  val TrainLocalMaxWords: Long =
    math.min(sys.env.get("GRAFT_BPE_LOCAL_MAX_WORDS").map(_.toLong)
      .getOrElse(1000000L), Int.MaxValue - 1L)

  /** Frozen tokenizer for `sfDir` — trained once per JVM from the
    * corpus word-frequency table, shared by the queries and their
    * oracles ([[oracleSqls]]). Driver-side under
    * [[TrainLocalMaxWords]] distinct words, Spark-side above — the two
    * paths learn IDENTICAL models (spec-pinned: same pair counts, same
    * (count desc, pair asc) argmax, same left-to-right merge). */
  private[graft] def model(spark: SparkSession, sfDir: String): Model =
    reg(sfDir) {
      // empty words (consecutive/leading/trailing spaces) are dropped
      // EVERYWHERE — train, encode, and both oracle CTE chains: the
      // oracle's recursion produces no id rows for '' so its enc CTE
      // loses those positions while the Spark fold kept an n_tok=0 row
      // that still joined and counted (ADVICE r10). One convention,
      // filtered identically on both engines.
      val wfDf = Tables(spark, sfDir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
      // gate + training input in ONE action (ADVICE r14: a count()
      // probe followed by collect() ran the corpus aggregate twice):
      // limit(max+1) returning ≤ max rows proves the limit captured
      // the whole table, and those rows ARE the training input
      val probe = wfDf
        .limit(math.min(TrainLocalMaxWords + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (probe.length <= TrainLocalMaxWords)
        train(probe.map(r => (r.getString(0), r.getLong(1))).toSeq)
      else trainDistributed(spark, wfDf)
    }

  /** [[train]] with the corpus-sized state kept in Spark: the
    * word-frequency table never collects. Per merge round ONE
    * adjacent-pair explode + hash aggregate (map-side combined; the
    * shuffle carries distinct PAIRS, vocabulary-bounded) finds the max
    * count, and the lexicographically-smallest tied-at-max pair
    * reduces IN SPARK to exactly one collected row (VERDICT r14: an
    * adversarial all-tied corpus makes the tied set vocabulary-sized,
    * so collecting it was the one unbounded driver materialization
    * left in the trainer). The tie order must be the DRIVER trainer's
    * UTF-16 code-unit order (Scala String ordering) while the engine's
    * binary string sort is UTF-8 = code-POINT order — the two diverge
    * exactly when a supplementary character compares against a BMP
    * char in [U+E000, U+FFFF] — so the min_by key is each symbol's
    * UTF-16BE ENCODING: bytewise unsigned comparison of UTF-16BE (two
    * big-endian bytes per unit, no BOM) IS code-unit order by
    * construction, keeping the two paths bit-identical on any charset.
    * The merge then applies as one higher-order fold over each symbol
    * array. Round state `localCheckpoint`s with eager release (the
    * [[Graphs]] iterative-lineage device: 20 rounds would otherwise
    * nest 20 fold expressions into one plan). Driver traffic: the
    * alphabet, plus exactly 2 scalar rows per round. */
  def trainDistributed(spark: SparkSession, wordFreqs: DataFrame,
      nMerges: Int = NMerges): Model = {
    val chars = wordFreqs
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    var seqs = wordFreqs
      .select(split(col("w"), "").as("syms"), col("f"))
      .select(expr("filter(syms, s -> s <> '')").as("syms"), col("f"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var done = 0
    var stop = false
    while (done < nMerges && !stop) {
      // adjacent pairs at EVERY position (overlapping occurrences
      // count, exactly like the driver loop's index scan)
      val cnt = seqs
        .select(explode(expr(
          """CASE WHEN size(syms) < 2 THEN array()
            |ELSE transform(sequence(1, size(syms) - 1),
            |       i -> struct(element_at(syms, i) AS a,
            |                   element_at(syms, i + 1) AS b)) END""".stripMargin))
          .as("p"), col("f"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").as("c"))
      val mxRow = cnt.agg(max("c")).collect().head
      val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      if (mx < 2) stop = true
      else {
        // UTF-16-ordered argmin of the tied pairs, reduced in Spark:
        // ONE row crosses to the driver however many pairs tie (the
        // doc-comment's UTF-16BE key device)
        val utf16 = (c: Column) =>
          org.apache.spark.sql.functions.encode(c, "UTF-16BE")
        val r = cnt.filter(col("c") === mx)
          .agg(min_by(struct(col("a"), col("b")),
            struct(utf16(col("a")), utf16(col("b")))).as("p"))
          .select(col("p.a"), col("p.b"))
          .collect().head
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((a, b))
        val next = seqs.select(
          aggregate(col("syms"),
            array().cast("array<string>"),
            (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s)))).as("syms"),
          col("f")).localCheckpoint()
        releaseLocalCheckpoint(seqs)
        seqs = next
        done += 1
      }
    }
    releaseLocalCheckpoint(seqs)
    val toks = (chars ++ merges.result().map { case (a, b) => a + b }).distinct
    Model(toks.zipWithIndex.map { case (t, i) => (t, i.toLong) }, done)
  }

  /** RDD blocks behind a `localCheckpoint()`ed plan (invisible to
    * `clearCache`) — released once the next round is materialized. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
  private val reg = new graft.sources.Memo[String, Model]("bpe")

  /** `(w, n_tok, ids)` for every DISTINCT corpus word: the greedy
    * longest-match fold as an `aggregate` higher-order expression —
    * `length(w)` steps, each consuming one token (≥ 1 char), surplus
    * steps no-ops. `ids` is the space-joined token-id string (the
    * oracle's `string_agg` twin); unknown chars cannot occur on corpus
    * input (train-time invariant) but map to `-1`-advance-1 anyway so
    * the fold is total on any input. */
  private[operators] def encodeDistinctWords(spark: SparkSession, sfDir: String,
      m: Model): DataFrame =
    encodeDistinctWordsOf(Tables(spark, sfDir, "documents"), m)

  /** [[encodeDistinctWords]] over an arbitrary `(…, text)` relation —
    * the form the streaming packer feeds micro-batches through (the
    * vocab stays the FROZEN corpus-trained model, exactly like a
    * production tokenizer fixed before ingest). */
  private[graft] def encodeDistinctWordsOf(docs: DataFrame, m: Model): DataFrame = {
    val toksLit = array(m.byLenDesc.map(t => lit(t._1)): _*)
    val idsLit = array(m.byLenDesc.map(t => lit(t._2)): _*)
    val w = col("w")
    val zero = struct(lit(1).cast("integer").as("pos"), lit("").as("ids"),
      lit(0L).as("n"))
    val folded = aggregate(sequence(lit(1), length(w)), zero, (acc, _) => {
      val pos = acc.getField("pos")
      val matched = filter(toksLit, t => w.substr(pos, length(t)) === t)
      val tok = element_at(matched, 1)
      val found = size(matched) > 0
      val step = when(found, length(tok)).otherwise(lit(1))
      val idStr = when(found,
        element_at(idsLit, array_position(toksLit, tok).cast("integer"))
          .cast("string")).otherwise(lit("-1"))
      when(pos > length(w), acc).otherwise(
        struct((pos + step).cast("integer").as("pos"),
          concat(acc.getField("ids"),
            when(acc.getField("n") === 0, idStr)
              .otherwise(concat(lit(" "), idStr))).as("ids"),
          (acc.getField("n") + 1L).as("n")))
    })
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .select(w, folded.as("e"))
      .select(w, col("e.n").as("n_tok"), col("e.ids").as("ids"))
  }

  /** Per-document BPE encode summary: word count, BPE token count, and
    * the md5 of the full space-joined token-id sequence in document
    * order — the hash pins every token id at every position without
    * shipping token-level rows. */
  def encode(spark: SparkSession, sfDir: String): DataFrame = {
    val m = model(spark, sfDir)
    val enc = encodeDistinctWords(spark, sfDir, m)
    val tok = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    tok.join(broadcast(enc), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("ids")))),
            s => s.getField("ids")), " ").cast("binary")).as("tok_hash"))
      .orderBy("doc_id")
  }

  /** Per-document decode roundtrip — the detokenize leg. Every word
    * re-materializes from its token ids (vocab lookup in token order,
    * concatenated) and must equal the source word: this pins that
    * [[encode]]'s ids are the RIGHT ids, not merely consistent counts.
    * Lossless by construction (greedy scan consumes exactly the word),
    * so `n_ok = n_words` and `n_chars_dec = n_chars` — but both sides
    * COMPUTE the equality rather than assume it. */
  def roundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val m = model(spark, sfDir)
    val enc = encodeDistinctWords(spark, sfDir, m)
    val idToTok = array(m.vocab.sortBy(_._2).map(t => lit(t._1)): _*)
    val dec = enc.select(col("w"),
      array_join(transform(split(col("ids"), " "),
        s => element_at(idToTok, s.cast("int") + 1)), "").as("dec"))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(dec), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("dec") === col("w"), 1L).otherwise(0L)).as("n_ok"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(length(col("dec")).cast("long")).as("n_chars_dec"))
      .orderBy("doc_id")
  }

  /** [[Pipeline.packSequences]] re-denominated in BPE tokens: same
    * shard/window/budget packing, token counts from the frozen
    * tokenizer — the packing boundaries a trainer would actually see. */
  def packSequencesBpe(spark: SparkSession, sfDir: String,
      budget: Long = BpeBudget, nShards: Int = 8): DataFrame = {
    val m = model(spark, sfDir)
    val enc = encodeDistinctWords(spark, sfDir, m)
    val docTok = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(enc.select("w", "n_tok")), Seq("w"))
      .groupBy("doc_id").agg(sum("n_tok").as("n_tok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docTok
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        col("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("seq", expr(s"(cum - n_tok) div $budget"))
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("shard", "seq")
  }

  /** DuckDB CTE chain (no leading WITH; caller adds `WITH RECURSIVE`)
    * ending in `enc(w, n_tok, ids)` — the frozen vocab as literals plus
    * the greedy longest-match recursion (level count bounded by word
    * length; `arg_max(id, length(tok))` is unique because at most one
    * vocab token of each length matches a given position). */
  private def encOracleCtes(m: Model): String = {
    val vals = m.vocab
      .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
      .mkString(", ")
    s"""words AS (SELECT w FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
       |                         FROM documents) WHERE w <> ''),
       |vocab(tok, id) AS (SELECT * FROM (VALUES $vals) v(tok, id)),
       |steps AS (
       |  SELECT w, CAST(1 AS INT) AS pos, CAST(NULL AS BIGINT) AS id, 0 AS step FROM words
       |  UNION ALL
       |  SELECT w, pos + tl AS pos, tid AS id, step + 1 AS step
       |  FROM (SELECT s.w, s.pos, s.step,
       |               CAST(arg_max(v.id, length(v.tok)) AS BIGINT) AS tid,
       |               CAST(max(length(v.tok)) AS INT) AS tl
       |        FROM steps s JOIN vocab v
       |          ON substring(s.w, s.pos, length(v.tok)) = v.tok
       |        WHERE s.pos <= length(s.w)
       |        GROUP BY s.w, s.pos, s.step)
       |),
       |enc AS (SELECT w, CAST(count(id) AS BIGINT) AS n_tok,
       |               string_agg(id, ' ' ORDER BY step) AS ids
       |        FROM steps WHERE id IS NOT NULL GROUP BY w)""".stripMargin
  }

  /** DuckDB twins of [[encode]], [[roundtrip]] and [[packSequencesBpe]]
    * by query name — they carry the vocab frozen for `sfDir`, the one
    * the queries used (a BPE query must have run on `sfDir` in this
    * JVM — `IllegalStateException` otherwise). */
  def oracleSqls(sfDir: String): Map[String, String] = {
    val m = reg.stored(sfDir)
    Map(
      "bpe_encode" ->
        s"""WITH RECURSIVE ${encOracleCtes(m)},
           |tok AS (SELECT doc_id, pos, w FROM (
           |          SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
           |          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
           |        WHERE w <> '')
           |SELECT t.doc_id, count(*) AS n_words,
           |       CAST(sum(e.n_tok) AS BIGINT) AS n_tokens,
           |       md5(string_agg(e.ids, ' ' ORDER BY t.pos)) AS tok_hash
           |FROM tok t JOIN enc e USING (w)
           |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
      "bpe_roundtrip" ->
        s"""WITH RECURSIVE ${encOracleCtes(m)},
           |dec AS (SELECT s.w, string_agg(v.tok, '' ORDER BY s.step) AS d
           |        FROM steps s JOIN vocab v ON v.id = s.id
           |        GROUP BY s.w),
           |tok AS (SELECT doc_id, w FROM (
           |          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |        WHERE w <> '')
           |SELECT t.doc_id, count(*) AS n_words,
           |       CAST(sum(CASE WHEN d.d = t.w THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           |       CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
           |       CAST(sum(length(d.d)) AS BIGINT) AS n_chars_dec
           |FROM tok t JOIN dec d USING (w)
           |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
      "pack_sequences_bpe" ->
        s"""WITH RECURSIVE ${encOracleCtes(m)},
           |tok AS (SELECT doc_id, w FROM (
           |          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |        WHERE w <> ''),
           |dt AS (SELECT doc_id, sum(e.n_tok) AS n_tok
           |       FROM tok JOIN enc e USING (w) GROUP BY doc_id),
           |c AS (SELECT doc_id, doc_id % 8 AS shard, n_tok,
           |             sum(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
           |                              ROWS UNBOUNDED PRECEDING) AS cum
           |      FROM dt)
           |SELECT CAST(shard AS BIGINT) AS shard,
           |       CAST((cum - n_tok) // $BpeBudget AS BIGINT) AS seq,
           |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
           |FROM c GROUP BY 1, 2 ORDER BY shard, seq""".stripMargin)
  }
}
