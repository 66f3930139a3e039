package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Streaming = batch PARITY GATE: every streaming twin, driven through a
  * real micro-batched file source, must reproduce the output of its
  * ORACLE-GREEN batch query (`SparkEntry.queries` entries, each
  * hash-checked against DuckDB by the driver) bit-for-bit. The streaming
  * surface thereby inherits the batch oracles transitively — the
  * reference's chunked-ingest accumulation semantics
  * (`main/master/master.go:60-96`: chunk arrivals must aggregate to the
  * same state as a single-shot load) proven end-to-end, with real
  * watermarks in place of transport acks.
  *
  * Unlike EventStreamSpec (which allows unflushed trailing state), these
  * tests demand EXACT equality: two far-future sentinel batches advance
  * the watermark past every real window/session/timeout, so append-mode
  * results must be complete. Double sums are compared after the batch
  * queries' own `round(_, 6)` — the same convention that makes the batch
  * results hash-stable against DuckDB.
  */
class StreamBatchParitySpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"
  val SENTINEL_USER = 999999L

  private def batchQuery(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sf).df

  /** events dir: the real file plus THREE far-future sentinel batches
    * (2030-01/02/03 as raw nanos) so every real window finalizes and
    * every real session times out before end-of-stream. Three because
    * the watermark advances at the END of a batch and finalization
    * happens in a LATER batch — with the real data in batch 1, batch 2's
    * sentinel advances the watermark past 2024 and batch 3 emits
    * everything real; the third sentinel covers the file source
    * coalescing two same-mtime sentinel files into one micro-batch, so
    * explicit strictly-increasing mtimes force the 1-file-per-trigger
    * order as well. */
  lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_parity").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d/a_events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val base = new java.io.File(s"$d/a_events.parquet").lastModified()
    Seq((9100000L, 1893456000000000000L, SENTINEL_USER, "noop", 0.0, "{}"),
      (9100001L, 1896134400000000000L, SENTINEL_USER, "noop", 0.0, "{}"),
      (9100002L, 1898553600000000000L, SENTINEL_USER, "noop", 0.0, "{}"))
      .zipWithIndex.foreach { case (row, i) =>
        // lands as a plain top-level FILE (the file stream source does
        // not recurse into subdirectories), ts re-encoded to match the
        // copied fixture file; strictly increasing mtimes force the
        // 1-file-per-trigger order
        StreamTestData.writeEventsFile(spark, d, s"z_sentinel$i.parquet",
          Seq(row).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          mtime = Some(base + (i + 1) * 10000L))
      }
    d
  }

  private def runToCompletion(df: DataFrame, name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("parity: streaming hourlyAgg == oracle-green events_hourly, bit for bit") {
    runToCompletion(EventStream.hourlyAgg(EventStream.readEvents(spark, dir)), "p_hourly")
    val got = rows(spark.table("p_hourly")
      .filter(col("hour_us") < 1800000000000000L) // sentinel windows are not in the batch table
      .select(col("hour_us"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sum_value")))
    val want = rows(batchQuery("events_hourly"))
    assert(want.nonEmpty)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("parity: streaming funnelJoin pairs aggregate to oracle-green events_funnel") {
    runToCompletion(EventStream.funnelJoin(EventStream.readEvents(spark, dir)), "p_funnel")
    // the stream emits (purchase_id, view_id) pairs; the oracle-green
    // query is their per-purchase aggregate (count + first view id).
    // Aggregating the emitted pairs must reproduce every batch row with
    // n_views > 0; a LEFT-join zero-view purchase has no pair to emit.
    val got = rows(spark.table("p_funnel")
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_views"), min("view_id").as("first_view_id")))
    val batch = batchQuery("events_funnel")
    val want = rows(batch.filter(col("n_views") > 0))
    assert(want.nonEmpty, "fixture must contain view→purchase pairs")
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    // ...and the zero-view purchases are exactly the ones the stream never saw
    val zero = batch.filter(col("n_views") === 0).count()
    assert(zero + got.size == batch.count())
  }

  test("parity: stateful sessionize == oracle-green events_sessions, bit for bit") {
    runToCompletion(
      EventStream.sessionize(spark, EventStream.readEvents(spark, dir)).toDF(), "p_sessions")
    val got = rows(spark.table("p_sessions")
      .filter(col("user_id") =!= SENTINEL_USER)
      .select(col("user_id"), col("session_id"), col("n"),
        col("start_us"), col("end_us"), round(col("sum_value"), 6).as("sum_value")))
    val want = rows(batchQuery("events_sessions")
      .select("user_id", "session_id", "n", "start_us", "end_us", "sum_value"))
    assert(want.nonEmpty)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("parity: streaming cep matches == oracle-green events_cep, bit for bit") {
    runToCompletion(
      EventStream.cepStream(spark, EventStream.readEvents(spark, dir)).toDF(),
      "p_cep")
    val got = rows(spark.table("p_cep").filter(col("user_id") =!= SENTINEL_USER))
    val want = rows(batchQuery("events_cep"))
    assert(want.nonEmpty, "fixture must contain view→purchase matches")
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("parity: streaming dedup output is exactly the batch-distinct event set") {
    val d2 = Files.createTempDirectory("graft_parity_dedup").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d2/a_events.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d2/b_replay.parquet"))
    runToCompletion(
      EventStream.dedupEvents(EventStream.readEvents(spark, d2))
        .select(col("event_id"), col("user_id"), col("event_type")), "p_dedup")
    val got = rows(spark.table("p_dedup"))
    val want = rows(graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .dropDuplicates("event_id"))
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("parity: StreamingKMeans micro-batch fit == independent batch replay of the same schedule") {
    // The last streaming operator outside the gate: stream the sf0.001
    // points in THREE mtime-ordered micro-batches (maxFilesPerTrigger=1)
    // through StreamingKMeans, then replay the identical per-batch
    // update schedule INDEPENDENTLY — plain driver-side Scala over the
    // same per-file row order: naive nearest-centroid loop (strict <,
    // lowest-cid tie-break, the kernel's contract), row-order sums, the
    // same count-weighted merge — and demand the final centroids equal
    // BIT FOR BIT. A 1-partition file scan folds sums in row order on
    // both sides, so exact equality is the correct bar (same argument
    // as the batch queries' DuckDB hash parity).
    val k = 4
    val d = 64
    val decay = 0.9
    val src = Files.createTempDirectory("graft_parity_skm").toString
    val pts = graft.sources.Tables.points(spark, sf)
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_parity_skm_stage").toString
      pts.filter(col("id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    val model = new StreamingKMeans(k, d, decay)
    val stream = spark.readStream
      .schema(pts.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = model.fitStream(stream)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_parity_skm_ck").toString)
      .start()
    q.processAllAvailable(); q.stop()

    // independent replay: same files, same order, plain Scala arithmetic
    var cents: Array[Array[Double]] = Array.empty
    val weights = Array.fill(k)(0.0)
    (0 until 3).foreach { i =>
      val rows = spark.read.parquet(s"$src/b$i.parquet")
        .select(col("features")).collect()
        .map(_.getSeq[Double](0).toArray)
      if (cents.isEmpty) {
        cents = rows.take(k).map(_.clone())
        assert(cents.length == k, "first batch must hold at least k rows")
      }
      val ns = Array.fill(k)(0L)
      val sums = Array.fill(k, d)(0.0)
      rows.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var s = 0.0
          var j = 0
          while (j < d) { val df = v(j) - cents(c)(j); s += df * df; j += 1 }
          if (s < bestD) { bestD = s; best = c } // strict <: lowest-cid ties
        }
        ns(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += v(j); j += 1 }
      }
      for (c <- 0 until k if ns(c) > 0) {
        val w = weights(c) * decay
        var j = 0
        while (j < d) {
          cents(c)(j) = (w * cents(c)(j) + sums(c)(j)) / (w + ns(c))
          j += 1
        }
        weights(c) = w + ns(c)
      }
    }
    assert(model.centroids.length == k)
    (0 until k).foreach { c =>
      assert(model.centroids(c).toSeq == cents(c).toSeq,
        s"centroid $c diverged: stream=${model.centroids(c).take(4).toSeq}... " +
          s"replay=${cents(c).take(4).toSeq}...")
    }
  }

  test("parity: CDC upsert over the orders changelog == oracle-green scd_latest") {
    // orders as a change stream: key = o_custkey, event time = o_orderdate,
    // tie-break id = o_orderkey — the exact ordering scd_latest resolves
    // by. Split into 3 files so the latest-per-key state accumulates
    // ACROSS micro-batch merges, not within one batch's window function.
    import spark.implicits._
    val src = Files.createTempDirectory("graft_parity_scd_src").toString
    val snap = Files.createTempDirectory("graft_parity_scd_snap").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").cast("long").as("event_id"),
        (unix_micros(to_timestamp(col("o_orderdate"))) * 1000L).as("ts"),
        col("o_custkey").cast("long").as("user_id"),
        lit("ord").as("event_type"),
        col("o_totalprice").cast("double").as("value"),
        lit("{}").as("props"))
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_parity_scd_stage").toString
      orders.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
    }
    val q = EventStream.upsertSnapshot(spark, EventStream.readEvents(spark, src), snap)
    q.processAllAvailable(); q.stop()
    val got = rows(EventStream.latestSnapshot(spark, snap).get
      .select(col("user_id").as("o_custkey"),
        col("event_id").as("o_orderkey"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("o_date"),
        round(col("value") * 100).cast("long").as("price_cents")))
    val want = rows(batchQuery("scd_latest"))
    assert(want.nonEmpty)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("parity: online SemDeDup == batch greedy replay, independent of micro-batch slicing") {
    // Stream the sf0.001 embeddings in three vec_id-RANGE files with
    // increasing mtimes, so the stream's arrival order (batch, then
    // vec_id within batch) equals global vec_id order — the order the
    // batch greedy replay processes. Then assert: (a) the survivors
    // equal the replay exactly; (b) re-running with ALL files in one
    // micro-batch yields the same survivors (slicing independence — the
    // determinism a 100 TB ingest pipeline needs across repartitioned
    // retries); (c) a capacity cap degrades both sides identically.
    val pts = graft.sources.Tables.points(spark, sf)
    val n = pts.count()
    val cuts = Seq(n / 3, 2 * n / 3)
    val src = Files.createTempDirectory("graft_semdedup_src").toString
    val ranges = Seq(
      col("id") < cuts(0),
      col("id") >= cuts(0) && col("id") < cuts(1),
      col("id") >= cuts(1))
    ranges.zipWithIndex.foreach { case (pred, i) =>
      val stage = Files.createTempDirectory("graft_semdedup_stage").toString
      pts.filter(pred).coalesce(1)
        .select(col("id").as("vec_id"), col("features"))
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    val cents = graft.kmeans.FitFinal.result(spark, sf, "fit")
      .centroids.sortBy(_._1).map(_._2)
    val points = pts.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val want = SemanticDedupStream.greedyReplay(points, cents)
      .map(k => (k.vec_id, k.cid)).toSet
    assert(want.nonEmpty && want.size < n,
      "fixture must contain semantic dups so the filter actually drops rows")

    def runStream(maxFiles: Int, capacity: Int, name: String): Set[(Long, Int)] = {
      val stream = spark.readStream
        .schema("vec_id LONG, features ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = SemanticDedupStream
        .dedupStream(spark, stream, cents, capacity = capacity)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    }

    assert(runStream(1, 0, "p_semdedup") == want,
      "per-file micro-batches must equal the batch greedy replay")
    assert(runStream(10, 0, "p_semdedup_onebatch") == want,
      "one-big-batch slicing must not change the survivor set")
    val capWant = SemanticDedupStream.greedyReplay(points, cents, capacity = 3)
      .map(k => (k.vec_id, k.cid)).toSet
    assert(runStream(1, 3, "p_semdedup_cap") == capWant,
      "FIFO capacity eviction must degrade stream and replay identically")
  }

  test("parity: incremental CDC chunk ledger == oracle-green dedup_chunks, slicing-independent") {
    // Stream the sf0.001 documents in 3 doc_id%3 files; the running
    // ledger after end-of-stream must row-equal the batch chunkDupGroups
    // (itself oracle-green at the gate), and a one-big-batch run must
    // produce the identical ledger (merge associativity — the
    // determinism a 100 TB incremental chunk store needs across
    // repartitioned retries).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val src = Files.createTempDirectory("graft_chunkledger_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_chunkledger_stage").toString
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runLedger(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_chunkledger_snap").toString
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = ChunkLedgerStream.ledgerStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(ChunkLedgerStream.currentDupGroups(spark, snap))
    }
    val want = rows(batchQuery("dedup_chunks"))
    assert(want.nonEmpty, "fixture must contain cross-doc duplicate chunks")
    val got = runLedger(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runLedger(10) == want,
      "one-big-batch slicing must produce the identical ledger")
  }

  test("parity: incremental DQ monitor == oracle-green dq_expectations, slicing-independent") {
    // Stream the sf0.001 lineitem in 3 l_orderkey%3 files against the
    // static orders dimension; the accumulated rule counters must
    // row-equal the batch dq_expectations (itself oracle-green at the
    // gate) on the streamable rules, under 1-file and one-big-batch
    // slicings alike (counter merge is addition — associative).
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val src = Files.createTempDirectory("graft_dq_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_dq_stage").toString
      li.filter(col("l_orderkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runMonitor(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_dq_snap").toString
      val stream = spark.readStream
        .schema(li.schema)
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = DqStream.monitorStream(spark, stream, orders, snap)
      q.processAllAvailable(); q.stop()
      rows(DqStream.currentReport(spark, snap))
    }
    val want = rows(batchQuery("dq_expectations")
      .filter(col("rule") =!= "uniqueness_o_orderkey"))
    assert(want.size == 6)
    val got = runMonitor(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runMonitor(10) == want,
      "one-big-batch slicing must produce the identical report")
  }

  test("parity: incremental passage ledger == oracle-green dedup_passage, slicing-independent") {
    // Stream the sf0.001 documents in 3 doc_id%3 files (file b1 holds
    // ids 1,4,7,… — NOT in global doc_id order), then summarize the
    // ingested corpus against the ledger: must row-equal the batch
    // passageDedup (itself oracle-green at the gate). Unlike the
    // arrival-ordered SemDeDup stream, "first occurrence" here is the
    // GLOBAL (doc_id, blk_idx) min — associative, so any slicing yields
    // the identical ledger.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val src = Files.createTempDirectory("graft_passledger_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_passledger_stage").toString
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runLedger(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_passledger_snap").toString
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = PassageLedgerStream.ledgerStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(PassageLedgerStream.currentSummary(spark, snap, docs))
    }
    val want = rows(batchQuery("dedup_passage"))
    assert(want.nonEmpty)
    val got = runLedger(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runLedger(10) == want,
      "one-big-batch slicing must produce the identical ledger")
  }

  test("parity: incremental winnow posting ledger == oracle-green dedup_winnow, slicing-independent") {
    // Stream the sf0.001 documents in 3 doc_id%3 files (file b1 holds
    // ids 1,4,7,… — NOT in global doc_id order), then expand the
    // ledger's posting lists into match pairs: must row-equal the batch
    // winnowPairs (itself oracle-green at the gate). The ledger caps
    // boilerplate INSIDE the state (hot fingerprints drop their lists)
    // — hotness is slicing-independent because doc sets only grow, so
    // any slicing yields the identical ledger and pairs.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val src = Files.createTempDirectory("graft_winledger_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_winledger_stage").toString
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runLedger(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_winledger_snap").toString
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = WinnowLedgerStream.ledgerStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(WinnowLedgerStream.currentPairs(spark, snap))
    }
    val want = rows(batchQuery("dedup_winnow"))
    assert(want.nonEmpty)
    val got = runLedger(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runLedger(10) == want,
      "one-big-batch slicing must produce the identical ledger")
  }

  test("winnow ledger caps boilerplate fingerprints inside the state, not just the view") {
    import spark.implicits._
    // 7 documents sharing one identical long string (every fingerprint
    // of that string is shared 7 > cap=5 ways → hot, lists dropped),
    // plus two documents sharing a distinct overlap that must survive.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val src = Files.createTempDirectory("graft_winledger_hot_src").toString
    val docs = ((0 until 7).map(i => (i.toLong, boiler)) ++
      Seq((100L, "completely unique shared-overlap payload xyz"),
        (101L, "completely unique shared-overlap payload abc")))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    val snap = Files.createTempDirectory("graft_winledger_hot_snap").toString
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src)
    val q = WinnowLedgerStream.ledgerStream(spark, stream, snap, cap = 5)
    q.processAllAvailable(); q.stop()
    val ledger = EventStream.latestSnapshot(spark, snap).get.collect()
    val hot = ledger.filter(_.getAs[Boolean]("hot"))
    assert(hot.nonEmpty, "boilerplate fingerprints must be marked hot")
    assert(hot.forall(_.getAs[Seq[Long]]("ds").isEmpty),
      "hot rows must carry NO posting list (bounded state)")
    assert(ledger.filterNot(_.getAs[Boolean]("hot"))
      .forall(_.getAs[Seq[Long]]("ds").size <= 5))
    // the boilerplate pair flood is suppressed; the genuine overlap stays
    val pairs = WinnowLedgerStream.currentPairs(spark, snap, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((0L, 1L)), "boilerplate-only pairs must be capped away")
    assert(pairs.contains((100L, 101L)), "the genuine near-dup pair must survive")
  }

  test("parity: online SemDeDup pins ARRIVAL-order semantics under a non-id-ordered slicing") {
    // The Scaladoc contract (SemanticDedupStream): survivors equal the
    // greedy replay of the ARRIVAL sequence — batches in trigger order,
    // vec_id-sorted within each batch. A round-robin id%3 slicing is
    // deliberately NOT id-order-preserving (file b1 holds ids 1,4,7,…
    // arriving after b0's 0,3,6,…), so this test fails if anyone
    // "fixes" the stream to global-id order or weakens within-batch
    // sorting — either would silently change 100 TB ingest results.
    val pts = graft.sources.Tables.points(spark, sf)
    val src = Files.createTempDirectory("graft_semdedup_rr_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_semdedup_rr_stage").toString
      pts.filter(col("id") % 3 === i).coalesce(1)
        .select(col("id").as("vec_id"), col("features"))
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    val cents = graft.kmeans.FitFinal.result(spark, sf, "fit")
      .centroids.sortBy(_._1).map(_._2)
    val byId = pts.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    // expected arrival sequence: each residue class in id order, classes
    // in file-mtime (= residue) order. Aggressive threshold: at 0.4 the
    // sf0.001 survivor SET happens to coincide across orders (few dups);
    // a tight threshold makes admission chains long enough that arrival
    // order changes who survives — which is what this test pins.
    val thr = 0.15
    val arrival = (0 until 3).flatMap(i => byId.filter(_._1 % 3 == i))
    val want = SemanticDedupStream
      .greedyReplay(arrival, cents, threshold = thr, sortById = false)
      .map(k => (k.vec_id, k.cid)).toSet
    val globalWant = SemanticDedupStream.greedyReplay(byId.toSeq, cents, threshold = thr)
      .map(k => (k.vec_id, k.cid)).toSet
    assert(want != globalWant,
      "fixture must distinguish arrival-order from global-id-order replay " +
        "(otherwise this test pins nothing)")
    val stream = spark.readStream
      .schema("vec_id LONG, features ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = SemanticDedupStream
      .dedupStream(spark, stream, cents, threshold = thr)
      .writeStream.format("memory").queryName("p_semdedup_rr")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("p_semdedup_rr").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want,
      s"stream≠arrival-order replay: extra=${(got -- want).take(3)} " +
        s"missing=${(want -- got).take(3)}")
  }

  test("parity: incremental BPE packer == oracle-green pack_sequences_bpe, slicing-independent") {
    // Packing is a per-shard PREFIX-SUM partition, so the stream's
    // contract is ascending doc_id arrival (monotone-id corpus ingest):
    // slice the corpus into three doc_id RANGES with increasing mtimes.
    // The carried per-shard token count must continue the prefix sum
    // across batch boundaries, and a sequence straddling a boundary
    // must accumulate by sum — any slicing then yields the ledger of
    // the single-shot batch packing (itself oracle-green at the gate).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.agg(max("doc_id")).collect().head.getLong(0) + 1
    val src = Files.createTempDirectory("graft_pack_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_pack_stage").toString
      docs.filter(col("doc_id") >= i * n / 3 && col("doc_id") < (i + 1) * n / 3)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runPacker(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_pack_snap").toString
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = PackLedgerStream.packStream(spark, stream, sf, snap)
      q.processAllAvailable(); q.stop()
      rows(PackLedgerStream.currentPacking(spark, snap))
    }
    val want = rows(batchQuery("pack_sequences_bpe"))
    assert(want.nonEmpty)
    val got = runPacker(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runPacker(10) == want,
      "one-big-batch slicing must produce the identical packing ledger")
  }

  test("parity: incremental weighted reservoir == oracle-green sample_weighted, slicing-independent") {
    // Bottom-k under a total order is associative/commutative, so the
    // reservoir tolerates ANY slicing — slice the corpus by doc_id MOD
    // (interleaved arrival, deliberately not range-contiguous) into
    // three files with increasing mtimes and drive 1-file and all-files
    // triggers; both must equal the single-shot batch sample.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val src = Files.createTempDirectory("graft_res_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_res_stage").toString
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runReservoir(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_res_snap").toString
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = ReservoirStream.reservoirStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(ReservoirStream.currentSample(spark, snap))
    }
    val want = rows(batchQuery("sample_weighted"))
    assert(want.nonEmpty)
    val got = runReservoir(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runReservoir(10) == want,
      "one-big-batch slicing must produce the identical reservoir")
  }

  test("parity: incremental KS drift monitor == oracle-green dq_drift, slicing-independent") {
    // Bin counts merge by ADDITION — any slicing of the event stream
    // (here: the real file + sentinel batches, 1-file and all-files
    // triggers) must accumulate the identical grid ledger, and the KS
    // tail is the SAME function the batch query runs.
    def runMonitor(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_drift_snap").toString
      val stream = EventStream.readEvents(spark, dir, maxFilesPerTrigger = maxFiles)
      val q = DriftStream.monitorStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(DriftStream.currentDrift(spark, snap))
    }
    val want = rows(batchQuery("dq_drift"))
    assert(want.nonEmpty)
    val got = runMonitor(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runMonitor(10) == want,
      "one-big-batch slicing must produce the identical drift report")
  }

  test("parity: incremental KS two-sample ledger == oracle-green stats_ks, slicing-independent") {
    // Per-cent-bin cohort counts merge by ADDITION — any slicing of the
    // event stream must accumulate the identical bin ledger, and the KS
    // tail is the SAME function the batch query runs.
    def runMonitor(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_ks_snap").toString
      val stream = EventStream.readEvents(spark, dir, maxFilesPerTrigger = maxFiles)
      val q = KsStream.monitorStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(KsStream.currentKs(spark, snap))
    }
    val want = rows(batchQuery("stats_ks"))
    assert(want.nonEmpty)
    val got = runMonitor(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runMonitor(10) == want,
      "one-big-batch slicing must produce the identical KS row")
  }

  test("uncheckpointed KS monitor start clears stale snapshots instead of serving them") {
    import spark.implicits._
    // a prior run left a v=5 snapshot: a fresh query restarts batchIds
    // at 0, so without the clear the global-max read would serve the
    // stale ledger (and double-count once batchIds catch up) — ADVICE
    // r13. After the clear, the current KS equals the batch query over
    // ONLY the newly ingested events.
    val snap = Files.createTempDirectory("graft_ks_stale_snap").toString
    Seq((100L, 7L, 3L)).toDF("x", "ca", "cb")
      .write.mode("overwrite").parquet(s"$snap/v=5")
    val stream = EventStream.readEvents(spark, dir, maxFilesPerTrigger = 10)
    val q = KsStream.monitorStream(spark, stream, snap)
    q.processAllAvailable(); q.stop()
    assert(!new java.io.File(s"$snap/v=5").exists(),
      "the stale snapshot must be cleared at uncheckpointed start")
    val got = rows(KsStream.currentKs(spark, snap))
    assert(got == rows(batchQuery("stats_ks")),
      "post-clear ledger must reflect exactly the ingested events")
  }

  test("parity: incremental co-order edge ledger census == oracle-green graph_triangles, slicing-independent") {
    // Stream the sf0.001 lineitem rows in 3 l_partkey%3 files — an
    // order's items then arrive ACROSS batches, exercising the
    // cross-batch new×old same-order pairing (slicing by orderkey would
    // keep every order intact and never test it). The ledger's triangle
    // census must row-equal the batch graph_triangles (itself
    // oracle-green at the gate); both ledgers are set unions, so any
    // slicing yields the identical edge set.
    val liRaw = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"))
    val src = Files.createTempDirectory("graft_edgeledger_src").toString
    (0 until 3).foreach { i =>
      val stage = Files.createTempDirectory("graft_edgeledger_stage").toString
      liRaw.filter(col("l_partkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    def runLedger(maxFiles: Int): Set[Seq[Any]] = {
      val snap = Files.createTempDirectory("graft_edgeledger_snap").toString
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(src)
      val q = EdgeLedgerStream.ledgerStream(spark, stream, snap)
      q.processAllAvailable(); q.stop()
      rows(EdgeLedgerStream.currentCensus(spark, snap))
    }
    val want = rows(batchQuery("graph_triangles"))
    assert(want.nonEmpty)
    val got = runLedger(1)
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    assert(runLedger(10) == want,
      "one-big-batch slicing must produce the identical census")
  }

  test("edge ledger accumulates incrementally: per-batch census over the ingested prefix") {
    import spark.implicits._
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    // batch 1 delivers parts {1,2} of order 10 (one edge, no triangle);
    // batch 2 delivers part 3 of the SAME order — the new item must
    // pair with the items that arrived earlier, closing triangle {1,2,3}
    val src = Files.createTempDirectory("graft_edgeledger_inc_src").toString
    val b0 = Seq((10L, 1L, in), (10L, 2L, in))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
    val b1 = Seq((10L, 3L, in)).toDF("l_orderkey", "l_partkey", "l_shipdate")
    b0.coalesce(1).write.mode("overwrite").parquet(s"$src/stage0")
    b1.coalesce(1).write.mode("overwrite").parquet(s"$src/stage1")
    Seq(0, 1).foreach { i =>
      val part = new java.io.File(s"$src/stage$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/b$i.parquet"))
      new java.io.File(s"$src/b$i.parquet")
        .setLastModified(new java.io.File(s"$src/b0.parquet").lastModified() + i * 10000L)
    }
    Seq(0, 1).foreach(i => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$src/stage$i"))
    })
    val snap = Files.createTempDirectory("graft_edgeledger_inc_snap").toString
    val stream = spark.readStream
      .schema("l_orderkey LONG, l_partkey LONG, l_shipdate TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = EdgeLedgerStream.ledgerStream(spark, stream, snap)
    q.processAllAvailable(); q.stop()
    val census = EdgeLedgerStream.currentCensus(spark, snap).collect().head
    assert((census.getLong(0), census.getLong(1), census.getLong(3))
      == ((3L, 3L, 1L)),
      "cross-batch same-order items must close the triangle")
  }
}
