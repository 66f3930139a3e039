package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Events
import graft.LocalSpark

/** Streaming operators vs their batch twins, driven through a real file
  * source: the sf0.001 events file is batch 1; two far-future sentinel
  * files advance the watermark so append-mode windows finalize and
  * event-time timeouts flush open sessions. */
class EventStreamSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"
  val SENTINEL_USER = 999999L

  /** events dir: real file + 2 sentinel files (written after, so the
    * file source picks them up as later micro-batches). The sentinels
    * are staged as plain top-level FILES — the file stream source does
    * not recurse into subdirectories, so a parquet DIRECTORY here would
    * be silently invisible (caught by the r6 parity gate, whose exact
    * assertions exposed that the directory-shaped sentinels never
    * arrived). */
  lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_stream").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d/a_events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val base = new java.io.File(s"$d/a_events.parquet").lastModified()
    // sentinel ts: 2030-01-01 and 2030-02-01, given as raw nanos and
    // re-encoded by the helper to match the copied fixture file
    Seq((9000000L, 1893456000000000000L, SENTINEL_USER, "noop", 0.0, "{}"),
      (9000001L, 1896134400000000000L, SENTINEL_USER, "noop", 0.0, "{}"))
      .zipWithIndex.foreach { case (row, i) =>
        StreamTestData.writeEventsFile(spark, d, s"z_sentinel$i.parquet",
          Seq(row).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          mtime = Some(base + (i + 1) * 10000L))
      }
    d
  }

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming hourly windows match the batch aggregate once finalized") {
    runToCompletion(EventStream.hourlyAgg(EventStream.readEvents(spark, dir)), "hourly")
    val got = spark.table("hourly")
      .filter(col("hour_us") < 1800000000000000L) // drop sentinel windows
      .select("hour_us", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Events.hourlyAgg(spark, sf)
      .select("hour_us", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every emitted window must match batch exactly
    val wrong = got.filter { case (k, v) => want.get(k) != Some(v) }
    assert(wrong.isEmpty, s"streaming windows disagreeing with batch: ${wrong.take(5)}")
    // append mode only finalizes a window once a LATER batch's watermark
    // passes its end — windows in the last event-time hours may still be
    // pending at end-of-stream. Allow only those to be missing.
    val maxHour = want.keys.map(_._1).max
    val missing = (want.keySet -- got.keySet).filter(_._1 < maxHour - 2 * 3600000000L)
    assert(missing.isEmpty, s"non-trailing windows never emitted: ${missing.take(5)}")
    assert(got.size >= want.size - 5)
  }

  test("stream-stream funnel join emits exactly the batch join pairs") {
    runToCompletion(EventStream.funnelJoin(EventStream.readEvents(spark, dir)), "funnel")
    val got = spark.table("funnel")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch reference: the same inner pairs from the oracle-checked twin's
    // pre-aggregation join
    val e = graft.sources.Tables.events(spark, sf)
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"),
        col("event_id").as("view_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"))
    val want = p.join(v, col("p_user") === col("v_user") &&
        col("v_us") <= col("p_us") && col("v_us") > col("p_us") - 1800000000L)
      .select("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test data must contain view→purchase pairs")
    assert(got == want,
      s"stream≠batch: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("restart from checkpoint resumes exactly-once: no reprocessing, no loss") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val out = Files.createTempDirectory("graft_ckpt_out").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$src/a_events.parquet"))
    def run(): Unit = {
      val q = EventStream.readEvents(spark, src)
        .select("event_id", "user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run() // phase 1: file A fully processed, offsets committed
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    // phase 2: a new file arrives while the query is DOWN (written as a
    // plain parquet FILE like a real ingest drop, not a directory)
    StreamTestData.writeEventsFile(spark, src, "b_more.parquet",
      Seq((8000000L, 1893456000000000000L, SENTINEL_USER, "late", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    run() // restart from the same checkpoint
    val back = spark.read.parquet(out)
    assert(back.count() == n1 + 1, "restart must process exactly the new file")
    assert(back.select("event_id").distinct().count() == n1 + 1,
      "restart must not duplicate already-committed events")
  }

  test("streaming CDC upsert maintains the latest-per-key snapshot across batches") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_upsert_src").toString
    val snap = Files.createTempDirectory("graft_upsert_snap").toString
    // batch 1: the real events file; batch 2: a later update for user 0
    // and an insert for a brand-new user; batch 3: a LATE out-of-order
    // change for user 0 (must not regress the snapshot) and a newer
    // set-to-NULL change for the inserted user (must really set NULL)
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$src/a_events.parquet"))
    def stageBatch(name: String,
        rows: Seq[(Long, Long, Long, String, Option[Double], String)]): Unit =
      StreamTestData.writeEventsFile(spark, src, name,
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    stageBatch("b_updates.parquet", Seq(
      (7000000L, 1893456000000000000L, 0L, "upd", Some(42.5), "{}"),
      (7000001L, 1893456000000000000L, 8888888L, "ins", Some(7.25), "{}")))
    stageBatch("c_late.parquet", Seq(
      (6999999L, 1000000000L, 0L, "stale", Some(99.9), "{}"),
      (7000002L, 1893457000000000000L, 8888888L, "nullify", None, "{}")))
    val q = EventStream.upsertSnapshot(spark,
      EventStream.readEvents(spark, src), snap)
    q.processAllAvailable(); q.stop()
    val got = EventStream.latestSnapshot(spark, snap).get
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // batch oracle: latest (ts, event_id) row per user over ALL files
    val all = EventStream.normalize(spark.read.parquet(s"$src/*.parquet"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
    val want = all.groupBy(_._1).map { case (u, rows) =>
      val best = rows.maxBy(r => (r._2, r._4))
      u -> (best._2, best._3)
    }
    assert(got.size == want.size, "one snapshot row per key")
    assert(got == want, "snapshot must hold each key's latest (ts, event_id) row")
    assert(got(0L) == (1893456000000000L, Some(42.5)),
      "update must win for user 0 and a later-arriving STALER change must not regress it")
    assert(got(8888888L) == (1893457000000000L, None),
      "a newer NULL-value change must really set the value to NULL")
    // versioned commits: one dir per micro-batch, all _SUCCESS-marked
    val vs = new java.io.File(snap).listFiles().filter(_.getName.startsWith("v="))
    assert(vs.length >= 2, "each micro-batch must commit its own version")
  }

  test("CDC upsert migrates legacy 3-column snapshots (no event_id) in place") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_mig_src").toString
    val snap = Files.createTempDirectory("graft_mig_snap").toString
    def stage(name: String, rows: Seq[(Long, Long, Long, String, Option[Double], String)]): Unit =
      StreamTestData.writeEventsFile(spark, src, name,
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    stage("a_base.parquet", Seq(
      (1L, 1000000000000L, 1L, "ins", Some(1.0), "{}"),
      (2L, 2000000000000L, 2L, "ins", Some(2.0), "{}")))
    val q = EventStream.upsertSnapshot(spark, EventStream.readEvents(spark, src), snap)
    q.processAllAvailable()
    // rewrite the committed version to the PRE-event_id schema while the
    // query idles — simulating a snapshot written by the old code
    val legacy = EventStream.latestSnapshot(spark, snap).get
      .select("user_id", "ts_us", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vdir = new java.io.File(snap).listFiles()
      .filter(_.getName.startsWith("v=")).maxBy(_.getName.stripPrefix("v=").toLong)
    legacy.toSeq.toDF("user_id", "ts_us", "value")
      .coalesce(1).write.mode("overwrite").parquet(vdir.getPath)
    // next batch: newer update for user 1, brand-new user 3
    stage("b_next.parquet", Seq(
      (3L, 5000000000000L, 1L, "upd", Some(9.0), "{}"),
      (4L, 3000000000000L, 3L, "ins", Some(3.0), "{}")))
    q.processAllAvailable(); q.stop()
    val got = EventStream.latestSnapshot(spark, snap).get
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got == Map(
      1L -> (5000000000L, 9.0),  // ts div 1000: update won over legacy row
      2L -> (2000000000L, 2.0),  // legacy row carried through the merge
      3L -> (3000000000L, 3.0)), // insert landed
      s"migrated merge mismatch: $got")
  }

  test("streaming dedup collapses replayed micro-batches to distinct events") {
    // a dir where the same events file arrives twice (at-least-once replay)
    val d2 = Files.createTempDirectory("graft_dedup").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d2/a_events.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d2/b_replay.parquet"))
    runToCompletion(
      EventStream.dedupEvents(EventStream.readEvents(spark, d2))
        .select("event_id"), "dedup")
    val got = spark.table("dedup").count()
    val want = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").distinct().count()
    assert(got == want, s"deduped stream: $got vs distinct batch: $want")
  }

  test("streaming k-means refines deterministically across micro-batches") {
    import org.apache.spark.sql.types._
    val d = 64
    val srcDir = Files.createTempDirectory("graft_skm").toString
    // two micro-batches: embeddings split by parity of vec_id
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("features"))
    emb.filter(col("id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/b0")
    emb.filter(col("id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/b1")
    def run(): (Array[Array[Double]], Long) = {
      val model = new graft.streaming.StreamingKMeans(k = 4, d = d)
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("features", ArrayType(DoubleType))))
      val q = model.fitStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")).start()
      q.processAllAvailable(); q.stop()
      val sizes = model.transform(emb).groupBy("cluster_id").count()
      (model.centroids, sizes.agg(sum("count")).head().getLong(0))
    }
    val (c1, n1) = run()
    val (c2, n2) = run()
    assert(c1.length == 4 && n1 == emb.count() && n2 == n1)
    // same file order → identical model (deterministic update)
    for (i <- c1.indices; j <- 0 until d) assert(c1(i)(j) == c2(i)(j))
  }

  test("stateful sessionization matches the batch sessionizer") {
    runToCompletion(EventStream.sessionize(spark, EventStream.readEvents(spark, dir)).toDF(), "sessions")
    val got = spark.table("sessions")
      .filter(col("user_id") =!= SENTINEL_USER)
      .select("user_id", "session_id", "n", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = Events.sessionize(spark, sf)
      .select("user_id", "session_id", "n", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got.nonEmpty)
    // every emitted streaming session must exactly match a batch session;
    // sessions still open at end-of-stream may be unflushed (no further
    // batch advances the watermark past their timeout)
    val unmatched = got -- want
    assert(unmatched.isEmpty, s"streaming sessions not in batch: ${unmatched.take(5)}")
    val missing = want -- got
    assert(missing.size <= Events.sessionize(spark, sf).select("user_id").distinct().count(),
      "at most one trailing open session per user may be unflushed")
  }

  test("streaming heavy hitters: exact at sufficient capacity, bounded state") {
    import spark.implicits._
    // ample capacity: the final micro-batch's output must equal the
    // exact batch top-3 per event type (space-saving is exact when all
    // distinct keys fit)
    val out = EventStream.heavyHitters(
        spark, EventStream.readEvents(spark, dir), capacity = 2000, topK = 3)
      .flatMap(identity)
    val q = out.writeStream.format("memory").queryName("hh")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    // keep only each type's LAST emission (Update mode re-emits per batch;
    // the memory sink appends) — batch column isn't exposed, so dedup by
    // taking max est per (type, user): counts only grow
    val got = spark.table("hh")
      .filter(col("event_type") =!= "noop")
      .groupBy("event_type", "user_id")
      .agg(max("est").as("est"), max("err").as("err"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // batch truth: top-3 users per type by count
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byType = batch.groupBy(_._1._1).map { case (t, m) =>
      t -> m.toSeq.sortBy { case ((_, u), n) => (-n, u) }.take(3)
    }
    byType.foreach { case (_, top) =>
      top.foreach { case ((t, u), n) =>
        val (est, err) = got((t, u))
        assert(est == n && err == 0L, s"exact-capacity mismatch for ($t,$u)")
      }
    }
    assert(got.nonEmpty)
  }

  test("streaming heavy hitters: tiny capacity still bounds estimates correctly") {
    import spark.implicits._
    val out = EventStream.heavyHitters(
        spark, EventStream.readEvents(spark, dir), capacity = 4, topK = 2)
      .flatMap(identity)
    val q = out.writeStream.format("memory").queryName("hh_small")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = spark.table("hh_small")
      .filter(col("event_type") =!= "noop")
      .groupBy("event_type", "user_id")
      .agg(max("est").as("est"), max("err").as("err")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, u, est, err) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val truth = batch.getOrElse((t, u), 0L)
      // space-saving invariant: est ≥ truth ≥ est − err
      assert(est >= truth && truth >= est - err, s"($t,$u): est=$est err=$err true=$truth")
    }
  }
}
