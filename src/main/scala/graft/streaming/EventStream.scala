package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming flavor of the event operators: the reference's
  * chunked-ingest "stream" (`main/master/master.go:60-96` — transport
  * framing with acks, no time semantics) upgraded to real event-time
  * processing: watermarks, tumbling windows, and stateful gap
  * sessionization. Batch twins live in [[graft.operators.Events]] and are
  * the oracle-checked surface; these produce the same aggregates
  * incrementally.
  */
object EventStream {

  /** File-source schema template for the driver's events parquet. The
    * `ts` field's on-disk encoding has varied across fixture
    * regenerations — TIMESTAMP(NANOS) (raw longs under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), then TIMESTAMP_NTZ
    * micros — so [[readEvents]] substitutes the encoding it actually
    * finds in the directory; this template carries the current fixture
    * default (NTZ micros). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalize an events relation's `ts` to TIMESTAMP whatever the
    * source encoding — same contract as [[graft.sources.Tables.events]]
    * (NTZ casts interpret in the session time zone; all entry points pin
    * UTC, matching DuckDB's naive read). */
  def normalize(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
    case _ => df
  }

  /** Streaming read of an events directory (files appearing in `dir`
    * become micro-batches — the principled version of the reference's
    * 100k-point ingest chunks, `main/client/client.go:49-63`).
    *
    * A file stream source needs its schema up front, and the fixture's
    * ts encoding has changed across regenerations — so peek at whatever
    * parquet is already in the directory (every caller drops at least
    * the seed file before starting the stream; later files must match
    * it) and fall back to the [[rawSchema]] default for an empty dir. */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val tsType =
      try graft.sources.Tables.parquet(spark, dir).schema("ts").dataType
      catch { case _: Throwable => rawSchema("ts").dataType }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    normalize(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir))
  }

  /** Tumbling 1-hour event-time aggregation with a watermark: late data
    * beyond 1 hour is dropped, finalized windows emit in append mode.
    * State is bounded by (watermark horizon × active windows). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-stream funnel join: purchases matched to the same user's view
    * events of the preceding `windowMinutes`. Both sides carry watermarks
    * and the join condition bounds v_ts to a window around p_ts, so each
    * side's buffered state is evictable once the other side's watermark
    * passes — bounded state, the streaming twin of
    * [[graft.operators.Events.funnel]]. Inner join: pairs emit as soon as
    * both events have arrived (no watermark wait). */
  def funnelJoin(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("purchase_id"), col("view_id"))
  }

  /** Streaming exact dedup by event_id: state holds one key per event id
    * inside the watermark horizon and is evicted as event time advances —
    * the streaming twin of batch `dropDuplicates` (at-least-once transport
    * upstream becomes exactly-once downstream). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  // ------------------------------------------------------------ sessions

  case class Ev(user_id: Long, ts: java.time.Instant, value: Double) {
    def ts_us: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }
  case class SessionState(openStart: Long, openEnd: Long, n: Long,
      sum: Double, nextId: Long)
  case class Session(user_id: Long, session_id: Long, n: Long,
      start_us: Long, end_us: Long, sum_value: Double)

  /** Stateful gap sessionization via flatMapGroupsWithState — the
    * streaming twin of [[graft.operators.Events.sessionize]]. One state
    * record per active user (bounded); sessions close either by an
    * explicit gap within a batch or by event-time timeout once the
    * watermark passes `end + gap`. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    // the watermark column `ts` must survive into the typed Dataset for
    // EventTimeTimeout — keep it as-is, derive micros inside the rows
    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("value"))
      .as[Ev]

    def update(userId: Long, evs: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, s.nextId, s.n, s.openStart, s.openEnd, s.sum))
      } else {
        val sorted = evs.toSeq.sortBy(_.ts_us)
        var st = state.getOption.getOrElse(SessionState(-1L, -1L, 0L, 0.0, 1L))
        val closed = Seq.newBuilder[Session]
        sorted.foreach { e =>
          if (st.openStart < 0) {
            st = SessionState(e.ts_us, e.ts_us, 1L, e.value, st.nextId)
          } else if (e.ts_us - st.openEnd > gapUs) {
            closed += Session(userId, st.nextId, st.n, st.openStart, st.openEnd, st.sum)
            st = SessionState(e.ts_us, e.ts_us, 1L, e.value, st.nextId + 1)
          } else {
            st = st.copy(openEnd = e.ts_us, n = st.n + 1, sum = st.sum + e.value)
          }
        }
        state.update(st)
        state.setTimeoutTimestamp((st.openEnd + gapUs) / 1000L + 1L) // ms
        closed.result().iterator
      }
    }

    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  // ----------------------------------------------------------------- cep

  case class CepEv(user_id: Long, event_id: Long, event_type: String,
      ts: java.time.Instant) {
    def us: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }
  case class CepState(lastViewUs: Long, lastErrorUs: Long, maxUs: Long)
  case class CepMatch(user_id: Long, purchase_id: Long, view_us: Long,
      gap_us: Long)

  /** Streaming twin of `events_cep` (the MATCH_RECOGNIZE
    * view→notError*→purchase match): state is TWO longs per user — the
    * latest view and latest error seen so far — so a purchase matches by
    * reading state, never by re-scanning history. Events sort by
    * (ts, event_id) within each micro-batch; across batches the
    * semantics are ARRIVAL-ORDER (a late out-of-order event reads state
    * as of its arrival — the same declared contract as
    * [[SemanticDedupStream]]); under an event-ordered slicing the output
    * equals the batch operator bit-for-bit (parity-gated). State evicts
    * by event-time timeout once the watermark passes the user's last
    * event + the match window — by then no retained view could match a
    * future purchase, so eviction never changes semantics. */
  def cepStream(spark: SparkSession, events: DataFrame,
      windowMinutes: Int = 30): Dataset[CepMatch] = {
    import spark.implicits._
    val winUs = windowMinutes * 60L * 1000000L

    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[CepEv]

    def update(userId: Long, evs: Iterator[CepEv],
        state: GroupState[CepState]): Iterator[CepMatch] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption.getOrElse(CepState(-1L, -1L, -1L))
        val out = Seq.newBuilder[CepMatch]
        evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
          e.event_type match {
            case "purchase" =>
              if (st.lastViewUs >= 0 && e.us - st.lastViewUs <= winUs
                  && st.lastErrorUs <= st.lastViewUs)
                out += CepMatch(userId, e.event_id, st.lastViewUs,
                  e.us - st.lastViewUs)
            case "view" =>
              st = st.copy(lastViewUs = math.max(st.lastViewUs, e.us))
            case "error" =>
              st = st.copy(lastErrorUs = math.max(st.lastErrorUs, e.us))
            case _ => ()
          }
          st = st.copy(maxUs = math.max(st.maxUs, e.us))
        }
        state.update(st)
        state.setTimeoutTimestamp(st.maxUs / 1000L + winUs / 1000L + 1L)
        out.result().iterator
      }
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  // ------------------------------------------------------------- upsert

  /** Streaming CDC upsert: maintain a key-compacted current snapshot of
    * the change stream via `foreachBatch` MERGE — the incremental twin
    * of [[graft.operators.Relational.mergeUpsert]] +
    * [[graft.operators.Relational.scdLatest]], without a table format.
    *
    * Each micro-batch (a) compacts to its latest row per key — max
    * (event-time, event_id) — then (b) full-outer-merges into the
    * previous snapshot, resolving each matched key by the SAME
    * (event-time, event_id) order (so a late, out-of-order change
    * arriving in a later batch never regresses a key to a staler value),
    * and (c) writes the result as a NEW versioned directory
    * `dir/v=<batchId>`. The merge picks whole rows, never per-column
    * coalesce — a change whose value is NULL therefore really sets NULL
    * instead of silently keeping the base value. Versioning is what makes
    * this exactly-once on top of plain parquet: a replayed batch after
    * a failure rewrites the SAME `v=<batchId>` path (idempotent), the
    * previous version is never read-while-written, and readers take
    * [[latestSnapshot]] = max committed version; old versions are
    * vacuumed by retention — the loop every lakehouse MERGE runs under
    * the hood. Scale note: this implementation rewrites the full
    * snapshot per batch (one key-hash shuffle of snapshot + changes).
    * At 100 TB the snapshot side would be stored bucketed by the key
    * ([[graft.sources.Sinks.writeBucketed]] — plan-asserted
    * exchange-free joins in its spec) so each MERGE shuffles only the
    * batch's changes; the merge logic here is unchanged by that
    * layout.
    *
    * Returns the streaming query (caller stops it). Snapshot schema:
    * (user_id, ts_us, event_id, value) — event_id rides along so the
    * cross-batch tie-break is total. */
  def upsertSnapshot(spark: SparkSession, events: DataFrame,
      dir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("event_id"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy("user_id")
          .orderBy(desc("ts_us"), desc("event_id"))
        val changes = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id").as("ck"), col("ts_us").as("cts"),
            col("event_id").as("cid"), col("value").as("cv"))
        val changeRow = struct(col("ck").as("user_id"), col("cts").as("ts_us"),
          col("cid").as("event_id"), col("cv").as("value"))
        // base = latest version STRICTLY below this batch: a replayed
        // batch whose sink commit survived the failure must not merge
        // onto (and overwrite) its own output mid-read
        val merged = latestSnapshot(spark, dir, below = Some(batchId)) match {
          case None => changes.select(changeRow.as("r")).select("r.*")
          case Some(base0) =>
            // migrate pre-event_id snapshots (3-column schema): an
            // unknown stored event id sorts lowest, so an
            // equal-timestamp change wins — the old arrival-order
            // behavior for exactly the rows that predate the ordering
            val base = if (base0.columns.contains("event_id")) base0
              else base0.withColumn("event_id", lit(Long.MinValue))
            // whole-row resolution by (event-time, event_id): the change
            // wins only when it is at least as new as the stored row
            base.join(changes, col("user_id") === col("ck"), "full_outer")
              .select(
                when(col("ck").isNotNull && (col("user_id").isNull ||
                    struct(col("cts"), col("cid")) >=
                    struct(col("ts_us"), col("event_id"))), changeRow)
                  .otherwise(struct(col("user_id"), col("ts_us"),
                    col("event_id"), col("value"))).as("r"))
              .select("r.*")
        }
        merged.write.mode("overwrite").parquet(s"$dir/v=$batchId")
        ()
      }
      .start()
  }

  /** Latest committed (`_SUCCESS`-marked) snapshot version under `dir`,
    * optionally restricted to versions `< below`. Versions are listed
    * through the Hadoop FileSystem API, so the snapshot dir can live on
    * any supported scheme (file://, hdfs://, s3a://…), not just the
    * local filesystem. */
  def latestSnapshot(spark: SparkSession, dir: String,
      below: Option[Long] = None): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val versions =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("v=").toLong)
        .filter(v => below.forall(v < _))
    versions.sorted.lastOption
      .map(v => graft.sources.Tables.parquet(spark, s"$dir/v=$v"))
  }

  /** Remove every `v=` snapshot directory under `dir` — the
    * uncheckpointed-start guard of the ledger streams ([[KsStream]],
    * [[EdgeLedgerStream]]): an uncheckpointed restart begins batchIds
    * at 0, so stale higher-numbered snapshots from a prior run would
    * out-version every new batch and the ledger readers (which take
    * the global max version) would serve the stale state. Deletes
    * through the SAME Hadoop FileSystem handle [[latestSnapshot]]
    * reads through, so the guard works on any scheme (hdfs://,
    * s3a://), not just local paths (ADVICE r14). */
  private[streaming] def clearSnapshots(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (st.getPath.getName.startsWith("v="))
          fs.delete(st.getPath, true): Unit
      }
  }

  case class HHState(counts: Map[Long, Long], errs: Map[Long, Long])
  case class HeavyHitter(event_type: String, user_id: Long,
      est: Long, err: Long)

  /** Streaming heavy hitters per event type (space-saving sketch in
    * state, via mapGroupsWithState): tracks at most `capacity` users per
    * type; when full, the minimum-count entry is evicted and the new
    * item inherits its count as overestimation error. State is BOUNDED
    * at capacity entries per group regardless of stream length — the
    * reason to sketch at 100 TB/day event volumes. Guarantees: est ≥
    * true count ≥ est − err; exact (err = 0) whenever a group's distinct
    * users fit the capacity. Output (Update mode): the current top
    * entries per type after each micro-batch. */
  def heavyHitters(spark: SparkSession, events: DataFrame,
      capacity: Int = 8, topK: Int = 3): Dataset[Seq[HeavyHitter]] = {
    import spark.implicits._
    val typed = events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]

    def update(key: String, evs: Iterator[(String, Long)],
        state: GroupState[HHState]): Seq[HeavyHitter] = {
      var st = state.getOption.getOrElse(HHState(Map.empty, Map.empty))
      evs.foreach { case (_, u) =>
        if (st.counts.contains(u)) {
          st = st.copy(counts = st.counts.updated(u, st.counts(u) + 1L))
        } else if (st.counts.size < capacity) {
          st = st.copy(counts = st.counts.updated(u, 1L),
            errs = st.errs.updated(u, 0L))
        } else {
          // evict the (min count, max id) entry deterministically
          val (evicted, minC) = st.counts.minBy { case (id, c) => (c, -id) }
          st = HHState(
            st.counts - evicted + (u -> (minC + 1L)),
            st.errs - evicted + (u -> minC))
        }
      }
      state.update(st)
      st.counts.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(topK)
        .map { case (id, c) => HeavyHitter(key, id, c, st.errs(id)) }
    }

    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }
}
