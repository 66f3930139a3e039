package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Unit tests for batch event analytics on a synthetic mini events
  * table (parquet-backed, same source path as production). */
class EventsSpec extends AnyFunSuite with LocalSpark {

  lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_events").toString
    def t(day: Int, h: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // user 1: joins day 1, returns days 2 and 4; user 2: joins day 2,
    // returns day 4 (twice that day — distinct must count once);
    // user 3: day 1 only
    Seq(
      (1L, t(1, 9), 1L, "view", 1.0, "{}"),
      (2L, t(2, 9), 1L, "view", 1.0, "{}"),
      (3L, t(4, 9), 1L, "view", 1.0, "{}"),
      (4L, t(2, 10), 2L, "view", 1.0, "{}"),
      (5L, t(4, 10), 2L, "view", 1.0, "{}"),
      (6L, t(4, 11), 2L, "view", 1.0, "{}"),
      (7L, t(1, 12), 3L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("retention: cohort by first-seen day, distinct users per offset") {
    val got = Events.retention(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, // users 1 and 3 join day 1
      ("2024-01-01", 1L) -> 1L, // user 1 back on day 2
      ("2024-01-01", 3L) -> 1L, // user 1 back on day 4
      ("2024-01-02", 0L) -> 1L, // user 2 joins day 2
      ("2024-01-02", 2L) -> 1L  // user 2 back on day 4, counted once
    ))
  }

  test("resampleFill: complete hourly spine per user, LOCF on gaps") {
    val got = Events.retention(spark, dir) // force table written
    assert(got.count() > 0)
    val rows = graft.operators.TimeSeries.resampleFill(spark, dir, nUsers = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // user 1: events at day1 09h, day2 09h, day4 09h -> 73 consecutive hours
    val u1 = rows.filter(_._1 == 1L)
    assert(u1.length == 73)
    assert(u1.map(_._2).toSeq == (u1.head._2 to u1.last._2 by 3600000000L).toSeq)
    // gaps carry the last observation (all values are 1.0 here)
    assert(u1.forall(_._4 == 1.0))
    assert(u1.count(_._3 > 0) == 3 && u1.count(_._3 == 0) == 70)
    // user 3: single event -> single-row series, no gaps
    assert(rows.filter(_._1 == 3L).map(x => (x._3, x._4)).toSeq == Seq((1L, 1.0)))
  }

  test("dailyAnomalies flags exactly the designed outlier day") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft_anom").toString
    def t(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    // type "a": 10 steady days of 1 event, one day with 30 (clear spike);
    // type "b": uniform — nothing flagged
    val steady = (1 to 10).map(d => (d.toLong, t(d), 1L, "a", 1.0, "{}"))
    val spike = (0 until 30).map(i => (100L + i, t(11), 1L, "a", 1.0, "{}"))
    val uniform = (1 to 10).map(d => (200L + d, t(d), 2L, "b", 1.0, "{}"))
    (steady ++ spike ++ uniform)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d2/events.parquet")
    val got = Events.dailyAnomalies(spark, d2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", "2024-03-11", 30L)))
  }

  test("sessionWindowAgg: gap-inclusive merging, end = last_ts + gap") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft_sw").toString
    def tm(h: Int, min: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-05-01 $h%02d:$min%02d:00")
    // user 1: 10:00, 10:10, 10:40 — the 30-min gap lands EXACTLY on the
    // previous window's end and still merges (gap-inclusive, pinned
    // here); user 2: 31-min gap -> two sessions
    Seq(
      (1L, tm(10, 0), 1L, "view", 1.0, "{}"),
      (2L, tm(10, 10), 1L, "view", 2.0, "{}"),
      (3L, tm(10, 40), 1L, "view", 4.0, "{}"),
      (4L, tm(12, 0), 2L, "view", 8.0, "{}"),
      (5L, tm(12, 31), 2L, "view", 16.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d2/events.parquet")
    def us(h: Int, min: Int): Long = tm(h, min).getTime * 1000L
    val got = Events.sessionWindowAgg(spark, d2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, us(10, 0), us(11, 10), 3L, 7.0),    // one merged session
      (2L, us(12, 0), us(12, 30), 1L, 8.0),
      (2L, us(12, 31), us(13, 1), 1L, 16.0)))
    // session membership agrees with the lag+cumsum formulation
    assert(Events.sessionize(spark, d2).count() == got.length.toLong)
  }

  test("cep: view→purchase within window, no intervening error") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_cep").toString
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: clean view(10:00)→purchase(10:10) = match, gap 600 s
    // user 2: view(10:00), error(10:05), purchase(10:10) = NO match
    // user 3: view(10:00), purchase(10:45) = NO match (gap > 30 min)
    // user 4: error(10:00), view(10:05), purchase(10:10) = match
    //         (error predates the view), gap 300 s
    // user 5: purchase(10:10) with no view at all = NO match
    Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(5), 1L, "click", 1.0, "{}"),
      (3L, ts(10), 1L, "purchase", 1.0, "{}"),
      (4L, ts(0), 2L, "view", 1.0, "{}"),
      (5L, ts(5), 2L, "error", 1.0, "{}"),
      (6L, ts(10), 2L, "purchase", 1.0, "{}"),
      (7L, ts(0), 3L, "view", 1.0, "{}"),
      (8L, ts(45), 3L, "purchase", 1.0, "{}"),
      (9L, ts(0), 4L, "error", 1.0, "{}"),
      (10L, ts(5), 4L, "view", 1.0, "{}"),
      (11L, ts(10), 4L, "purchase", 1.0, "{}"),
      (12L, ts(10), 5L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.cep(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 600000000L), (4L, 11L, 300000000L)))
  }

  test("Tables.events normalizes every fixture ts encoding to TIMESTAMP") {
    // The driver regenerates the fixtures between rounds and has shipped
    // three encodings so far: TIMESTAMP(NANOS) (read as raw Long under
    // nanosAsLong), TIMESTAMP_NTZ micros (the r7 regen — crashed six
    // queries), and UTC-adjusted micros. Pin that all three normalize to
    // TimestampType with identical instants under the UTC session TZ.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
    val base = spark.read.parquet(s"$dir/events.parquet")
    val d3 = Files.createTempDirectory("graft_ts_enc").toString
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$d3/events.parquet")
    val d4 = Files.createTempDirectory("graft_ts_long").toString
    base.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      .write.mode("overwrite").parquet(s"$d4/events.parquet")
    assert(spark.read.parquet(s"$d3/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$d4/events.parquet")
      .schema("ts").dataType == LongType)
    val want = graft.sources.Tables.events(spark, dir)
    val wantUs = want.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (d <- Seq(d3, d4)) {
      val got = graft.sources.Tables.events(spark, d)
      assert(got.schema("ts").dataType == TimestampType)
      val gotUs = got.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotUs == wantUs)
    }
  }

  test("autocorr: hand-computed perfect ascending series gives r2_ppm = 1e6") {
    import spark.implicits._
    // hourly counts [1, 2, 3, 4]: every lag-1/lag-2 pair sits exactly on
    // a line -> num = den_x = den_y at both lags, r_sign=1, r2_ppm=1e6
    val d = Files.createTempDirectory("graft_acf").toString
    def t(h: Int, m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    (1 to 4).flatMap(h => (0 until h).map(m => (h * 10L + m, t(h, m), 1L, "view", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val rows = graft.operators.TimeSeries.autocorr(spark, d, maxLag = 2).collect()
    assert(rows.length == 2)
    // lag 1: n=3 sx=6 sy=9 sxy=20 -> num=6 den_x=6 den_y=6
    val l1 = rows(0)
    assert(l1.getLong(0) == 1L && l1.getLong(1) == 3L)
    // num/den carriers are exact DIGIT STRINGS (FIXTURES.md typing rule, r12)
    assert(l1.getString(2) == "6" &&
      l1.getString(3) == "6" && l1.getString(4) == "6")
    assert(l1.getLong(5) == 1L && l1.getLong(6) == 1000000L)
    // lag 2: n=2 -> num=den=1
    val l2 = rows(1)
    assert(l2.getString(2) == "1" && l2.getLong(6) == 1000000L)
  }

  test("autocorr: alternating series has r_sign = -1 and r2_ppm = 1e6 at lag 1") {
    import spark.implicits._
    // counts [3, 1, 3, 1]: lag-1 pairs are perfectly anti-correlated
    // (num = -8, dens = 8); the two-stage chain must carry the sign
    // through truncation toward zero (-8000 div 8 = -1000)
    val d = Files.createTempDirectory("graft_acf_neg").toString
    def t(h: Int, m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val counts = Seq(3, 1, 3, 1)
    counts.zipWithIndex.flatMap { case (c, h) =>
      (0 until c).map(m => (h * 10L + m, t(h + 1, m), 1L, "view", 1.0, "{}")) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val l1 = graft.operators.TimeSeries.autocorr(spark, d, maxLag = 1).collect().head
    assert(l1.getString(2) == "-8")
    assert(l1.getString(3) == "8" && l1.getString(4) == "8")
    assert(l1.getLong(5) == -1L && l1.getLong(6) == 1000000L)
  }

  test("attribution: first/last prior non-purchase touch per conversion") {
    import spark.implicits._
    def t(h: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val d = Files.createTempDirectory("graft_attr").toString
    // u1: view, click, purchase -> first=view last=click
    // u2: purchase with no prior touch -> none/none
    // u3: click, purchase, view, purchase -> p1 click/click, p2 click/view
    Seq(
      (1L, t(1), 1L, "view", 1.0, "{}"),
      (2L, t(2), 1L, "click", 1.0, "{}"),
      (3L, t(3), 1L, "purchase", 9.0, "{}"),
      (4L, t(1), 2L, "purchase", 9.0, "{}"),
      (5L, t(1), 3L, "click", 1.0, "{}"),
      (6L, t(2), 3L, "purchase", 9.0, "{}"),
      (7L, t(3), 3L, "view", 1.0, "{}"),
      (8L, t(4), 3L, "purchase", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = Events.attribution(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("click", 2L, 2L), ("none", 1L, 1L), ("view", 1L, 1L)),
      s"got $got")
  }

  test("forecast: perfect linear daily trend projects exactly; single-day series guards") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_fc").toString
    def t(day: Int, i: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d ${i % 24}%02d:00:00")
    // view: daily counts 1, 2, 3 (y = t + 1) -> slope 1, every projected
    // level exact; error: one day only -> den = 0, ppm outputs guard to 0
    val views = (1 to 3).flatMap(day =>
      (0 until day).map(i => (day * 100L + i, t(day, i), 1L, "view", 1.0, "{}")))
    val errors = Seq((900L, t(1, 5), 2L, "error", 1.0, "{}"),
      (901L, t(1, 6), 2L, "error", 1.0, "{}"))
    (views ++ errors)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val rows = graft.operators.TimeSeries.forecast(spark, d).collect()
    assert(rows.length == 14)
    val (err, view) = rows.partition(_.getString(0) == "error")
    // single-day series: den = 0, guarded ppms
    assert(err.length == 7 && err.forall(r => r.getString(4) == "0" &&
      r.getLong(6) == 0L && r.getLong(7) == 0L))
    assert(err.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      (1 to 7).map(h => (h.toLong, h.toLong)))
    // view: n=3 st=3 sy=6 stt=5 sty=8 -> snum=6 den=6 inum=6;
    // yhat(t) = (6 + 6t)/6 = t + 1 exactly
    for (r <- view) {
      val h = r.getLong(1)
      assert(r.getLong(2) == 2 + h && r.getLong(3) == 3L)
      assert(r.getString(4) == "6" && r.getString(5) == (6 * (3 + h)).toString)
      assert(r.getLong(6) == 1000000L, "slope_ppm")
      assert(r.getLong(7) == (3 + h) * 1000000L, s"yhat_ppm at h=$h")
    }
  }
}
