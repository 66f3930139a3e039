package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.LocalSpark

/** Semantic invariants of the relational additions the hash-compare
  * can't express. */
class RelationalSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  test("bloom semi stats: zero false negatives, match count is the exact semi join") {
    val r = Relational.bloomSemiStats(spark, sf).collect().head
    val (nBuild, m, nProbe, nPass, nMatch, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    // independent exact counts
    val ck = Tables(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("long").as("k"))
    val o = Tables(spark, sf, "orders").select(col("o_custkey").cast("long").as("k"))
    assert(nBuild == ck.count() && nProbe == o.count())
    assert(nMatch == o.join(ck, Seq("k"), "left_semi").count())
    assert(m == Relational.bloomM(nBuild))
    // a Bloom filter can NEVER drop a true match
    assert(nPass >= nMatch && nFp == nPass - nMatch && nFp >= 0)
    assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
  }

  test("dq expectations: clean fixture passes every rule; planted violations count exactly") {
    import spark.implicits._
    // the shipped fixture satisfies all 7 rules
    val clean = Relational.dqExpectations(spark, sf).collect()
    assert(clean.length == 7 && clean.forall(_.getLong(3) == 1L))
    assert(clean.forall(r => r.getLong(2) == 0L && r.getLong(1) > 0L))
    // plant one violation per rule class in a scratch copy
    val d = java.nio.file.Files.createTempDirectory("graft_dq").toString
    val li = Tables(spark, sf, "lineitem")
    val bad = Seq(
      // null shipdate + out-of-range qty + bad flag + negative price + stale date
      (900001L, 1L, 1L, 1, 99.0, -5.0, 0.0, 0.0, "X", "O",
        java.sql.Timestamp.valueOf("1905-01-01 00:00:00")),
      (900001L, 1L, 1L, 1, 99.0, -5.0, 0.0, 0.0, "X", "O", null))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
    li.unionByName(bad.select(li.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    // plant a duplicated primary key in orders
    val ord = Tables(spark, sf, "orders")
    ord.unionByName(ord.limit(1)).write.parquet(s"$d/orders.parquet")
    val got = Relational.dqExpectations(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = li.count() + 2
    assert(got("completeness_l_shipdate") == ((n, 1L, 0L)))
    assert(got("range_l_quantity_1_50") == ((n, 2L, 0L)))
    assert(got("set_l_returnflag_ANR") == ((n, 2L, 0L)))
    assert(got("nonneg_l_extendedprice") == ((n, 2L, 0L)))
    assert(got("freshness_l_shipdate_1995_2002") == ((n, 1L, 0L)))
    // both copies of the duplicated order count as violations
    assert(got("uniqueness_o_orderkey") == ((ord.count() + 1, 2L, 0L)))
    // orderkey 900001 exists in no order
    assert(got("ref_l_orderkey_in_orders") == ((n, 2L, 0L)))
  }

  test("stats_ols: hand-computed line with negative intercept truncates toward zero") {
    import spark.implicits._
    // (1, $0.50) (2, $3.01) (3, $5.50): n=3 sx=6 sy=901 sxx=14 sxy=2302
    // slope_num=1500 den=6 -> slope exactly 250 cents/unit (ppm 250e6);
    // intercept_num=-1198 -> -1198e6/6 = -199666666.67 -> -199666666
    // (truncation toward zero; a flooring engine on the SIGNED form
    // would give ...67 — the r10 driver breach. The sign-separated
    // form sign(n)*( |n| div d ) keeps the truncated value on every
    // engine version; this row pins it.)
    val d = java.nio.file.Files.createTempDirectory("graft_ols").toString
    val li = Tables(spark, sf, "lineitem")
    Seq((1L, 1L, 1L, 1, 1.0, 0.50, 0.0, 0.0, "A", "O", "1996-01-01"),
      (2L, 1L, 1L, 1, 2.0, 3.01, 0.0, 0.0, "A", "O", "1996-01-01"),
      (3L, 1L, 1L, 1, 3.0, 5.50, 0.0, 0.0, "A", "O", "1996-01-01"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .select(li.columns.map(col): _*)
      .write.parquet(s"$d/lineitem.parquet")
    val r = Relational.statsOls(spark, d).collect().head
    assert(r.getString(0) == "A" && r.getLong(1) == 3L)
    // num/den carriers are exact DIGIT STRINGS (FIXTURES.md typing
    // rule, r12): the r11 breach proved DECIMAL output hashes
    // differently across the driver's engines even at equal values
    assert(r.getString(2) == "1500")
    assert(r.getString(3) == "6")
    assert(r.getLong(4) == 250000000L)
    assert(r.getString(5) == "-1198")
    assert(r.getLong(6) == -199666666L)
  }

  test("stats_chi2: hand-computed 2x2 table, exact two-stage ppm chain") {
    import spark.implicits._
    // observed: (A,F)=10 (A,O)=20 (N,F)=30 (N,O)=40 -> N=100,
    // rows A=30 N=70, cols F=40 O=60.
    // dev(A,F) = 10*100 - 30*40 = -200 (antisymmetric across the 2x2)
    // exp_ppm(A,F) = 30*40*1e6 // 100 = 12_000_000
    // chi(A,F) = ((200*1000)//100) * 200*1000 // (30*40)
    //          = 2000 * 200000 // 1200 = 333_333
    // chi(A,O) = 2000*200000 // 1800 = 222_222
    // chi(N,F) = 2000*200000 // 2800 = 142_857
    // chi(N,O) = 2000*200000 // 4200 = 95_238  -> total 793_650
    // (true chi2 = 100*200^2/(30*70*40*60) = 0.7936...)
    val d = java.nio.file.Files.createTempDirectory("graft_chi2").toString
    val li = Tables(spark, sf, "lineitem")
    val cells = Seq(("A", "F", 10), ("A", "O", 20), ("N", "F", 30), ("N", "O", 40))
    val rows = cells.flatMap { case (rf, ls, n) => (1 to n).map(i =>
      (i.toLong, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, rf, ls, "1996-01-01")) }
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .select(li.columns.map(col): _*)
      .write.parquet(s"$d/lineitem.parquet")
    val got = Relational.statsChi2(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("A", "F", 10L, 12000000L, "-200", 333333L, 793650L),
      ("A", "O", 20L, 18000000L, "200", 222222L, 793650L),
      ("N", "F", 30L, 28000000L, "200", 142857L, 793650L),
      ("N", "O", 40L, 42000000L, "-200", 95238L, 793650L)), s"got $got")
  }

  test("basket_rules: hand-computed support/confidence/lift in exact ppm") {
    import spark.implicits._
    // baskets {A,B} {A,B} {A,C} {B}: N=4, c(A)=3 c(B)=3 c(C)=1,
    // pairs (A,B)=2 (A,C)=1 -> lift(A,C)=4e6//3=1333333 tops the list
    val d = java.nio.file.Files.createTempDirectory("graft_basket").toString
    val t = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    Seq((1L, 1L, t), (1L, 2L, t), (2L, 1L, t), (2L, 2L, t),
      (3L, 1L, t), (3L, 3L, t), (4L, 2L, t))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    Seq((1L, "BA"), (2L, "BB"), (3L, "BC"))
      .toDF("p_partkey", "p_brand").write.parquet(s"$d/part.parquet")
    val rows = Relational.basketRules(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    assert(rows.toSeq == Seq(
      ("BA", "BC", 1L, 250000L, 333333L, 1333333L),
      ("BC", "BA", 1L, 250000L, 1000000L, 1333333L),
      ("BA", "BB", 2L, 500000L, 666666L, 888888L),
      ("BB", "BA", 2L, 500000L, 666666L, 888888L)))
  }

  test("lake_skipping: zone maps never skip a matching file; z-order prunes") {
    val r = Relational.lakeSkipping(spark, sf, fileRows = 64).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4))).toMap
    val (nat, zor) = (r("natural"), r("zorder"))
    // same data, same predicate -> identical matching rows and file counts
    assert(nat._1 == zor._1 && nat._4 == zor._4 && nat._4 > 0)
    // a zone map may over-scan but can NEVER skip a file holding a match
    assert(nat._2 >= nat._3 && zor._2 >= zor._3)
    // the point of z-ordering: strictly fewer candidate files on a 2-D box
    assert(zor._2 < nat._2, s"zorder ${zor._2} !< natural ${nat._2}")
  }

  test("scd2_history: contiguous validity intervals, one current row per key") {
    val rows = Relational.scd2History(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4),
        r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (k, vs) =>
      val s = vs.sortBy(_._2)
      // dense version numbering from 1
      assert(s.map(_._2).toSeq == (1L to s.length), s"key $k versions")
      // each interval ends where the next begins; only the last is open
      s.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"key $k gap: $a -> $b")
        case _ =>
      }
      assert(s.last._4 == "9999-12-31" && s.last._5 == 1L)
      assert(s.init.forall(_._5 == 0L), s"key $k multiple current rows")
    }
  }

  test("scd_latest keeps exactly one current row per key, the max (date, orderkey)") {
    val out = Relational.scdLatest(spark, sf).collect()
    val orders = Tables(spark, sf, "orders")
      .select(col("o_custkey").cast("long"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byKey = orders.groupBy(_._1)
    assert(out.length == byKey.size, "one snapshot row per key")
    out.foreach { r =>
      val (ck, ok, date) = (r.getLong(0), r.getLong(1), r.getString(2))
      val want = byKey(ck).maxBy(o => (o._3, o._2)) // lexicographic date ties → orderkey
      assert((want._2, want._3) == (ok, date), s"custkey $ck kept the wrong version")
    }
  }

  test("zorder key is the exact Morton interleave on known bit patterns") {
    // (px, sx) → z: bits of px at even positions, sx at odd
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (3L, 0L, 5L), (0L, 3L, 10L), (65535L, 0L, 0x55555555L), (0L, 65535L, 0xAAAAAAAAL))
    import spark.implicits._
    val df = cases.map { case (px, sx, _) => (px, sx) }.toDF("px", "sx")
      .withColumn("z", Relational.mortonKey(col("px"), col("sx")))
      // the per-bit fold spec the magic-bits spread must reproduce
      .withColumn("zfold", expr(
        """aggregate(sequence(0, 15), 0L, (acc, i) ->
          |  acc + shiftleft(shiftright(px, i) % 2, 2*i)
          |      + shiftleft(shiftright(sx, i) % 2, 2*i + 1))""".stripMargin))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == cases.toSet)
    df.collect().foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"magic-bits Morton != per-bit fold for (${r.getLong(0)}, ${r.getLong(1)})"))
  }

  test("compaction plan: bins reproduce the hand-computed cumulative packing") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // one lang, target 100: sizes sorted desc = 70,60,50,40,30 with
    // before = 0,70,130,180,220 -> bins 0,0,1,1,2
    Seq((1L, "t", "en", "s", 50L), (2L, "t", "en", "s", 70L),
        (3L, "t", "en", "s", 30L), (4L, "t", "en", "s", 60L),
        (5L, "t", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Relational.compactionPlan(spark, d, targetBytes = 100L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((0L, 2L, 130L, 2L), (1L, 2L, 90L, 1L), (2L, 1L, 30L, 3L)))
  }

  test("ts decompose: a constant series has flat trend, zero seasonal and residual") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_tsdec").toString
    // 48 hourly events of constant value 2.5 -> obs = 2500000 micro
    (0 until 48).map { h =>
      (h.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00"), 1L, "view", 2.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val rows = graft.operators.TimeSeries.decompose(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 48)
    assert(rows.forall(_ == ((2500000L, 2500000L, 0L, 0L))),
      s"constant series must decompose trivially: ${rows.take(3).toSeq}")
  }

  test("zorder_key output is sorted by the interleaved key") {
    val rows = Relational.zorderKey(spark, sf).collect()
    assert(rows.nonEmpty)
    val zs = rows.map(_.getLong(4))
    assert(zs.sameElements(zs.sorted), "rows must come back in z-curve order")
  }

  test("stats_ks: hand-computed two-sample CDF max deviation") {
    import spark.implicits._
    // click values {1, 2, 3}, view values {2, 4} (cents 100..400):
    // cum cross-deviations |Fa - Fb|*na*nb at each distinct x:
    //   x=100: |1*2 - 0*3| = 2; x=200: |2*2 - 1*3| = 1;
    //   x=300: |3*2 - 1*3| = 3; x=400: |3*2 - 2*3| = 0
    // -> max 3 at x=300, D_ppm = 3*1e6 // (3*2) = 500000 (true D = 1/2)
    val d = java.nio.file.Files.createTempDirectory("graft_ks").toString
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t, 1L, "click", 1.0, "{}"), (2L, t, 1L, "click", 2.0, "{}"),
      (3L, t, 1L, "click", 3.0, "{}"), (4L, t, 2L, "view", 2.0, "{}"),
      (5L, t, 2L, "view", 4.0, "{}"), (6L, t, 3L, "error", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = Relational.statsKs(spark, d).collect()
    assert(r.length == 1)
    assert((r.head.getLong(0), r.head.getLong(1), r.head.getString(2),
      r.head.getLong(3), r.head.getLong(4)) == ((3L, 2L, "3", 500000L, 300L)))
  }

  test("stats_mannwhitney: hand-computed pairwise 2U and AUC") {
    import spark.implicits._
    // click {1, 2, 3} vs view {2, 4}: a-beats-b pairs = 1 (3 > 2),
    // ties = 1 (2 = 2) -> 2U = 3, AUC = 1.5/6 = 0.25 -> 250000 ppm
    val d = java.nio.file.Files.createTempDirectory("graft_mwu").toString
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t, 1L, "click", 1.0, "{}"), (2L, t, 1L, "click", 2.0, "{}"),
      (3L, t, 1L, "click", 3.0, "{}"), (4L, t, 2L, "view", 2.0, "{}"),
      (5L, t, 2L, "view", 4.0, "{}"), (6L, t, 3L, "error", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = Relational.statsMwu(spark, d).collect()
    assert(r.length == 1)
    assert((r.head.getLong(0), r.head.getLong(1), r.head.getString(2),
      r.head.getLong(3)) == ((3L, 2L, "3", 250000L)))
  }

  test("stats_welch: hand-computed t² in exact milli units") {
    import spark.implicits._
    // purchase {1, 2, 3}, click {2, 4}: means 2 vs 3, sample variances
    // 1 and 2 -> t² = (2-3)² / (1/3 + 2/2) = 0.75 -> 750 milli, exactly:
    // aa = 3*14-36 = 6, ab = 2*20-36 = 4, dnum = 6*2-6*3 = -6,
    // t2num = 36*2*1 = 72, t2den = 6*4*1 + 4*9*2 = 96, 72000//96 = 750
    val d = java.nio.file.Files.createTempDirectory("graft_welch").toString
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t, 1L, "purchase", 1.0, "{}"), (2L, t, 1L, "purchase", 2.0, "{}"),
      (3L, t, 1L, "purchase", 3.0, "{}"), (4L, t, 2L, "click", 2.0, "{}"),
      (5L, t, 2L, "click", 4.0, "{}"), (6L, t, 3L, "error", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = Relational.statsWelch(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((3L, 2L, 2000000L, 3000000L, 1000L, 2000L, 750L)))
  }

  test("stats_welch: degenerate groups (n < 2, missing) emit zeros, never divide") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_welch_deg").toString
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // one purchase, zero clicks
    Seq((1L, t, 1L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val r = Relational.statsWelch(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((1L, 0L, 5000000L, 0L, 0L, 0L, 0L)))
  }

  test("stats_welch oracle: the factored t² floor fits int128 on sf10-shaped stats (VERDICT r14)") {
    // The oracle's factored route replayed in BigInt with an explicit
    // int128 ceiling on EVERY intermediate — the magnitude contract the
    // HUGEINT replay depends on. The direct form (t2num·1000 /
    // t2den) needs ~10³⁹ at sf10 and is asserted to BREACH the ceiling,
    // which is exactly why the factored route exists.
    val int128Max = (BigInt(1) << 127) - 1
    def factored(na: BigInt, sa: BigInt, qa: BigInt,
        nb: BigInt, sb: BigInt, qb: BigInt): BigInt = {
      def fits(x: BigInt): BigInt = {
        assert(x.abs <= int128Max, s"intermediate $x overflows int128")
        x
      }
      val aa = fits(na * qa - sa * sa); val ab = fits(nb * qb - sb * sb)
      val dnum = fits(sa * nb - sb * na)
      val (g1, g2) = (na - 1, nb - 1)
      if (na < 2 || nb < 2) return BigInt(0)
      val gg = fits(g1 * g2)
      val u1 = fits(fits(aa * nb * nb) / g1); val r1 = (aa * nb * nb) % g1
      val u2 = fits(fits(ab * na * na) / g2); val r2 = (ab * na * na) % g2
      val w = fits(u1 + u2); val fr = fits(r1 * g2 + r2 * g1)
      val den = fits(w * gg + fr)
      val bigA = fits(1000 * dnum * dnum)
      if (den == 0) BigInt(0)
      else if (w == 0) fits(gg * (bigA / fr)) + fits((bigA % fr) * gg) / fr
      else {
        val q0 = bigA / w; val r0 = bigA % w
        val lhs = fits(r0 * gg); val rhs = fits(q0 * fr)
        if (lhs >= rhs) q0 + (lhs - rhs) / den
        else q0 - 1 - (rhs - lhs - 1) / den
      }
    }
    def direct(na: BigInt, sa: BigInt, qa: BigInt,
        nb: BigInt, sb: BigInt, qb: BigInt): BigInt = {
      val aa = na * qa - sa * sa; val ab = nb * qb - sb * sb
      val dnum = sa * nb - sb * na
      val t2num = dnum * dnum * (na - 1) * (nb - 1)
      val t2den = aa * nb * nb * (nb - 1) + ab * na * na * (na - 1)
      if (na < 2 || nb < 2 || t2den == 0) BigInt(0) else t2num * 1000 / t2den
    }
    // the MEASURED sf10 sufficient statistics' shape: n ~ 2·10⁶ rows
    // per group, |x| ~ 500, sum ~ 10⁹, sum-of-squares ~ 10¹². The
    // envelope's own edge is t2den (still a direct factor of the
    // correction divisor): ~10³⁷ here, breaching int128 past ~sf30 —
    // the documented residual limit.
    val cases = Seq(
      (BigInt(2008400), BigInt(1072341787), BigInt(1193491038251L),
        BigInt(1986300), BigInt(198630) * 480, BigInt(1986300) * 260000 + 7919),
      // degenerate shapes: zero variance (w = 0), tiny groups
      (BigInt(5), BigInt(50), BigInt(500), BigInt(7), BigInt(7), BigInt(7)),
      (BigInt(1), BigInt(9), BigInt(81), BigInt(4), BigInt(10), BigInt(30)),
      (BigInt(3), BigInt(6), BigInt(14), BigInt(2), BigInt(6), BigInt(20)))
    for ((na, sa, qa, nb, sb, qb) <- cases)
      assert(factored(na, sa, qa, nb, sb, qb) == direct(na, sa, qa, nb, sb, qb),
        s"factored != direct for ($na, $sa, $qa, $nb, $sb, $qb)")
    // randomized agreement sweep, including negative dnum (the signed
    // branch of the floor correction)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val na = BigInt(rnd.between(2L, 3000000L))
      val nb = BigInt(rnd.between(2L, 3000000L))
      val xa = BigInt(rnd.between(-900L, 900L)); val xb = BigInt(rnd.between(-900L, 900L))
      val sa = na * xa + rnd.between(-1000L, 1000L)
      val sb = nb * xb + rnd.between(-1000L, 1000L)
      // qa >= sa²/na (Cauchy-Schwarz) with headroom for variance
      val qa = sa * sa / na + BigInt(rnd.between(0L, 1000000L)) * na / 1000 + na
      val qb = sb * sb / nb + BigInt(rnd.between(0L, 1000000L)) * nb / 1000 + nb
      assert(factored(na, sa, qa, nb, sb, qb) == direct(na, sa, qa, nb, sb, qb))
    }
    // the direct form genuinely breaches int128 on the sf10 shape —
    // the reason the factored route is the one the oracle ships
    val (na, sa, qa, nb, sb, qb) = cases.head
    val t2num1000 = (sa * nb - sb * na).pow(2) * (na - 1) * (nb - 1) * 1000
    assert(t2num1000 > int128Max,
      s"expected the direct t2num*1000 ($t2num1000) to overflow int128 at this shape")
    assert(qa * na >= sa * sa && qb * nb >= sb * sb,
      "fixture stats must satisfy Cauchy-Schwarz (be realizable)")
  }
}
