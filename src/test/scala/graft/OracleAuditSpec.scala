package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the FIXTURES.md negative-// rule: no oracle may feed a
  * possibly-negative operand to integer `//` (DuckDB versions disagree
  * on floor-vs-truncate for negatives — the round-10 driver-oracle
  * breach). Every justified syntactic subtraction is declared in
  * [[OracleAudit.allow]] with a proof; anything new fails here. */
class OracleAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("every static oracle passes the negative-division audit") {
    // the data-dependent oracles (frozen centroids/codebooks/vocab,
    // round counts) come back with their query's reply — audited below
    val violations = OracleAudit.auditAll(SparkEntry.oracleSql)
    assert(violations.isEmpty,
      "negative-division audit violations:\n" + violations.mkString("\n"))
  }

  test("every returned (data-dependent) oracle passes the audit on sf0.001") {
    val returned = SparkEntry.dataOracleQueries.keySet.toSeq.sorted.map { name =>
      val sql = SparkEntry.queries(name)(spark, sf).oracleSql
      assert(sql.exists(_.trim.nonEmpty), s"$name returned no oracle")
      name -> sql.get
    }.toMap
    val violations = OracleAudit.auditAll(returned)
    assert(violations.isEmpty,
      "negative-division audit violations:\n" + violations.mkString("\n"))
  }

  test("the audit catches the exact r10 breach construct (stats_ols pre-fix)") {
    // the original oracle form: num is defined by a subtraction and
    // crosses `//` bare — local DuckDB 1.0.0 truncated, the driver's
    // floored, one row flipped
    val breached =
      """WITH h AS (SELECT CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |                  CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
        |           FROM g)
        |SELECT CAST(num * 1000000 // den AS BIGINT) AS slope_ppm FROM h""".stripMargin
    val v = OracleAudit.audit("stats_ols_regression", breached)
    assert(v.nonEmpty, "audit MUST flag the r10 breach form")
    assert(v.exists(_.contains("num")), s"expected the signed alias 'num' flagged: $v")
  }

  test("the fixed sign-separated form is clean") {
    val fixed =
      """WITH h AS (SELECT CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |                  CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
        |           FROM g)
        |SELECT CAST(CAST(sign(num) AS HUGEINT) * (abs(num) * 1000000 // den) AS BIGINT) AS slope_ppm
        |FROM h""".stripMargin
    assert(OracleAudit.audit("stats_ols_fixed", fixed).isEmpty)
  }

  test("typing audit flags the r11 breach form (DECIMAL in the final SELECT)") {
    // the pre-r12 stats_ols projection: mathematically right, but the
    // driver's hasher renders DECIMAL(38,0) values differently — the
    // carrier type alone broke 4 queries in r11
    val breached =
      """WITH h AS (SELECT 1 AS n, CAST(2 AS HUGEINT) AS num, CAST(3 AS HUGEINT) AS den FROM g)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |       CAST(num AS DECIMAL(38,0)) AS slope_num,
        |       CAST(den AS DECIMAL(38,0)) AS slope_den
        |FROM h ORDER BY l_returnflag""".stripMargin
    val v = OracleAudit.auditHashedTypes("stats_ols_pre_r12", breached)
    assert(v.size == 2, s"expected both DECIMAL carriers flagged: $v")
  }

  test("typing audit allows DECIMAL/HUGEINT INTERNAL to an outer BIGINT cast") {
    val fixed =
      """WITH s AS (SELECT 1 AS p, 2 AS t FROM g)
        |SELECT CAST(p AS BIGINT) AS promo_c4,
        |       CAST(CAST(p AS HUGEINT) * 1000000 // t AS BIGINT) AS promo_ppm,
        |       CAST(num AS VARCHAR) AS slope_num
        |FROM s""".stripMargin
    assert(OracleAudit.auditHashedTypes("sql_q14_r12", fixed).isEmpty)
  }

  test("typing audit flags a ::HUGEINT suffix cast and ignores CTE-internal DECIMAL") {
    val sql =
      """WITH h AS (SELECT CAST(x AS DECIMAL(38,0)) AS num FROM t)
        |SELECT y::HUGEINT AS big FROM h""".stripMargin
    val v = OracleAudit.auditHashedTypes("suffix_cast", sql)
    assert(v.size == 1 && v.head.contains("HUGEINT"), s"got: $v")
  }

  test("typing audit scans EVERY top-level UNION branch, not just the last") {
    // the r12 self-review hole: a DECIMAL carrier in an earlier branch
    // of a top-level UNION ALL typed the output just as much as the
    // last branch, but only the last depth-0 SELECT was scanned
    val sql =
      """WITH h AS (SELECT 1 AS x FROM t)
        |SELECT CAST(x AS DECIMAL(38,0)) AS a, CAST(1 AS BIGINT) AS b FROM h
        |UNION ALL
        |SELECT CAST(x AS BIGINT) AS a, CAST(2 AS BIGINT) AS b FROM h
        |ORDER BY a""".stripMargin
    val v = OracleAudit.auditHashedTypes("union_branches", sql)
    assert(v.size == 1 && v.head.contains("DECIMAL"), s"got: $v")
    // FROM-less branches stay parseable (the graph_bfs head-row shape)
    val fromless =
      """SELECT CAST(0 AS BIGINT) AS level, CAST(1 AS BIGINT) AS n
        |UNION ALL
        |SELECT CAST(l AS BIGINT) AS level, CAST(c AS HUGEINT) AS n FROM f
        |ORDER BY level""".stripMargin
    val v2 = OracleAudit.auditHashedTypes("fromless_branch", fromless)
    assert(v2.size == 1 && v2.head.contains("HUGEINT"), s"got: $v2")
  }

  test("typing audit catches an IMPLICIT output alias on a DECIMAL cast (ADVICE r12)") {
    // `CAST(x AS DECIMAL(38,0)) slope_num` is valid DuckDB — without
    // the implicit-alias strip, closedAt != length-1 and the carrier
    // escaped the static gate
    val sql =
      """WITH h AS (SELECT 1 AS x FROM t)
        |SELECT CAST(x AS DECIMAL(38,0)) slope_num,
        |       CAST(x AS HUGEINT) "quoted alias",
        |       CAST(x AS BIGINT) ok_col
        |FROM h""".stripMargin
    val v = OracleAudit.auditHashedTypes("implicit_alias", sql)
    assert(v.size == 2, s"both implicitly-aliased wide carriers must flag: $v")
    assert(v.exists(_.contains("DECIMAL")) && v.exists(_.contains("HUGEINT")))
  }

  test("signed-alias scan masks literals across newlines (ADVICE r12)") {
    // a literal spanning a newline, masked per line, would invert the
    // closing line's masking: the ` - ` below is INSIDE the literal and
    // must not mark `tag`; the real subtraction after it must mark `d`
    val sql =
      "WITH a AS (SELECT 'multi\nline - literal' AS tag, x - y AS d FROM t)\n" +
        "SELECT tag, d FROM a"
    // per-line masking saw line 1's quote unclosed, masked the REAL
    // `x - y` away and missed d entirely (the "hide" failure mode);
    // tag may still be marked — line-granular over-approximation is the
    // documented contract, only MISSES are breaches
    val signed = OracleAudit.signedAliases(sql)
    assert(signed.contains("d"), s"real subtraction must mark d: $signed")
  }

  test("division audit ignores `//` and ` - ` inside string literals") {
    val sql =
      """SELECT concat('http://x.y', name) AS url, a // b AS q
        |FROM t WHERE tag <> 'pre - post'""".stripMargin
    assert(OracleAudit.audit("literal_safety", sql).isEmpty)
  }

  test("signed-alias propagation reaches aliases-of-aliases") {
    val sql =
      """WITH a AS (SELECT x - y AS det FROM t),
        |b AS (SELECT sum(det) AS ssum FROM a)
        |SELECT ssum // 24 AS r FROM b""".stripMargin
    val v = OracleAudit.audit("propagation", sql)
    assert(v.nonEmpty && v.exists(_.contains("ssum")), s"got: $v")
  }

  test("a multi-line numerator ending in a signed alias is caught") {
    val sql =
      """WITH a AS (SELECT x - y AS diff FROM t)
        |SELECT CAST(CAST(diff AS HUGEINT) * 1000000
        |            // total AS BIGINT) AS ppm FROM a""".stripMargin
    val v = OracleAudit.audit("multiline", sql)
    assert(v.nonEmpty && v.exists(_.contains("diff")), s"got: $v")
  }

  test("a subtraction in the DENOMINATOR is caught too") {
    val sql = "SELECT i * 1000000 // (total - used) AS ppm FROM t"
    assert(OracleAudit.audit("denominator", sql).nonEmpty)
  }

  test("negative literals and abs/sign wrappers do not false-positive") {
    val sql =
      """SELECT v // 10 AS a, abs(x - y) // 2 AS b, -5 AS c,
        |       CAST(sign(x - y) AS BIGINT) * (abs(x - y) // 3) AS d
        |FROM (VALUES (20, 7, 3, -0.5)) t(v, x, y, z)""".stripMargin
    assert(OracleAudit.audit("clean", sql).isEmpty)
  }
}
