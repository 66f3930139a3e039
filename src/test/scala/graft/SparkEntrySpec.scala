package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs and returns rows on sf0.001, and
  * every oracle has exactly one source, a registered query (driver
  * contract). */
class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("one oracle source per query: static and returned oracles are disjoint") {
    val returning = SparkEntry.dataOracleQueries.keySet
    assert(returning.size == 27, s"data-dependent entries: $returning")
    assert((returning -- SparkEntry.queries.keySet).isEmpty)
    val both = SparkEntry.oracleSql.keySet intersect returning
    assert(both.isEmpty, s"oracle in the static map AND returned: $both")
  }

  test("two sf directories in one JVM: each returned oracle carries its own directory's state") {
    import graft.kmeans.FitFinal
    def literals(dir: String): Seq[String] =
      FitFinal.result(spark, dir).centroids.sortBy(_._1).toSeq.map { case (cid, v) =>
        v.map(java.lang.Double.toString).mkString(s"($cid, CAST([", ", ", "] AS DOUBLE[]))")
      }
    val (a, b) = (sf, "/root/testdata/sf0.01")
    def fitOracle(dir: String) =
      SparkEntry.queries("kmeans_fit_final")(spark, dir).oracleSql.get
    for (dir <- Seq(a, b, a)) {
      val sql = fitOracle(dir)
      val other = if (dir == a) b else a
      assert(literals(dir).forall(sql.contains), s"$dir oracle lacks its own centroids")
      assert(!literals(other).exists(sql.contains), s"$dir oracle carries $other centroids")
    }

    // the GraphsSpec LPA fixtures: triangle+pendant converges in 3
    // rounds; adding the oscillating pair {8,9} runs to the cap
    import spark.implicits._
    val in = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    def graph(edges: Seq[(Long, Long)]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_two_dirs").toString
      edges.map { case (o, p) => (o, p, in) }
        .toDF("l_orderkey", "l_partkey", "l_shipdate")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      d
    }
    val tri = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L))
    val (ga, gb) = (graph(tri), graph(tri ++ Seq((30L, 8L), (30L, 9L))))
    val cap = graft.operators.Graphs.LpaTrajMaxRounds
    for ((dir, rounds) <- Seq(ga -> 3, gb -> cap, ga -> 3)) {
      val sql = SparkEntry.queries("graph_label_prop_trajectory")(spark, dir).oracleSql.get
      assert(sql.contains(s"l$rounds AS") && !sql.contains(s"l${rounds + 1} AS") &&
        sql.contains(s"CAST($rounds AS BIGINT) AS round"),
        s"$dir oracle chain must end at its own $rounds rounds")
    }
  }

  test("entry returns non-empty") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query output schemas are compare-friendly (lower_snake, no duplicates)") {
    // the driver's compare sorts columns BY NAME before hashing — a
    // duplicate or non-snake name silently breaks the hash match
    SparkEntry.queries.foreach { case (name, fn) =>
      val schema = fn(spark, sf).df.schema
      val cols = schema.fieldNames.toSeq
      assert(cols.distinct.size == cols.size, s"$name has duplicate columns: $cols")
      cols.foreach(c => assert(c.matches("[a-z][a-z0-9_]*"),
        s"$name column '$c' is not lower_snake_case"))
      // FIXTURES.md hashed-output typing rule (r12): no DecimalType may
      // cross an output schema — the driver's hasher canonicalizes
      // DECIMAL values differently from the local DuckDB (the r11
      // 4-query breach; exact >int64 carriers ship as digit strings)
      val dec = OracleAudit.decimalFields(schema)
      assert(dec.isEmpty, s"$name emits DecimalType output: $dec")
    }
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name returns rows on sf0.001") {
      assert(fn(spark, sf).df.count() >= 0)
      // dedup/decontaminate may legitimately find nothing in a tiny
      // corpus; join_theta_sampled's %5 sample of the sf0.001 sides
      // leaves no qualifying theta pairs (25 rows at the sf0.01 gate)
      assert(fn(spark, sf).df.count() > 0 || name.startsWith("dedup")
        || name == "decontaminate" || name == "join_theta_sampled",
        s"$name returned 0 rows")
    }
  }
}
