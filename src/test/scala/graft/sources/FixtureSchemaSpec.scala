package graft.sources

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Fixture-drift gate: the driver regenerates `/root/testdata` between
  * rounds and has already changed column encodings once (events.ts went
  * TIMESTAMP(NANOS)-as-long → TIMESTAMP_NTZ micros in round 7, crashing
  * six queries at the driver gate with no test-time signal). This spec
  * pins the NORMALIZED schema contract every query assumes, so the next
  * regeneration fails here first with a message pointing at the
  * normalization layer instead of crashing queries downstream.
  *
  * Timestamp columns are compared modulo LTZ/NTZ: with the session time
  * zone pinned to UTC (all entry points do), the two read identically to
  * DuckDB's naive timestamps, so either encoding honors the contract. */
class FixtureSchemaSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  private def normalized(t: String) =
    if (t == "events") Tables.events(spark, sf) else Tables(spark, sf, t)

  /** simpleString with NTZ folded into TIMESTAMP (equivalent under UTC). */
  private def typeStr(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case TimestampNTZType => "timestamp"
      case TimestampType => "timestamp"
      case other => other.simpleString
    }

  val contract: Map[String, List[(String, String)]] = Map(
    "region" -> List("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> List("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> List("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> List("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> List("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> List("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> List("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> List("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> List("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> List("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  test("normalized fixture schemas match the contract the queries assume") {
    for (t <- Tables.all) {
      val got = normalized(t).schema.map(f => f.name -> typeStr(f.dataType)).toList
      assert(got == contract(t),
        s"\nfixture schema drift in table '$t':\n  got      $got\n  expected ${contract(t)}\n" +
          "The driver regenerated the fixtures with a new encoding — extend " +
          "the normalization in graft.sources.Tables (see Tables.events for " +
          "the ts-encoding precedent) rather than chasing per-query crashes.")
    }
  }

  test("events ts normalizes to TIMESTAMP at every shipped scale factor") {
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1")
         if new java.io.File(s"/root/testdata/$d/events.parquet").exists()) {
      val dt = Tables.events(spark, s"/root/testdata/$d").schema("ts").dataType
      assert(dt == TimestampType, s"$d: events.ts normalized to $dt")
    }
  }
}
