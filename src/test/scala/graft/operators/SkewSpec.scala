package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Salted join: identical results to the plain equi-join, spread shuffle. */
class SkewSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the plain join's rows") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"))
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    val plain = o.join(c, Seq("custkey"))
      .select("custkey", "o_orderkey", "c_nationkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val salted = Skew.saltedJoin(o, c, "custkey", salts = 8)
      .select("custkey", "o_orderkey", "c_nationkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(salted.length == plain.length && salted.sameElements(plain))
  }

  test("salt actually spreads a hot key over multiple sub-keys") {
    import spark.implicits._
    // one pathological key with 10k rows
    val hot = (0 until 10000).map(i => (1L, i.toLong)).toDF("k", "payload")
    val dim = Seq((1L, "x")).toDF("k", "attr")
    val joined = Skew.saltedJoin(hot, dim, "k", salts = 8)
    assert(joined.count() == 10000)
    val nSalts = hot.withColumn("_salt",
      pmod(hash(col("k"), spark_partition_id(), monotonically_increasing_id()), lit(8)))
      .select("_salt").distinct().count()
    assert(nSalts > 1, "hot key must land in more than one salt bucket")
  }
}
