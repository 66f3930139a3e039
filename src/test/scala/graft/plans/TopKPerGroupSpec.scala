package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.LocalSpark

class TopKPerGroupSpec extends AnyFunSuite with LocalSpark {

  /** Deterministic pseudo-random rows over a handful of groups, spread
    * over several input partitions. */
  lazy val df = {
    import spark.implicits._
    (0 until 5000).map { i =>
      val h = graft.functions.HashOps.wordHashNScala(s"r$i", 12)
      (s"g${h % 7}", h / 7 % 1000, i.toLong)
    }.toDF("g", "v", "id").repartition(8)
  }

  test("pruned window top-k equals the plain window top-k") {
    val ord = Seq(desc("v"), asc("id"))
    val w = Window.partitionBy("g").orderBy(ord: _*)
    def finish(base: org.apache.spark.sql.DataFrame) = base
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("g", "v", "id", "rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val plain = finish(df)
    val pruned = finish(Relational.topkPerGroup(df, Seq(col("g")), ord, 5))
    assert(pruned == plain && plain.size == 35)
  }

  test("phase-1 plan is narrow: PartialTopKExec with no Exchange below it") {
    val pruned = Relational.topkPerGroup(
      df, Seq(col("g")), Seq(desc("v"), asc("id")), 5)
    // look through the AQE wrapper (collect doesn't descend into it)
    val phys = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val topk = phys.collect { case p: PartialTopKExec => p }
    assert(topk.size == 1, s"expected one PartialTopKExec in:\n$phys")
    val exchangesBelow = topk.head.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    // the repartition(8) above sits in the child plan; everything from
    // the scan-side shuffle up to the heap prune must be narrow
    assert(exchangesBelow.size <= 1, s"unexpected exchanges:\n${topk.head}")
    // output is a superset bounded by partitions·groups·k
    val n = pruned.count()
    assert(n >= 35 && n <= 8L * 7 * 5)
  }

  test("bounded output on a single hot group (the skew case)") {
    import spark.implicits._
    val hot = (0 until 10000).map(i => ("hot", i.toLong)).toDF("g", "v")
      .repartition(6)
    val pruned = Relational.topkPerGroup(hot, Seq(col("g")), Seq(desc("v")), 3)
    val n = pruned.count()
    assert(n <= 6L * 3, s"per-partition heaps must bound the hot group, got $n")
    // and the true top-3 is in the pruned set
    val top = pruned.orderBy(desc("v")).limit(3).collect().map(_.getLong(1)).toSet
    assert(top == Set(9999L, 9998L, 9997L))
  }

  test("edge cases: null group keys, empty input, k exceeding group size") {
    import spark.implicits._
    val ord = Seq(desc("v"), asc("id"))
    // null keys form their own group, exactly like a window partition
    val withNulls = Seq((Some("a"), 1L, 1L), (None, 5L, 2L), (Some("a"), 3L, 3L),
      (None, 2L, 4L), (Some("b"), 9L, 5L))
      .toDF("g", "v", "id").repartition(3)
    val pruned = Relational.topkPerGroup(withNulls, Seq(col("g")), ord, 1)
    val w = Window.partitionBy("g").orderBy(ord: _*)
    val got = pruned.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 2L, 5L)) // max-v per group incl. the null group
    // k larger than any group: everything survives
    val all = Relational.topkPerGroup(withNulls, Seq(col("g")), ord, 100)
    assert(all.count() == 5)
    // empty input: empty output, no crash
    val empty = Relational.topkPerGroup(
      withNulls.filter(col("v") > 100), Seq(col("g")), ord, 3)
    assert(empty.count() == 0)
  }
}
