package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.LocalSpark

/** Generic time-join operators vs brute-force references on randomized
  * (seeded) data — the scalable formulations must equal the obvious
  * O(n·m) definitions exactly. */
class JoinsSpec extends AnyFunSuite with LocalSpark {

  private val rnd = new Random(42)
  private def mkLeft(n: Int) =
    (0 until n).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
  private def mkRight(m: Int) =
    (0 until m).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, (1000 + i).toLong))

  test("Joins.asof equals the brute-force latest-preceding lookup") {
    import spark.implicits._
    val lRows = mkLeft(300)
    // unique (key, ts) on the right — the operator's documented contract
    val rRows = mkRight(200).groupBy(r => (r._1, r._2)).values.map(_.minBy(_._3)).toSeq
    val l = lRows.toDF("key", "ts", "lid")
    val r = rRows.toDF("key", "ts", "rid")
    val got = Joins.asof(l, r, "rid")
      .select("lid", "rid")
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    val byKey = rRows.groupBy(_._1)
    val want = lRows.map { case (k, ts, lid) =>
      val preceding = byKey.getOrElse(k, Seq.empty).filter(_._2 <= ts)
      // carry-forward picks the LATEST ts; equal-ts right rows are unique
      lid -> (if (preceding.isEmpty) -1L else preceding.maxBy(r => (r._2, r._3))._3)
    }.toMap
    assert(got == want)
  }

  test("Joins.interval equals the brute-force window-containment filter") {
    import spark.implicits._
    val len = 100L
    val lRows = mkLeft(300)
    val rRows = mkRight(200)
    val l = lRows.toDF("key", "ts_us", "lid")
    val r = rRows.toDF("key", "start_us", "rid")
    val got = Joins.interval(l, r, len)
      .select("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      (lk, lts, lid) <- lRows
      (rk, rs, rid) <- rRows
      if lk == rk && lts >= rs && lts < rs + len
    } yield (lid, rid)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("Joins.interval handles negative timestamps (floor, not truncate, binning)") {
    import spark.implicits._
    val len = 100L
    // center the time axis on zero so windows straddle the sign boundary
    val lRows = mkLeft(300).map { case (k, ts, id) => (k, ts - 500L, id) }
    val rRows = mkRight(200).map { case (k, s, id) => (k, s - 500L, id) }
    val got = Joins.interval(
        lRows.toDF("key", "ts_us", "lid"), rRows.toDF("key", "start_us", "rid"), len)
      .select("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      (lk, lts, lid) <- lRows
      (rk, rs, rid) <- rRows
      if lk == rk && lts >= rs && lts < rs + len
    } yield (lid, rid)).toSet
    assert(got == want && want.nonEmpty)
  }
}
