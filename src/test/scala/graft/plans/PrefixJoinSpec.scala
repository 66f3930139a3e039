package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup.{JacDen, JacNum}
import graft.LocalSpark

/** The prefix-join kernels against their definitions: the merge overlap
  * against Spark's `array_intersect`, the ppm against integer division,
  * and the pair expansion at the exact edges of its bounds. */
class PrefixJoinSpec extends AnyFunSuite with LocalSpark {

  private def arr(xs: Seq[Long]) = new GenericArrayData(xs.map(x => x: Any).toArray)

  private def ppm(a: Seq[Long], b: Seq[Long]): Option[Long] =
    Option(JaccardPpm(Literal(arr(a), ArrayType(LongType, false)),
      Literal(arr(b), ArrayType(LongType, false)), JacNum, JacDen).eval())
      .map(_.asInstanceOf[Long])

  /** Pairs of one posting list of (doc_id, n, rn) entries, sorted as the
    * operator sorts them. */
  private def pairs(entries: (Long, Int, Int)*): Seq[(Long, Long)] = {
    val t = ArrayType(new StructType().add("doc_id", LongType).add("n", IntegerType)
      .add("rn", IntegerType))
    val data = new GenericArrayData(entries.sorted.map { case (d, n, r) =>
      InternalRow(d, n, r): Any }.toArray)
    PrefixPairs(Literal(data, t), JacNum, JacDen).eval(InternalRow.empty).iterator
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("merge overlap equals size(array_intersect) on random ascending arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small value ranges force repeats and overlaps; the fixed cases add
    // empty, disjoint and identical arrays
    def draw(): Seq[Long] = Seq.fill(rnd.nextInt(12))(rnd.nextInt(rnd.nextInt(20) + 1).toLong).sorted
    val cases = Seq.fill(500)((draw(), draw())) ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]), (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)), (Seq(1L, 2L, 2L, 9L), Seq(1L, 2L, 2L, 9L)),
      (Seq(4L, 4L, 4L), Seq(4L)), (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MaxValue)))
    val want = cases.toDF("a", "b")
      .select(size(array_intersect(col("a"), col("b")))).collect().map(_.getInt(0).toLong)
    val got = cases.map { case (a, b) => PrefixJoin.overlap(arr(a), arr(b)) }
    assert(cases.exists { case (a, _) => a.distinct.size < a.size }, "repeats must occur")
    assert(got == want.toSeq)
  }

  test("jaccard ppm is c*1000000 div u, null exactly below the threshold") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 500) {
      val a = Seq.fill(rnd.nextInt(10) + 1)(rnd.nextInt(12).toLong).sorted
      val b = Seq.fill(rnd.nextInt(10) + 1)(rnd.nextInt(12).toLong).sorted
      val c = a.distinct.intersect(b.distinct).size.toLong
      val u = a.size + b.size - c
      assert(ppm(a, b) == (if (c * JacDen < u * JacNum) None else Some(c * 1000000L / u)))
    }
    // c·JacDen = u·JacNum is kept: c = 3, u = 5
    assert(ppm(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 5L)) == Some(600000L))
    // one shingle less in common: c = 2, u = 6
    assert(ppm(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 6L, 5L).sorted).isEmpty)
    assert(ppm(Nil, Nil).isEmpty && ppm(Nil, Seq(1L)).isEmpty)
  }

  test("pair expansion keeps the positional bound's edge and drops one rank past it") {
    // na = nb = 8 (prefix 4): 8·(1 + min(8 − ra, 8 − rb)) ≥ 3·16 holds
    // with equality at ra = rb = 3, fails at ra = 4
    assert(pairs((1L, 8, 3), (2L, 8, 3)) == Seq((1L, 2L)))
    assert(pairs((1L, 8, 4), (2L, 8, 3)).isEmpty)
    assert(pairs((1L, 8, 3), (2L, 8, 4)).isEmpty)
  }

  test("pair expansion reproduces the size filter at its edge") {
    // J ≥ 3/5 needs 3·max ≤ 5·min: sizes 5 and 3 pass, 6 and 3 do not,
    // even at the loosest ranks
    assert(pairs((1L, 5, 1), (2L, 3, 1)) == Seq((1L, 2L)))
    assert(pairs((1L, 6, 1), (2L, 3, 1)).isEmpty)
    // the bound implies the size filter at every rank
    for (na <- 1 to 30; nb <- 1 to 30; ra <- 1 to na; rb <- 1 to nb
         if PrefixJoin.positional(na, ra, nb, rb, JacNum, JacDen))
      assert(JacNum * math.max(na, nb) <= JacDen * math.min(na, nb), s"$na $ra $nb $rb")
  }

  test("pair expansion emits every passing instance pair with doc_a < doc_b, never a self pair") {
    // doc 3 holds the shingle twice (an intra-doc hash collision): it
    // never pairs with itself
    val got = pairs((5L, 4, 1), (3L, 4, 1), (9L, 4, 2), (3L, 4, 2), (7L, 20, 1))
    assert(got.forall { case (a, b) => a < b })
    assert(got.sorted == Seq((3L, 5L), (3L, 5L), (3L, 9L), (3L, 9L), (5L, 9L)))
  }
}
