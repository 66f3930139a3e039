package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The two native stages of the PPJoin prefix-filter similarity join
  * ([[graft.operators.Dedup.jaccardPrefix]]); the threshold is the exact
  * rational `jacNum/jacDen`, so every test stays in integer space. */
object PrefixJoin {

  /** PPJoin's positional filter (Xiao et al., WWW 2008) for one shared
    * prefix shingle at 1-based rank `ra` in doc a (`na` shingles) and `rb`
    * in doc b: at most `1 + min(na − ra, nb − rb)` shingles can be common
    * from here on, so the pair can reach J ≥ jacNum/jacDen (⇔
    * (jacNum + jacDen)·c ≥ jacNum·(na + nb)) only if that bound can.
    *
    * Implies the size filter `jacNum·max(na, nb) ≤ jacDen·min(na, nb)`:
    * ranks are ≥ 1, so the bound is at most min(na, nb). */
  def positional(na: Long, ra: Long, nb: Long, rb: Long, jacNum: Int, jacDen: Int): Boolean =
    (jacNum + jacDen) * (1 + math.min(na - ra, nb - rb)) >= jacNum * (na + nb)

  /** Number of DISTINCT values two ascending arrays share — one merge
    * pass; equals `size(array_intersect(a, b))` also when a value repeats
    * (two shingles of one document colliding on 60 bits). */
  def overlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == x) j += 1
      }
    }
    c
  }
}

/** Pair expansion of one prefix posting list: ARRAY<STRUCT<doc_id BIGINT,
  * n INT, rn INT>> sorted by doc_id (n = the doc's shingle count, rn =
  * the shingle's 1-based rank in the doc's prefix) → one (doc_a, doc_b)
  * row, doc_a < doc_b, per entry pair that passes
  * [[PrefixJoin.positional]]. Rows are produced lazily, so a long list
  * never materializes its pairs. */
case class PrefixPairs(child: Expression, jacNum: Int, jacDen: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = new StructType()
    .add("doc_a", LongType, nullable = false)
    .add("doc_b", LongType, nullable = false)

  override def supportCodegen: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, IntegerType, _, _),
        StructField(_, IntegerType, _, _))), _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"prefix_pairs requires ARRAY<STRUCT<BIGINT, INT, INT>>, got ${t.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ds = child.eval(input).asInstanceOf[ArrayData]
    if (ds == null) return Iterator.empty
    val m = ds.numElements()
    val id = new Array[Long](m)
    val n = new Array[Long](m)
    val r = new Array[Long](m)
    for (k <- 0 until m) {
      val e = ds.getStruct(k, 3)
      id(k) = e.getLong(0); n(k) = e.getInt(1); r(k) = e.getInt(2)
    }
    for {
      i <- Iterator.range(0, m)
      j <- Iterator.range(i + 1, m)
      if id(i) < id(j) && PrefixJoin.positional(n(i), r(i), n(j), r(j), jacNum, jacDen)
    } yield InternalRow(id(i), id(j))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "prefix_pairs"
}

/** Exact Jaccard of two ascending shingle-hash arrays as integer ppm
  * (`c·1000000 div u`, c = [[PrefixJoin.overlap]], u = size(a) + size(b)
  * − c), or NULL when `c·jacDen < u·jacNum` (below the threshold) or both
  * arrays are empty (no union). Replaces per-candidate
  * `size(array_intersect(a, b))` hash-set builds with one merge. */
case class JaccardPpm(left: Expression, right: Expression, jacNum: Int, jacDen: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"jaccard_ppm requires two ARRAY<BIGINT>, got ${a.simpleString}, ${b.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val c = PrefixJoin.overlap(x, y)
    val u = x.numElements() + y.numElements() - c
    if (u == 0 || c * jacDen < u * jacNum) null else c * 1000000L / u
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_ppm"
}
