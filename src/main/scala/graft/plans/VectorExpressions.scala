package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the dense-vector hot kernels.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`,
  * [[graft.functions.VectorOps]]) is correct but allocates a zipped array
  * per evaluation — measurable on O(N²) pairwise operators (65 s for the
  * 2M-pair cosine at sf0.1). These expressions generate a tight scalar
  * loop over the two `ArrayData` (no allocation, stays inside
  * whole-stage codegen) with the SAME sequential left-to-right summation
  * order, so results — and the DuckDB oracle parity — are bit-identical
  * to the HOF fold they replace.
  *
  * This is preference path (b) of the build contract: a custom
  * `Expression` where the built-in operators genuinely underperform;
  * kernel semantics from the reference's `utils/utils.go:46-54`.
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // NULL semantics match the HOF fold exactly (so a kernel call and the
  // `aggregate(zip_with …)` form, and the DuckDB oracle replaying it,
  // agree on ANY input, not just the engine's non-null fixed-dimension
  // vectors): ragged lengths → NULL
  // (zip_with pads the short side with null) and any NULL element → NULL
  // (null poisons the arithmetic and the running sum). Hence nullable
  // even over non-null inputs — raggedness is a runtime property.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Scalar Java expression combining `x` and `y` into the summand. */
  protected def summandJava(x: String, y: String): String
  protected def summand(x: Double, y: Double): Double

  private def mayContainNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += summand(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // per-element null test only when the schema can't rule nulls out —
      // the engine's vector columns keep the branch-free tight loop
      val nullGuard =
        if (mayContainNullElems(left) || mayContainNullElems(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $s += ${summandJava(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })
}

/** Σ xᵢ·yᵢ — dot product. */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {
  override protected def summandJava(x: String, y: String): String = s"$x * $y"
  override protected def summand(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** Σ (xᵢ−yᵢ)² — squared Euclidean distance (`utils/utils.go:46-54`
  * without the final sqrt). */
case class SquaredDistance(left: Expression, right: Expression) extends VectorFoldExpression {
  override protected def summandJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def summand(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_sqdist"
}
