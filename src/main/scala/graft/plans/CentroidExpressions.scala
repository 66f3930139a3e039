package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-centroid kernels as Catalyst expressions, for one-shot
  * queries over frozen centroids: the final assignment
  * ([[graft.kmeans.RefKMeans.assign]]), the frozen-state and step queries
  * ([[graft.kmeans.FitFinal]], [[graft.kmeans.KMeansSteps]]) and the
  * similarity and streaming consumers. The reference fit's own loop does
  * not plan these: it runs its rounds over decoded point blocks
  * ([[graft.kmeans.RefKMeans]]) and calls the same fold,
  * [[CentroidKernel.nearest]], directly.
  *
  * Compared with the literal form ([[graft.functions.VectorOps.nearest]])
  * the centroids ride as a plain object reference, so plans that differ
  * only in their centroids share one plan shape and one generated source
  * (no fresh Janino compile per centroid set), and the eval is a tight
  * loop with no per-centroid struct.
  *
  * Semantics are identical to the literal form bit-for-bit: sequential
  * (x−y)² fold per centroid (`utils/utils.go:46-54`), strict `<` argmin
  * keeps the lowest centroid id on ties (`worker.go:297-301`).
  */
abstract class CentroidKernel extends UnaryExpression with CodegenFallback {

  def centroids: Array[Array[Double]]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE>, got ${t.simpleString}")
  }

  /** (argmin index, min squared distance). */
  protected final def nearest(arr: ArrayData): (Int, Double) =
    CentroidKernel.nearest(arr.toDoubleArray(), centroids)
}

object CentroidKernel {

  /** (argmin index, min squared distance) of `x` over `centroids`: a
    * sequential (x−y)² fold over the common prefix of each pair, and a
    * strict `<` argmin, so the lowest index wins ties. A point whose every
    * distance is NaN or +∞ gets (−1, +∞). */
  def nearest(x: Array[Double], centroids: Array[Array[Double]]): (Int, Double) = {
    var best = Double.PositiveInfinity
    var bi = -1
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(x.length, cent.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x(i) - cent(i)
        s += d * d
        i += 1
      }
      if (s < best) { best = s; bi = c }
      c += 1
    }
    (bi, best)
  }
}

/** Argmin centroid index (the E-step assignment kernel). */
case class NearestCentroidId(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(nearest(v.asInstanceOf[ArrayData])._1)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_centroid_id"
}

/** Min squared distance to the centroid set (the min-distance kernel). */
case class MinSqDistToCentroids(child: Expression, centroids: Array[Array[Double]])
    extends CentroidKernel {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(nearest(v.asInstanceOf[ArrayData])._2)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "min_sqdist_to_centroids"
}
