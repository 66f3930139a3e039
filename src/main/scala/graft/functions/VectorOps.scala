package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector kernels over `ARRAY<DOUBLE>`.
  *
  * All kernels are built from Spark's higher-order array functions
  * (`zip_with` / `aggregate` / `transform`) so they stay inside
  * whole-stage codegen — no Scala UDFs, no serialization boundary.
  * The fold in [[sqDist]] is sequential left-to-right, which pins the
  * floating-point summation order (needed for DuckDB-oracle parity).
  *
  * Reference kernels re-expressed here:
  *  - Euclidean distance `utils/utils.go:46-54`
  *  - nearest-centroid classify (argmin, first-index tie-break via the
  *    strict `>` at `main/worker/worker.go:297-301`)
  *  - farthest-point scoring (min-distance-to-centroid-set,
  *    `main/worker/worker.go:232-245`)
  */
object VectorOps {

  /** Squared Euclidean distance. Native codegen kernel
    * ([[graft.plans.SquaredDistance]]) — same sequential left-to-right
    * summation as the HOF fold `aggregate(zip_with(...))` it replaced
    * (bit-identical results), but allocation-free. */
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def sqDist(a: Column, b: Column): Column =
    column(graft.plans.SquaredDistance(expression(a), expression(b)))

  /** Euclidean distance (`utils/utils.go:46-54`). */
  def dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  def dot(a: Column, b: Column): Column =
    column(graft.plans.DotProduct(expression(a), expression(b)))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Centroids as a literal ARRAY<STRUCT<cid INT, c ARRAY<DOUBLE>>> column.
    * Centroids are k×d doubles — tiny — so they ride into the plan as a
    * literal: the Spark-native form of the reference's per-iteration
    * centroid broadcast (`main/master/master.go:313-333`,
    * `utils/structs.go:34-37`). No join, no shuffle. */
  def centroidsLit(cs: Seq[(Int, Array[Double])]): Column =
    array(cs.map { case (cid, v) =>
      struct(lit(cid).as("cid"), array(v.toIndexedSeq.map(lit(_)): _*).as("c"))
    }: _*)

  /** STRUCT<sqdist, cid> of the nearest centroid. `array_min` on the
    * struct orders lexicographically by (sqdist, cid), so ties pick the
    * lowest cid — the reference's first-index tie-break
    * (`main/worker/worker.go:297-301`). */
  def nearest(features: Column, cs: Seq[(Int, Array[Double])]): Column =
    array_min(transform(centroidsLit(cs), c =>
      struct(sqDist(features, c.getField("c")).as("sqdist"),
        c.getField("cid").as("cid"))))

  /** E-step assignment: nearest centroid id (`worker.go:288-304`). */
  def nearestCid(features: Column, cs: Seq[(Int, Array[Double])]): Column =
    nearest(features, cs).getField("cid")

  /** Min distance to the centroid set — the k-means++ scoring kernel
    * (`worker.go:232-245`). */
  def minDist(features: Column, cs: Seq[(Int, Array[Double])]): Column =
    sqrt(nearest(features, cs).getField("sqdist"))

  /** [[nearestCid]] as a native kernel ([[graft.plans.NearestCentroidId]]):
    * bit-identical argmin/tie-break/FP semantics, but centroids ride as an
    * object reference — one plan shape whatever the centroids, and no
    * per-centroid struct allocation per row. Centroid ids must be the
    * array positions 0..k-1 (the [[graft.kmeans.KMeansSteps.centroids]]
    * convention). */
  def nearestCidK(features: Column, cs: Array[Array[Double]]): Column =
    column(graft.plans.NearestCentroidId(expression(features), cs))

  /** [[minDist]] as a native kernel ([[graft.plans.MinSqDistToCentroids]]). */
  def minDistK(features: Column, cs: Array[Array[Double]]): Column =
    sqrt(column(graft.plans.MinSqDistToCentroids(expression(features), cs)))

  /** Contiguous-bucket projection of a d-dim vector to `nBuckets` dims by
    * averaging each slice — the reference's deterministic `reshape`
    * (`plot/plotter.go:114-137`). Pure array expressions, per-row, no
    * shuffle. */
  def reshape(v: Column, d: Int, nBuckets: Int): Column = {
    val base = d / nBuckets
    val rem = d % nBuckets
    array((0 until nBuckets).map { b =>
      val start = b * base + math.min(b, rem)
      val len = base + (if (b < rem) 1 else 0)
      aggregate(slice(v, start + 1, len), lit(0.0), (acc, x) => acc + x) / lit(len.toDouble)
    }: _*)
  }
}
