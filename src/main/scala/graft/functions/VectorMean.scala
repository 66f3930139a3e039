package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Mutable (sum vector, count) aggregation buffer. */
final case class VecMeanBuf(sum: Array[Double], var n: Long)

/** Typed vector-mean UDAF — the engine's user-facing aggregate extension
  * point (SURVEY.md §2 absent-table "UDF/UDAF surface"; §7.3's planned
  * `Aggregator` fallback). Semantically the recenter kernel
  * (`main/worker/worker.go:307-319` + `main/master/master.go:579-600`)
  * as ONE reusable aggregate: partial buffers merge associatively, so
  * Catalyst runs it map-side exactly like the built-in sum columns.
  *
  * The Lloyd loops recenter on decoded point blocks
  * ([[graft.kmeans.RefKMeans.lloyd]]), and the standalone recenter step
  * ([[graft.kmeans.KMeansSteps.recenterLong]]) keeps its d independent
  * `sum` columns inside codegen'd HashAggregate; this UDAF is the API
  * for ad-hoc vector means where d is unknown at plan time.
  */
object VectorMeanAgg extends Aggregator[Seq[Double], VecMeanBuf, Seq[Double]] {

  override def zero: VecMeanBuf = VecMeanBuf(Array.emptyDoubleArray, 0L)

  override def reduce(b: VecMeanBuf, a: Seq[Double]): VecMeanBuf = {
    if (a == null) return b
    val buf = if (b.sum.length == 0) VecMeanBuf(new Array[Double](a.length), b.n) else b
    var i = 0
    while (i < buf.sum.length && i < a.length) { buf.sum(i) += a(i); i += 1 }
    buf.n += 1
    buf
  }

  override def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf = {
    if (x.sum.length == 0) return y
    if (y.sum.length == 0) return x
    var i = 0
    while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
    x.n += y.n
    x
  }

  override def finish(b: VecMeanBuf): Seq[Double] =
    if (b.n == 0) Seq.empty else b.sum.map(_ / b.n).toSeq

  override def bufferEncoder: Encoder[VecMeanBuf] = Encoders.product[VecMeanBuf]
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
}
