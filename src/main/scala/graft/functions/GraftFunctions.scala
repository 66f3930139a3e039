package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Sqrt}
import org.apache.spark.sql.types.IntegerType

import graft.plans.{AvgHash, CharGrams, DotProduct, HashedShingles, SimHash60, SquaredDistance, WordHashN}

/** SQL registration of the native vector kernels, so `spark.sql` users
  * get the same codegen'd functions as the Scala API:
  *
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT vec_dist(a.embedding, b.embedding) FROM ...")
  * }}}
  */
object GraftFunctions {

  /** Static-int argument of a kernel function (window length, nibble
    * count, bit width) — must be a literal in the SQL text. */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal, got $other")
  }

  private val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (es => DotProduct(es(0), es(1))),
    "vec_sqdist" -> (es => SquaredDistance(es(0), es(1))),
    "vec_dist" -> (es => Sqrt(SquaredDistance(es(0), es(1)))),
    // text/hash kernels (md5-derived, DuckDB-reproducible — see each
    // expression's Scaladoc for the exact semantics)
    "word_hash" -> (es => WordHashN(es(0), litInt(es(1), "word_hash", "n_nibbles"))),
    "char_grams" -> (es => CharGrams(es(0), litInt(es(1), "char_grams", "n"))),
    "avg_hash" -> (es => AvgHash(es(0), litInt(es(1), "avg_hash", "bits"))),
    "hashed_shingles" -> (es =>
      HashedShingles(es(0), litInt(es(1), "hashed_shingles", "n"))),
    "simhash60" -> (es => SimHash60(es(0))))

  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // typed-Aggregator extension point (partial-aggregating UDAF)
    spark.udf.register("vec_mean",
      org.apache.spark.sql.functions.udaf(VectorMeanAgg))
  }
}
