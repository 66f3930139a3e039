package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** SQL-registered native vector kernels. */
class GraftFunctionsSpec extends AnyFunSuite with LocalSpark {

  test("vec_dot / vec_sqdist / vec_dist usable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       vec_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS sq,
        |       vec_dist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS dist""".stripMargin)
      .head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 25.0)
    assert(r.getDouble(2) === 5.0)
  }

  test("text/hash kernels usable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT word_hash('abc', 15) AS wh,
        |       char_grams('abcd', 3) AS cg,
        |       hashed_shingles(array('a', 'b', 'c', 'd'), 3) AS hs,
        |       simhash60(array('a', 'b')) AS sh,
        |       avg_hash('hello world', 7) AS ah""".stripMargin).head()
    assert(r.getLong(0) == HashOps.wordHashNScala("abc", 15))
    assert(r.getSeq[String](1) == Seq("abc", "bcd"))
    assert(r.getSeq[Long](2).length == 2) // "a b c", "b c d"
    assert(r.getLong(3) >= 0L && r.getLong(4) >= 0L)
  }

  test("native word_hash matches the composed md5-nibble form and the Scala twin") {
    import org.apache.spark.sql.functions._
    val strs = Seq("", "a", "the quick brown fox", "groß-étrange-日本語",
      "plane_3:17", "strat:42", "x" * 200)
    import spark.implicits._
    val df = strs.toDF("s")
    for (n <- Seq(1, 8, 15)) {
      // the pre-kernel composed formulation, kept here as the spec
      val h = md5(col("s").cast("binary"))
      val composed = (1 to n).map(j =>
        HashOps.nib(h, j) * lit(1L << (4 * (n - j)))).reduce(_ + _)
      val rows = df.select(col("s"), HashOps.wordHashN(col("s"), n).as("k"),
        composed.as("c")).collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"n=$n mismatch for '${r.getString(0)}'")
        assert(r.getLong(1) == HashOps.wordHashNScala(r.getString(0), n))
        assert(r.getLong(1) >= 0L)
      }
    }
  }

  test("native char_grams matches the transform+substr form on unicode and edges") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import spark.implicits._
    val strs = Seq("", "ab", "abc", "abcd", "日本語のテキスト", "a日b本c", "x" * 50)
    val df = strs.toDF("s")
    for (n <- Seq(1, 3, 5)) {
      val composed = when(length(col("s")) >= n,
        transform(sequence(lit(1), length(col("s")) - (n - 1)),
          i => col("s").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(col("s"),
        column(graft.plans.CharGrams(expression(col("s")), n)).as("k"),
        composed.as("c")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n mismatch for '${r.getString(0)}'")
      }
    }
  }

  test("native avg_hash matches the exploded bucket formulation, null on empty") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import spark.implicits._
    val bits = 7 // small bucket count exercises wraparound on short strings
    val strs = Seq("a", "hello world, this is a longer line", "日本語のテキスト",
      "mixed a日b ascii", "x" * 100, ('a' to 'z').mkString)
    val df = strs.toDF("s")
    // the exploded spec: bucket sums/counts vs cross-multiplied global mean
    val want = strs.map { s =>
      val cps = s.codePoints().toArray
      val sums = new Array[Long](bits); val cnts = new Array[Long](bits)
      cps.zipWithIndex.foreach { case (cp, k) =>
        sums(k % bits) += cp; cnts(k % bits) += 1
      }
      val (ts, tc) = (cps.map(_.toLong).sum, cps.length.toLong)
      (0 until bits).map(b => if (sums(b) * tc > ts * cnts(b)) 1L << b else 0L).sum
    }
    val got = df.select(column(graft.plans.AvgHash(expression(col("s")), bits)))
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    val empty = Seq("").toDF("s")
      .select(column(graft.plans.AvgHash(expression(col("s")), bits)))
      .collect()
    assert(empty.head.isNullAt(0), "empty string must hash to NULL (dropped doc)")
  }

  test("vec_mean UDAF partial-aggregates to the per-dimension mean") {
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .repartition(4) // force partial buffers to merge across partitions
    e.createOrReplaceTempView("vm_vecs")
    val got = spark.sql(
      "SELECT label, vec_mean(v) AS m FROM vm_vecs GROUP BY label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val want = e.groupBy("label")
      .agg(count(lit(1)).as("n"),
        (0 until 64).map(i => sum(col("v").getItem(i)).as(s"s$i")): _*)
      .collect().map { r =>
        r.getInt(0) -> (0 until 64).map(i => r.getDouble(2 + i) / r.getLong(1))
      }.toMap
    assert(got.keySet == want.keySet)
    for (k <- got.keySet; i <- 0 until 64)
      assert(math.abs(got(k)(i) - want(k)(i)) < 1e-12, s"label $k dim $i")
  }

  test("kernels match the HOF-equivalent on table data") {
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.createOrReplaceTempView("e_vecs")
    val native = spark.sql(
      "SELECT sum(vec_sqdist(v, v)) FROM e_vecs").head().getDouble(0)
    val hof = e.select(sum(aggregate(zip_with(col("v"), col("v"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))).head().getDouble(0)
    assert(native === hof)
  }

  test("vec_sqdist keeps HOF NULLs on null/ragged rows") {
    // a kernel call must equal the aggregate(zip_with …) fold it stands
    // for, which the DuckDB oracles replay, on ANY input: a NULL element
    // and a ragged pair both give NULL. The rows stay parquet-backed so
    // nothing constant-folds before the kernel runs.
    GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("vec_id",
        """CASE WHEN vec_id % 3 = 0
          |       THEN transform(v, (x, i) -> IF(i = 0, CAST(NULL AS DOUBLE), x))
          |     WHEN vec_id % 3 = 1 THEN slice(v, 1, size(v) - 1)
          |     ELSE v END AS a""".stripMargin,
        "v AS b")
      .createOrReplaceTempView("ragged_vecs")
    def bits(expr: String): Map[Long, Option[Long]] =
      spark.sql(s"SELECT vec_id, $expr FROM ragged_vecs").collect().map(r =>
        r.getLong(0) -> Option.when(!r.isNullAt(1))(
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toMap
    val native = bits("vec_sqdist(a, b)")
    assert(native ==
      bits("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0D, (s, x) -> s + x)"))
    // every third row has a null element, the next third is ragged
    assert(native.collect { case (id, None) => id % 3 }.toSet == Set(0L, 1L))
    assert(native.exists { case (id, v) => id % 3 == 2 && v.isDefined })
  }
}
