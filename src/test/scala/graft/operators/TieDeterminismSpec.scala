package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** Tie-determinism gate for every top-k finisher (VERDICT r12 task 7):
  * the ANN finishers ([[Similarity]].rankTopK / rankRag), the samplers
  * ([[Pipeline.bottomKSample]], [[Pipeline]].rankReservoir →
  * `sample_weighted`/`ReservoirStream`) and every other
  * [[Relational.topkPerGroup]] / TakeOrderedAndProject consumer rely on
  * a LEXICOGRAPHIC (score, id) total order for their cross-engine
  * hashes — a refactor that drops the id tiebreak would still pass on
  * tie-free fixtures and silently hash-diverge on real data. These
  * properties drive the shared finisher composition over randomized
  * heavy-duplicate scores, in both sort directions, across partition
  * layouts, against a driver-side reference sort. */
class TieDeterminismSpec extends AnyFunSuite with LocalSpark {

  /** The consumer composition every per-group finisher uses: phase-1
    * bounded-heap prune, then the exact rank window, then the k cut. */
  private def finish(df: DataFrame, ord: Seq[org.apache.spark.sql.Column],
      k: Int): DataFrame = {
    val w = Window.partitionBy("grp").orderBy(ord: _*)
    Relational.topkPerGroup(df, Seq(col("grp")), ord, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("grp", "rank", "score", "id")
  }

  test("per-group finisher: (score, id) lexicographic order under heavy ties, any partitioning") {
    import spark.implicits._
    val k = 7
    for (seed <- Seq(1, 42, 2026)) {
      val rnd = new scala.util.Random(seed)
      // 400 rows, 4 groups, only FIVE distinct scores → ~20 ties per
      // (group, score) cell: the id tiebreak decides almost every rank
      val rows = (0 until 400)
        .map(i => (i.toLong, s"g${rnd.nextInt(4)}", rnd.nextInt(5).toLong))
      val df = rows.toDF("id", "grp", "score")
      for (descending <- Seq(false, true)) {
        val ord =
          if (descending) Seq(desc("score"), asc("id"))
          else Seq(asc("score"), asc("id"))
        val want = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
          val sorted = rs
            .sortBy(r => (if (descending) -r._3 else r._3, r._1))
            .take(k)
          sorted.zipWithIndex.map { case (r, i) =>
            (g, i + 1, r._3, r._1)
          }
        }.toSet
        // partitioning-independence: the per-partition heaps see
        // different row subsets under each layout, but the composed
        // finisher must emit the identical ranked rows
        for (parts <- Seq(1, 3, 32)) {
          val got = finish(df.repartition(parts), ord, k).collect()
            .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
            .toSet
          assert(got == want,
            s"seed=$seed desc=$descending parts=$parts: " +
              s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
        }
      }
    }
  }

  test("reservoir finisher: duplicate priorities rank by doc_id, any partitioning") {
    import spark.implicits._
    val k = 10
    val rnd = new scala.util.Random(7)
    // 300 docs, only 4 distinct priorities → the bottom-k cut lands
    // INSIDE a tie run, so the selection itself depends on the tiebreak
    val rows = (0 until 300)
      .map(i => (i.toLong, 1L + rnd.nextInt(3).toLong, rnd.nextInt(4).toLong))
    val want = rows.sortBy(r => (r._3, r._1)).take(k).zipWithIndex
      .map { case (r, i) => (i + 1L, r._1, r._2, r._3) }
    for (parts <- Seq(1, 5, 32)) {
      val df = rows.toDF("doc_id", "w", "priority").repartition(parts)
      val got = Pipeline.rankReservoir(df, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == want, s"parts=$parts: got=$got want=$want")
    }
  }

  test("ANN finisher end-to-end: identical cosines rank by n_id") {
    import spark.implicits._
    // ids 100-109 carry the SAME vector (cosine 1.0 with the query,
    // ten-way tie); ids 1-9 are orthogonal noise. Top-5 must be the
    // five LOWEST tied ids in order.
    val d = java.nio.file.Files.createTempDirectory("graft_ann_ties").toString
    val base = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val noise = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val vecs = Seq((0L, base)) ++ (1L to 9L).map(i => (i, noise)) ++
      (100L to 109L).map(i => (i, base))
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.bruteTopK(spark, d, nQueries = 1, k = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == (1L to 5L).map(r => (r, 99L + r)),
      s"ties must break by ascending n_id: ${got.toSeq}")
  }
}
