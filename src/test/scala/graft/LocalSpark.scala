package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The test session: [[Session]]'s config at a pinned `local[4]` (never
  * SPARK_GRAFT_CPUS, so a suite's partition counts do not move with the
  * host), so the tests run the config that ships. Every suite runs in one
  * forked JVM and shares one context, so the settings must not differ by
  * suite. */
trait LocalSpark {
  lazy val spark: SparkSession = LocalSpark.builder.getOrCreate()
}

object LocalSpark {
  /** One warehouse for the whole JVM, outside the checkout: a context
    * re-created after a suite stops its own still finds the tables. */
  private lazy val warehouse = Files.createTempDirectory("graft_wh").toString

  def builder: SparkSession.Builder =
    Session.builder(4, 4).config("spark.sql.warehouse.dir", warehouse)
}
