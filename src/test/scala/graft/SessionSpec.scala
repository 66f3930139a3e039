package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration: the context [[Session]] builds carries
  * every shared setting, and no other source file builds a session. */
class SessionSpec extends AnyFunSuite with LocalSpark {

  test("the session Session builds carries every shared setting") {
    // a new session reads the SQL settings the context was created with,
    // not ones a suite set on its own session afterwards
    val sql = spark.newSession().conf
    assert(sql.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(sql.get("spark.sql.session.timeZone") == "UTC")
    assert(sql.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val core = spark.sparkContext.getConf
    assert(core.get("spark.ui.enabled") == "false")
    assert(core.get("spark.cleaner.periodicGC.interval") == "2min")
    assert(core.get("spark.log.level") == "WARN")
  }

  test("graft/Session.scala is the only source file that builds a session") {
    val builds = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the project root (no $r)"))
    val builders = roots.flatMap(r => Files.walk(r).iterator.asScala.toList)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(builds))
      .map(_.toString).sorted
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }
}
