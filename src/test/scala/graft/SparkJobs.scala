package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object SparkJobs {

  /** Number of Spark jobs `body` runs on this thread, from job starts
    * tagged with a fresh job group. The listener bus is FIFO, so once a
    * later marker job's start arrives every earlier start has too. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[U](g: String)(f: => U): U = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-marker"), "marker job start never arrived")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
