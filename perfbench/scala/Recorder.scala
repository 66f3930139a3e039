package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of the Spark engine, observed from outside the
  * program: every job's interval, every completed stage attempt's task
  * metrics, every SQL execution's interval and whether it wrote a
  * `Scratch` materialization, and for every finished query the scan time
  * of its reads of materializations. Events are buffered on the listener
  * bus thread and copied into the record after the bus has drained. */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, stages: Seq[Int], var end: Long = -1L)
  final case class Stage(stage: Int, attempt: Int, tasks: Int, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, gcMs: Long)
  final case class Exec(atMs: Long, scratchScanMs: Long)
  final case class Sql(id: Long, root: Long, start: Long, scratchWrite: Boolean, var end: Long = -1L)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val sqls = mutable.LinkedHashMap.empty[Long, Sql]

  private def writesScratch(p: SparkPlanInfo): Boolean =
    (p.nodeName.contains("InsertIntoHadoopFsRelationCommand") && isScratch(p.simpleString)) ||
      p.children.exists(writesScratch)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val write = writesScratch(s.sparkPlanInfo)
      synchronized { sqls(s.executionId) = Sql(s.executionId,
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId), s.time, write) }
    case s: SparkListenerSQLExecutionEnd => synchronized { sqls.get(s.executionId).foreach(_.end = s.time) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      stages += Stage(i.stageId, i.attemptNumber(), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private def isScratch(path: String) = path.contains("graft_scratch")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val at = System.currentTimeMillis()
    val scanMs = Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(p => isScratch(p.toString)) =>
        s.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }.sum
    synchronized { execs += Exec(at, scanMs) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def write(spark: SparkSession, rec: ObjectNode): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val js = rec.putArray("jobs")
      jobs.values.foreach { j =>
        val o = js.addObject()
        o.put("id", j.id); o.put("start_ms", j.start); o.put("end_ms", j.end)
        val a = o.putArray("stages"); j.stages.foreach(a.add(_))
      }
      val ss = rec.putArray("stages")
      stages.foreach { s =>
        val o = ss.addObject()
        o.put("stage", s.stage); o.put("attempt", s.attempt); o.put("tasks", s.tasks)
        o.put("run_ms", s.runMs); o.put("cpu_ns", s.cpuNs); o.put("shuffle_read", s.shuffleRead)
        o.put("shuffle_write", s.shuffleWrite); o.put("spill", s.spill); o.put("gc_ms", s.gcMs)
      }
      val es = rec.putArray("execs")
      execs.foreach { e =>
        val o = es.addObject()
        o.put("at_ms", e.atMs); o.put("scratch_scan_ms", e.scratchScanMs)
      }
      val qs = rec.putArray("sql")
      sqls.values.foreach { q =>
        val o = qs.addObject()
        o.put("id", q.id); o.put("root", q.root); o.put("start_ms", q.start); o.put("end_ms", q.end)
        o.put("scratch_write", q.scratchWrite)
      }
    }
  }
}

object Recorder {
  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
