package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-evidence dumper: writes the executed (AQE-final)
  * formatted plan of each named query to `<outDir>/<name>_<tag>.txt`,
  * appending the plan of every scratch BUILD the query triggered (for
  * iterative driver-loop operators the returned relation is a bounded
  * materialization — the scale-posture plans live in the builds, which
  * is exactly what the plan gate audits). Usage:
  * `runMain graft.PlanDump <outDir> <tag> <query>...`
  * Session config mirrors [[Bench]] (same master/shuffle knobs) so the
  * dumped plans are the ones the bench actually runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      graft.sources.Scratch.drainBuilds() // drop leftovers from prior query
      val sb = new StringBuilder
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).df.queryExecution
        qe.executedPlan.execute().count()
        sb ++= s"===== $name (executed final plan, sf=$sfDir) =====\n"
        sb ++= qe.explainString(FormattedMode).split("== Initial Plan ==")(0)
        graft.sources.Scratch.drainBuilds().foreach { case (key, bdf) =>
          sb ++= s"\n===== scratch build triggered by $name: $key =====\n"
          sb ++= bdf.queryExecution.explainString(FormattedMode)
        }
      } catch {
        case e: Throwable =>
          sb ++= s"ERROR dumping $name: ${e.getClass.getName}: ${e.getMessage}\n"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), sb.toString)
      spark.catalog.clearCache()
      println(s"[plandump] wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
