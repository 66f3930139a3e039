package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan evidence, on [[Session]]'s config so the plans are the ones the
  * bench runs.
  *
  * `runMain graft.PlanDump <outDir> <tag> <query>...` writes the
  * executed (AQE-final) formatted plan of each named query to
  * `<outDir>/<name>_<tag>.txt`, appending the plan of every scratch BUILD
  * the query triggered (for iterative driver-loop operators the returned
  * relation is a bounded materialization — the scale-posture plans live
  * in the builds, which is exactly what the plan gate audits).
  *
  * `runMain graft.PlanDump <outDir> <tag>` with no query names is the
  * plan hygiene sweep: per-query counts of the operators that signal
  * scale smells (exchanges, sort-merge/broadcast/nested-loop joins,
  * cartesian products, whole-stage-codegen stages), printed and written
  * to `<outDir>/summary_<tag>.txt`. PlanGateSpec runs the cartesian/NLJ
  * half of this sweep as a test gate on every `sbt test`. */
object PlanDump {

  /** Count operator occurrences on TREE lines ("Op ... (id)") only: the
    * executed AQE string carries the Final Plan tree, then numbered
    * details — counting "(id) Op" detail headers double-counts every
    * operator and resurrects joins AQE replaced at runtime. */
  def opCount(plan: String, op: String): Int =
    s"\\b$op\\b[^\\n]*\\(\\d+\\)".r.findAllIn(plan).length

  /** Materialize `df` (AQE finalizes plans only on execution: before it,
    * runtime SMJ→BHJ conversions, coalesced exchanges and codegen stage
    * ids do not exist) and return its formatted explain string. */
  private def executed(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    qe.explainString(FormattedMode)
  }

  private def finalSection(plan: String): String = plan.split("== Initial Plan ==")(0)

  /** The final-plan section of `df`'s executed formatted explain string. */
  def finalPlanString(df: DataFrame): String = finalSection(executed(df))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(file: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, file), text)
    if (names.isEmpty) {
      val summary = new StringBuilder
      def row(line: String): Unit = { println(line); summary ++= line + "\n" }
      row(f"${"query"}%-22s ex  smj  bhj  nlj cart  wsc")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val full = executed(fn(spark, sfDir).df)
          val p = finalSection(full)
          def count(op: String): Int = opCount(p, op)
          val flag = if (count("CartesianProduct") > 0 ||
            count("BroadcastNestedLoopJoin") > 0) "  <-- CHECK" else ""
          // wsc = number of whole-stage-codegen STAGES: FormattedMode
          // marks members as "[codegen id : N]" (details, final plan
          // only — initial-plan nodes are never compiled) — count
          // distinct ids over the full string
          val wsc = "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(full).map(_.group(1)).toSet.size
          row(f"$name%-22s ${count("Exchange")}%2d ${count("SortMergeJoin")}%4d " +
            f"${count("BroadcastHashJoin")}%4d ${count("BroadcastNestedLoopJoin")}%4d " +
            f"${count("CartesianProduct")}%4d $wsc%4d$flag")
        } catch { case e: Throwable => row(f"$name%-22s ERROR ${e.getMessage}") }
        spark.catalog.clearCache()
      }
      write(s"summary_$tag.txt", summary.toString)
    }
    for (name <- names) {
      graft.sources.Scratch.drainBuilds() // drop leftovers from prior query
      val sb = new StringBuilder
      try {
        val plan = finalPlanString(SparkEntry.queries(name)(spark, sfDir).df)
        sb ++= s"===== $name (executed final plan, sf=$sfDir) =====\n"
        sb ++= plan
        graft.sources.Scratch.drainBuilds().foreach { case (key, bdf) =>
          sb ++= s"\n===== scratch build triggered by $name: $key =====\n"
          sb ++= bdf.queryExecution.explainString(FormattedMode)
        }
      } catch {
        case e: Throwable =>
          sb ++= s"ERROR dumping $name: ${e.getClass.getName}: ${e.getMessage}\n"
      }
      write(s"${name}_$tag.txt", sb.toString)
      spark.catalog.clearCache()
      println(s"[plandump] wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
