package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan hygiene sweep: compact per-query counts of the operators that
  * signal scale smells (cartesian/NLJ joins, exchanges), plus full
  * formatted plans for names passed as args. `runMain graft.PlanAudit`
  * for the summary; add query names for details. PlanGateSpec runs the
  * cartesian/NLJ half of this sweep as a test gate on every `sbt test`. */
object PlanAudit {

  /** Count operator occurrences on TREE lines ("Op ... (id)") only: the
    * executed AQE string carries the Final Plan tree, then numbered
    * details — counting "(id) Op" detail headers double-counts every
    * operator and resurrects joins AQE replaced at runtime. */
  def opCount(plan: String, op: String): Int =
    s"\\b$op\\b[^\\n]*\\(\\d+\\)".r.findAllIn(plan).length

  /** Materialize `df` (AQE finalizes plans only on execution) and return
    * the final-plan section of its formatted explain string. */
  def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    qe.explainString(FormattedMode).split("== Initial Plan ==")(0)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // match Bench/Verify/PlanDump: AQE may re-partition cached plans
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // match Bench/Verify: Tables.events NTZ cast is zone-dependent
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.nonEmpty) {
      for (name <- args) {
        println(s"\n===== $name =====")
        println(SparkEntry.queries(name)(spark, sf).df.queryExecution
          .explainString(FormattedMode))
      }
    } else {
      def count(p: String, op: String): Int = opCount(p, op)
      println(f"${"query"}%-22s ex  smj  bhj  nlj cart  wsc")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          // materialize first: under AQE the pre-execution plan is the
          // INITIAL one — runtime SMJ→BHJ conversions, coalesced
          // exchanges and codegen stage ids only exist in the final plan
          val qe = fn(spark, sf).df.queryExecution
          qe.executedPlan.execute().count()
          val full = qe.explainString(FormattedMode)
          val p = full.split("== Initial Plan ==")(0)
          val flag = if (count(p, "CartesianProduct") > 0 ||
            count(p, "BroadcastNestedLoopJoin") > 0) "  <-- CHECK" else ""
          println(f"$name%-22s ${count(p, "Exchange")}%2d ${count(p, "SortMergeJoin")}%4d " +
            f"${count(p, "BroadcastHashJoin")}%4d ${count(p, "BroadcastNestedLoopJoin")}%4d " +
            f"${count(p, "CartesianProduct")}%4d " +
            // wsc = number of whole-stage-codegen STAGES: FormattedMode
            // marks members as "[codegen id : N]" (details, final plan
            // only — initial-plan nodes are never compiled) — count
            // distinct ids over the full string
            f"${"\\[codegen id : (\\d+)\\]".r.findAllMatchIn(full).map(_.group(1)).toSet.size}%4d$flag")
        } catch { case e: Throwable => println(f"$name%-22s ERROR ${e.getMessage}") }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
