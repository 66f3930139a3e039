package graft
import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the static oracles and the ones the queries
  * returned), for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // dev-loop subset filter (unset for the driver's full run):
    // SPARK_GRAFT_ONLY=q1_agg,topk_window verifies just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // exclusion twin of ONLY (e.g. skipping declared-quadratic baselines
    // in an oversized-sf sweep)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    def keep(name: String): Boolean =
      only.forall(_.contains(name)) && !skip.contains(name)
    // Queries that crash before dumping must still be visible in the
    // correctness record (the r7 driver artifact silently omitted six
    // crashed queries): collect name → exception and write errors.json
    // alongside the dumps for compare_oracle.py to merge as err entries.
    val errors = Map.newBuilder[String, String]
    val returned = Map.newBuilder[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      // boundary line on the stream Spark logs to: every log line up to
      // the next one belongs to this query
      System.err.println(s"[verify] begin $name")
      try {
        val Checked(df, oracle) = fn(spark, sfDir)
        // hashed-output typing rule (FIXTURES.md, r12): the driver's
        // hasher canonicalizes DECIMAL values differently from the
        // local DuckDB (the r11 4-query breach) — fail the dump loudly
        // before a DECIMAL-typed result ships to the compare
        val dec = OracleAudit.decimalFields(df.schema)
        if (dec.nonEmpty) throw new IllegalStateException(
          s"$name emits DecimalType output (${dec.mkString(", ")}): " +
            "hashed outputs must be BIGINT/STRING/DATE/DOUBLE " +
            "(FIXTURES.md typing rule)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        oracle.foreach(returned += name -> _)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      spark.catalog.clearCache()
    }
    // negative-// audit over every static oracle plus the ones the
    // queries returned: a version-unportable division must fail the
    // dump loudly, not ship to the driver's DuckDB (the r10
    // stats_ols/ts_autocorr breach)
    val returnedOracles = returned.result()
    val violations = OracleAudit.auditAll(SparkEntry.oracleSql ++ returnedOracles)
    if (violations.nonEmpty)
      throw new IllegalStateException(
        "negative-division oracle audit failed (FIXTURES.md negative-// " +
          "rule):\n" + violations.mkString("\n"))
    // Jackson escapes quotes, backslashes and every control char, so the
    // driver's json.load reads any builder-authored SQL
    val oracles = SparkEntry.oracleSql.filter(kv => keep(kv._1)) ++ returnedOracles
    val json = new ObjectMapper()
    json.writeValue(new File(s"$outDir/oracle_sql.json"), oracles.asJava)
    json.writeValue(new File(s"$outDir/errors.json"), errors.result().asJava)
    spark.stop()
  }
}
