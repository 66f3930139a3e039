package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobs.jobsOf
import graft.LocalSpark

/** [[Tables.parquet]]: the schema resolved from one footer on the driver
  * is the one Spark's inference job would return, opening a table or
  * reading a scratch dir back starts no Spark job, and every case the
  * driver-side read does not cover reaches Spark's own inference and
  * errors unchanged. */
class ParquetReadSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  // the relation reports every parquet column nullable (Spark applies
  // `asNullable` to inferred and declared schemas alike)
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The driver-side schema, which must exist and be inference's. */
  private def assertResolved(path: String): Unit = {
    val driver = Tables.footerSchema(spark, path)
    assert(driver.isDefined, s"no driver-side schema for $path")
    val inferred = spark.read.parquet(path).schema
    assert(nullable(driver.get) == inferred, path)
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  private def dataFiles(dir: String) =
    new java.io.File(dir).listFiles.filter(_.getName.startsWith("part-")).sortBy(_.getPath)

  // every column kind the engine writes: long, double, string, arrays,
  // structs, maps, timestamps, dates, decimals, nulls
  private def wide = spark.range(64).select(
    col("id"), (col("id") * 0.5).as("x"), col("id").cast("string").as("s"),
    array(col("id").cast("double"), lit(1.0)).as("v"),
    struct(col("id").as("a"), lit("b").as("b")).as("st"),
    map(col("id"), col("id").cast("string")).as("m"),
    timestamp_micros(col("id")).as("ts"), date_add(lit("2020-01-01").cast("date"), 1).as("d"),
    (col("id") / 7).cast("decimal(12,3)").as("dec"),
    when(col("id") % 2 === 0, lit(null).cast("string")).as("maybe"))

  test("the driver-resolved schema is Spark's inferred one: fixture tables, scratch and multi-file dirs") {
    for (nanos <- Seq("true", "false"); t <- Tables.all)
      withConf(NanosAsLong, nanos)(assertResolved(s"$sf/$t.parquet"))
    val one = s"${tmp("graft_pq")}/one"
    wide.write.parquet(one)
    assertResolved(one)
    val many = s"${tmp("graft_pq")}/many"
    wide.repartition(32).write.parquet(many)
    assert(dataFiles(many).length == 32)
    assertResolved(many)
  }

  test("the footer read is the one inference touches: first data file by path, else a summary file") {
    // two writes of different schemas into one dir: inference reads the
    // first data file by path string, and so must the driver
    val mixed = tmp("graft_pq_mixed")
    spark.range(3).select(col("id").as("a")).write.mode("append").parquet(mixed)
    spark.range(3).select(col("id").cast("string").as("b")).write.mode("append").parquet(mixed)
    assertResolved(mixed)
    // a summary file wins over every data file; `_common_metadata` over `_metadata`
    val other = tmp("graft_pq_other")
    spark.range(1).select(lit(1.5).as("summary_col")).write.mode("overwrite").parquet(other)
    val summary = dataFiles(other).head.toPath
    Files.copy(summary, Paths.get(mixed, "_metadata"))
    assertResolved(mixed)
    assert(Tables.footerSchema(spark, mixed).get.fieldNames.toSeq == Seq("summary_col"))
    Files.copy(dataFiles(mixed).head.toPath, Paths.get(mixed, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assertResolved(mixed)
  }

  test("opening a table or reading a scratch dir back starts no Spark job") {
    for (t <- Tables.all) {
      val (_, jobs) = jobsOf(spark)(Tables(spark, sf, t).schema)
      assert(jobs == 0, s"opening $t ran $jobs jobs")
    }
    assert(jobsOf(spark)(Tables.events(spark, sf))._2 == 0)
    assert(jobsOf(spark)(Tables.points(spark, sf))._2 == 0)
    val key = s"parquet_read_spec:${System.nanoTime()}"
    Scratch.materialize(spark, key)(wide)
    val (back, jobs) =
      jobsOf(spark)(Scratch.materialize(spark, key)(sys.error("built twice")))
    assert(jobs == 0, s"the scratch read-back ran $jobs jobs")
    assert(back.schema.simpleString == wide.schema.simpleString)
    assert(back.count() == 64)
  }

  test("fall-backs go to Spark's own inference: missing, empty, partitioned, mergeSchema") {
    def sameError(path: String): Unit = {
      assert(Tables.footerSchema(spark, path).isEmpty)
      val ours = intercept[AnalysisException](Tables.parquet(spark, path))
      val spark0 = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition == spark0.getCondition)
      assert(ours.getMessage == spark0.getMessage)
    }
    sameError(s"${tmp("graft_pq_missing")}/nothing_here")
    sameError(tmp("graft_pq_empty"))
    val parts = s"${tmp("graft_pq_parts")}/p"
    wide.withColumn("k", col("id") % 3).write.partitionBy("k").parquet(parts)
    assert(Tables.footerSchema(spark, parts).isEmpty)
    assert(Tables.parquet(spark, parts).schema == spark.read.parquet(parts).schema)
    assert(Tables.parquet(spark, parts).schema.fieldNames.last == "k")
    val one = s"${tmp("graft_pq")}/one"
    wide.write.parquet(one)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Tables.footerSchema(spark, one).isEmpty)
      assert(Tables.parquet(spark, one).schema == spark.read.parquet(one).schema)
    }
  }

  test("TIMESTAMP(NANOS) reads as long with nanosAsLong; without it both reads throw") {
    val file = s"${tmp("graft_pq_nanos")}/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withConf(new Configuration()).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", i * 1000000000L)))
    finally writer.close()
    withConf(NanosAsLong, "true") {
      assertResolved(file)
      assert(Tables.parquet(spark, file).schema("ts").dataType == LongType)
    }
    withConf(NanosAsLong, "false") {
      assert(Tables.footerSchema(spark, file).isEmpty)
      val ours = intercept[AnalysisException](Tables.parquet(spark, file))
      val spark0 = intercept[AnalysisException](spark.read.parquet(file))
      assert(ours.getMessage == spark0.getMessage)
    }
  }

  test("every main-code parquet read goes through Tables.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val read = """\.read\s*(\.\s*\w+\([^)]*\)\s*)*\.\s*parquet\(""".r
    val readers = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => read.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).toList.sorted
    assert(readers == List("graft/sources/Tables.scala"))
  }
}
