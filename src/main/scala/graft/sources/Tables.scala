package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Readers for the driver-generated parquet tables (`/root/testdata/sf*`,
  * see TESTDATA.md) plus the reference's native headerless-CSV point format.
  *
  * Reference ingest surface: CSV scan (`main/client/client.go:172-186`),
  * float64 cast projection with ordinal row ids (`utils/utils.go:21-42`),
  * dataset catalog listing (`main/client/client.go:151-170`). Here the scan
  * is [[parquet]]/`csv` (columnar, predicate-pushdown capable);
  * row ids come from the source (`vec_id`) instead of the reference's
  * per-chunk ordinal quirk (ids restart every 100k rows,
  * `main/client/client.go:61-63,122`).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet schema inside a 1-task job that reads one footer
    * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`), even for a
    * single file; on a 4-core host that job is 55–70 ms of a 0.34–0.36 s
    * `fit_small` op (PERF.md). [[footerSchema]] reads the same footer on
    * the driver and hands the read its schema. Anything it does not
    * cover goes to `spark.read.parquet(path)` unchanged, so Spark's
    * inference and Spark's errors stay the only error path. Keeps no
    * state: an in-place rewrite is read with its new footer. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark would infer for `path` with `mergeSchema` off, or
    * None where that takes Spark's own listing: a glob, a missing path,
    * no data file, `spark.sql.parquet.mergeSchema` on, a subdirectory
    * (`k=v` partitions), or a footer that does not read or convert.
    * Picks the file inference touches (`_common_metadata`, else
    * `_metadata`, else the first data file by path string, among the
    * names Spark's file index lists) and converts its footer with the
    * five session flags inference passes to its converter. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val files = visible(root.getFileSystem(hadoopConf), root)
      if (files.exists(_.isDirectory)) None
      else {
        def named(n: String) = files.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !summary(f.getPath.getName)))
          .map { f =>
            val converter = new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
            ParquetFileFormat.readSchemaFromFooter(
              new Footer(f.getPath, footer(f, hadoopConf)), converter)
          }
      }
    } catch { case NonFatal(_) => None }
  }

  private def footer(f: FileStatus, hadoopConf: Configuration) = {
    val opts = HadoopReadOptions.builder(hadoopConf, f.getPath)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf), opts)
    try reader.getFooter finally reader.close()
  }

  private def summary(name: String) = name == "_common_metadata" || name == "_metadata"

  // `root` itself if it is a file, else the entries of `root` that
  // Spark's file index lists, by path string
  private def visible(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(root)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(root).toSeq.filterNot(f => hidden(f.getPath.getName))
      .sortBy(_.getPath.toString)
  }

  // the names Spark's file index skips (`HadoopFSUtils.shouldFilterOutPathName`)
  private def hidden(name: String) =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** Register every table as a temp view so `spark.sql` mirrors the
    * DuckDB oracle's table namespace. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else apply(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  /** Events with `ts` normalized to a microsecond TIMESTAMP, whatever the
    * fixture generation encoded:
    *  - TIMESTAMP(NANOS): Spark 4 only reads it with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (raw nano longs);
    *    `div 1000` (exact integer division — a double roundtrip would
    *    lose precision above 2^53) matches DuckDB's nanos→micros read.
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false: Spark reads
    *    TIMESTAMP_NTZ; downstream `unix_micros`/window functions need
    *    TimestampType, so cast. The cast interprets the naive value in
    *    the session time zone — callers (Verify/Bench/specs) pin
    *    `spark.sql.session.timeZone=UTC` so it is machine-independent
    *    and equal to DuckDB's naive read.
    *  - TIMESTAMP(MICROS) adjusted to UTC: already TimestampType. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The documents relation widened to the session's core parallelism
    * when the file layout provides fewer scan tasks than cores (r17 —
    * guide §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read" and §6 input-split sizing): the bench
    * fixtures store documents as a few large parquet files, so the
    * corpus-wide CPU-heavy sweeps (the CDC gram pass, the shingle md5
    * sweep, the winnow fingerprint pass — each hashes every char/gram
    * position of every document) otherwise run at FILE-count
    * parallelism (2 scan tasks on 32 cores at the sf10 probe, measured
    * — the chunk_cdc cold build's 53 s). A real 100 TB lake has
    * thousands of files and takes the else branch, paying no shuffle.
    * Round-robin repartition (deterministic under retry via Spark's
    * sort-before-repartition); every consumer re-keys or aggregates by
    * doc_id downstream, so row order never reaches an output. */
  def documentsWide(spark: SparkSession, sfDir: String): DataFrame = {
    val d = apply(spark, sfDir, "documents")
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    if (d.rdd.getNumPartitions < cores) d.repartition(cores) else d
  }

  /** The K-Means points relation: (id LONG, features ARRAY<DOUBLE>).
    * Maps the reference's `Points` (`utils/utils.go:8-13`) onto the
    * embeddings table; FLOAT[] is widened to DOUBLE[] to match the
    * reference's float64-everywhere data model (`utils/utils.go:27-30`). */
  def points(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "embeddings").select(
      col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("features"))

  /** Relational → vector synthesis: numeric lineitem columns as a dense
    * feature vector, exercising the same ingest path from a star-schema
    * fact table (SURVEY.md §7.2 M0). NOTE: `id` is NOT unique — the
    * synthetic fixture contains duplicate (l_orderkey, l_linenumber)
    * pairs with different values (45,832 distinct ids over 60,000 rows
    * at sf0.01). The fit treats ids only as deterministic-pick
    * tie-breaks; anything needing per-row identity (e.g. a per-point
    * oracle argmin) must key on a row id, not this id. */
  def lineitemPoints(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "lineitem").select(
      (col("l_orderkey") * lit(10) + col("l_linenumber")).cast("long").as("id"),
      array(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax")).cast("array<double>").as("features"))

  /** [[lineitemPoints]] z-score standardized per dimension (mean/std are
    * one tiny aggregate collected driver-side, then a narrow literal
    * projection). Unstandardized lineitem numerics span 6 orders of
    * magnitude (price ~1e5 vs discount ~1e-1), which makes a
    * mean-displacement convergence threshold meaningless.
    *
    * r16: materialized per corpus through the scratch registry — the
    * standardized feature build (full lineitem scan + projection) is
    * shared by the whole lineitem fit family (`kmeans_fit_lineitem`,
    * `_final`, `_trajectory`), which previously each re-derived it;
    * the projected doubles round-trip parquet exactly, so consumers
    * are bit-identical to the in-plan projection. */
  def lineitemPointsStd(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.materialize(spark,
        s"li_points_std:${Scratch.corpusKey(sfDir)}") {
      lineitemPointsStdWith(spark, sfDir, lineitemStatsShared(spark, sfDir))
    }

  // the 1-row standardization aggregate, collected once per corpus
  // instead of once per consuming query
  private val liStatsReg = new Memo[String, Seq[(Double, Double)]]("li_stats")

  /** [[lineitemStats]] cached per corpus (content-addressed key). */
  def lineitemStatsShared(spark: SparkSession, sfDir: String): Seq[(Double, Double)] =
    liStatsReg(Scratch.corpusKey(sfDir))(lineitemStats(spark, sfDir))

  /** Per-dimension (mean, clamped std) of [[lineitemPoints]] — exposed so
    * frozen-state oracles can carry the exact literals the projection
    * used (the standardized features are then bit-identical across
    * engines: one subtract + one divide on identical inputs). */
  def lineitemStats(spark: SparkSession, sfDir: String): Seq[(Double, Double)] = {
    val pts = lineitemPoints(spark, sfDir)
    val d = 4
    val aggs = (0 until d).flatMap(i => Seq(
      avg(col("features").getItem(i)).as(s"m$i"),
      stddev_pop(col("features").getItem(i)).as(s"s$i")))
    val r = pts.agg(aggs.head, aggs.tail: _*).head()
    (0 until d).map(i =>
      (r.getDouble(2 * i), math.max(r.getDouble(2 * i + 1), 1e-12)))
  }

  /** [[lineitemPoints]] standardized against explicit per-dim stats. */
  def lineitemPointsStdWith(spark: SparkSession, sfDir: String,
      stats: Seq[(Double, Double)]): DataFrame = {
    val pts = lineitemPoints(spark, sfDir)
    val proj = array(stats.zipWithIndex.map { case ((m, s), i) =>
      (col("features").getItem(i) - lit(m)) / lit(s)
    }: _*)
    pts.select(col("id"), proj.as("features"))
  }

  /** Reference-native ingest: headerless CSV of floats, ordinal row id
    * (`utils/utils.go:21-42` — but with globally-unique ids, fixing the
    * 100k-chunk id-restart quirk of `client.go:61-63`). Every column is
    * declared DOUBLE, the reference's float64 parse (`utils/utils.go:27-30`),
    * and the column count comes from the first non-empty line, read on
    * the driver: the scan is the only pass over the file (`inferSchema`
    * added a second, plus a job for the first line). */
  def csvPoints(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType((0 until csvWidth(spark, path))
      .map(i => StructField(s"_c$i", DoubleType)))
    val raw = spark.read.option("header", "false").schema(schema).csv(path)
    raw.select(array(raw.columns.toIndexedSeq.map(col): _*).as("features"))
      .withColumn("id", monotonically_increasing_id())
      .select(col("id"), col("features"))
  }

  // fields on the first non-empty line of `path` (of its first visible
  // file by path string, for a directory); 0 when there is none
  private def csvWidth(spark: SparkSession, path: String): Int = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    visible(fs, root).find(_.isFile).map(_.getPath).fold(0) { p =>
      val codec = new CompressionCodecFactory(hadoopConf).getCodec(p)
      val raw = fs.open(p)
      val in = new BufferedReader(new InputStreamReader(
        if (codec == null) raw else codec.createInputStream(raw), StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .find(_.trim.nonEmpty).fold(0)(_.split(",", -1).length)
      finally in.close()
    }
  }
}
