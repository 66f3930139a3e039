package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor derivation: build an N×-larger copy of an sf directory
  * by key-shifted replication — the standard way to stress plans beyond
  * the largest generated fixture without inventing new data semantics.
  *
  * Per replica `r`, every key column shifts by `r × stride(table)` with
  * stride a power of ten above the base max, so intra-replica join
  * relationships (orders↔lineitem↔part/supplier, customer↔orders,
  * events.user_id grouping, documents/embeddings ids) are preserved
  * exactly and replicas never collide. Fixed dimensions (region, nation)
  * copy verbatim — their keys are referenced by value.
  *
  * Content transforms keep per-replica behavior equal to the base sf
  * instead of degenerating into exact duplicates:
  *  - `documents.text`: replicas > 0 get per-word suffixes, so shingle
  *    spaces are disjoint across replicas — near-dup structure scales
  *    linearly (10× the base pairs), not quadratically.
  *  - `embeddings.label`: suffixed per replica, keeping the per-label
  *    self-join (`kmeans_avg_distance`) linear in the factor.
  *  - `embeddings.embedding`: offset by `r · 0.0017`, so replicas are
  *    near but not identical in cosine space.
  *
  * Output layout: MULTI-FILE, sized from the input table's on-disk
  * bytes × factor at [[TargetFileBytes]] per file (cap
  * [[MaxFilesPerTable]]). A single-file-per-table layout caps scan
  * parallelism at ceil(file/maxPartitionBytes) splits — the r15 sf10
  * fixture's 912 MB lineitem file got ~7 input splits on 32 cores, so
  * the scan-bound TPC-H band ran under-parallelized and its timings
  * were page-cache-state-dependent (VERDICT r15 task 2). ~24 MB
  * compressed files put the 780 MB sf10 lineitem at ~32 files ≈ one
  * split per core. This is a config-boundary change: floor records
  * derived under the single-file layout are not min-comparable with
  * runs against a multi-file fixture (the r14 partition-config
  * lesson), so BENCH_MIN_sf10 is re-based when the fixture is
  * regenerated.
  *
  * Usage: `runMain graft.sources.ScaleUp <inDir> <outDir> <factor>`. */
object ScaleUp {

  /** Target compressed bytes per output parquet file (overridable via
    * GRAFT_SCALEUP_FILE_MB). 24 MB keeps every file well under the
    * 128 MB split size while giving the largest derived table ~1 split
    * per local core. */
  private def TargetFileBytes: Long =
    sys.env.getOrElse("GRAFT_SCALEUP_FILE_MB", "24").toLong << 20
  private val MaxFilesPerTable = 64

  private def pow10Above(x: Long): Long = {
    var s = 10L
    while (s <= x) s *= 10
    s
  }

  /** Bytes of data files under a parquet directory (crc/_SUCCESS
    * bookkeeping excluded) — sizes the output file count. */
  private def dataBytes(path: String): Long = {
    var b = 0L
    def walk(f: java.io.File): Unit =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) b += f.length }
      else Option(f.listFiles).foreach(_.foreach(walk))
    walk(new java.io.File(path))
    b
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      // machine-independence: Tables.events casts NTZ ts in the session
      // time zone — an unpinned zone would shift every derived event
      // instant by the local offset (ADVICE r8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleUp(spark, inDir, outDir, factor)
    spark.stop()
  }

  def scaleUp(spark: SparkSession, inDir: String, outDir: String, factor: Int): Unit = {
    def in(t: String) = Tables(spark, inDir, t)
    def write(t: String, df: DataFrame): Unit = {
      // multi-file layout: one round-robin shuffle per table (a one-time
      // derivation cost) so downstream scans get file-count parallelism
      // instead of ceil(one-big-file / 128 MB) splits
      val nFiles = math.max(1L, math.min(MaxFilesPerTable.toLong,
        dataBytes(s"$inDir/$t.parquet") * factor / TargetFileBytes)).toInt
      val out = if (nFiles > 1) df.repartition(nFiles) else df
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${Tables(spark, outDir, t).count()} " +
        s"rows in $nFiles file(s)")
    }
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0)

    // fixed dims: copied verbatim (their keys are referenced by value)
    Seq("region", "nation").foreach(t => write(t, in(t)))

    val orderStride = pow10Above(maxOf(in("orders"), "o_orderkey"))
    val custStride = pow10Above(maxOf(in("customer"), "c_custkey"))
    val partStride = pow10Above(maxOf(in("part"), "p_partkey"))
    val suppStride = pow10Above(maxOf(in("supplier"), "s_suppkey"))
    // events via Tables.events: the driver fixture stores TIMESTAMP(NANOS)
    // (readable only as raw longs) — normalize ts to a real microsecond
    // TIMESTAMP so the derived directory is typed like a native table for
    // BOTH engines (DuckDB oracles bind epoch_us/date_trunc on it)
    val eventsIn = Tables.events(spark, inDir)
    val userStride = pow10Above(maxOf(eventsIn, "user_id"))
    val eventStride = pow10Above(maxOf(eventsIn, "event_id"))
    val docStride = pow10Above(maxOf(in("documents"), "doc_id"))
    val vecStride = pow10Above(maxOf(in("embeddings"), "vec_id"))

    /** `factor` replicas with the named key columns shifted per replica,
      * original column types preserved. Leaves `__r` in scope for
      * content transforms; callers drop it. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      // shifted values are cast back to the column's ORIGINAL type below,
      // and Spark's non-ANSI cast wraps silently on overflow — a 32-bit
      // key at a large factor×stride would produce colliding keys and
      // corrupt join semantics with no error. Refuse loudly instead: the
      // largest shifted value must fit the source type.
      import org.apache.spark.sql.types._
      shifts.foreach { case (name, st) =>
        val typeMax: Long = df.schema(name).dataType match {
          case ByteType => Byte.MaxValue.toLong
          case ShortType => Short.MaxValue.toLong
          case IntegerType => Int.MaxValue.toLong
          case _ => Long.MaxValue
        }
        val colMax = maxOf(df, name)
        require(colMax <= (typeMax - (factor - 1L) * st),
          s"scaleUp: $name max=$colMax + ${factor - 1}*$st overflows " +
            s"${df.schema(name).dataType.simpleString}; use a smaller " +
            "factor or widen the key column")
      }
      val rep = df.withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))
      val cols = df.schema.fields.map { f =>
        shifts.get(f.name) match {
          case Some(st) =>
            (col(f.name) + col("__r") * lit(st)).cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }
      rep.select(col("__r") +: cols.toIndexedSeq: _*)
    }
    def done(df: DataFrame): DataFrame = df.drop("__r")

    write("customer", done(replicate(in("customer"), Map("c_custkey" -> custStride))))
    write("supplier", done(replicate(in("supplier"), Map("s_suppkey" -> suppStride))))
    write("part", done(replicate(in("part"), Map("p_partkey" -> partStride))))
    write("orders", done(replicate(in("orders"),
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride))))
    write("lineitem", done(replicate(in("lineitem"),
      Map("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride))))
    write("events", done(replicate(eventsIn,
      Map("event_id" -> eventStride, "user_id" -> userStride))))

    // documents: per-word suffix on replicas > 0 keeps shingle spaces
    // disjoint across replicas (near-dup structure scales linearly)
    val docs = replicate(in("documents"), Map("doc_id" -> docStride))
    write("documents", done(docs.withColumn("text",
      when(col("__r") === 0, col("text"))
        .otherwise(array_join(
          transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("__r"))), " ")))))

    // embeddings: label stride keeps per-label joins linear; a small
    // per-replica offset keeps replicas near but not identical
    val labelStride = pow10Above(maxOf(in("embeddings"), "label"))
    val emb = replicate(in("embeddings"),
      Map("vec_id" -> vecStride, "label" -> labelStride))
    val embElemType = in("embeddings").schema("embedding")
      .dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType
    write("embeddings", done(emb
      .withColumn("embedding",
        transform(col("embedding"),
          x => (x + col("__r") * lit(0.0017)).cast(embElemType)))))
  }
}
