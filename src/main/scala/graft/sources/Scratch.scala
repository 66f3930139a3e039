package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM scratch-parquet materialization registry for relations that
  * several queries in one Verify/Bench pass share (the r11 ragPassages
  * device, generalized). A DISK materialization, not `persist`: the
  * harness clears the cache manager between queries by contract, but
  * the parquet survives, and column pruning keeps narrow consumers from
  * reading wide columns. At 100 TB this is the standard amortization —
  * one corpus-sized write (a materialized index/feature build) paid
  * once per corpus, read by every downstream query against it.
  *
  * The key → dir registry is a [[Memo]]: concurrent first callers of a
  * key run one corpus-sized write. Temp dirs are removed by one JVM-exit
  * hook.
  */
object Scratch {
  private val reg = new Memo[String, String]("scratch")
  // builds of different keys run concurrently, so the two buffers below
  // are guarded by their own monitors.
  // Every dir ever created, including ones dropped by reset(): the
  // JVM-exit hook removes them all
  private val allDirs =
    scala.collection.mutable.ArrayBuffer.empty[String]
  // builds executed since the last drain, with the BUILD DataFrame —
  // the plan gates audit these (the returned relation is a parquet
  // read of the result; the build plan is what executes at scale)
  private val buildLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]

  private lazy val cleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      allDirs.synchronized(allDirs.toList).foreach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(p))
      }))

  /** Builds executed since the last call — (key, build DataFrame)
    * pairs for plan audits. */
  private[graft] def drainBuilds(): Seq[(String, DataFrame)] =
    buildLog.synchronized {
      val out = buildLog.toList
      buildLog.clear()
      out
    }

  /** Drop every materialization so subsequent calls rebuild — for plan
    * gates that must observe the build plans regardless of which suite
    * ran first in the JVM (dirs stay on disk until the exit hook). */
  private[graft] def reset(): Unit = {
    reg.clear()
    buildLog.synchronized(buildLog.clear())
  }

  /** Content-addressed corpus key: `sfDir` plus a fingerprint of every
    * file's (absolute path, length, mtime) under it AND a bounded
    * content sample (the first and last [[SampleBytes]] bytes of each
    * file — for parquet that covers the footer, whose row-group
    * offsets/statistics change with any data change). Keys built
    * through this helper REBUILD when the corpus at a path is
    * regenerated in-place within one JVM (e.g. a test overwriting a
    * temp dir) — a bare-path key would silently serve the stale
    * materialization (ADVICE r13), and a metadata-only fingerprint
    * still would on filesystems with coarse (1-2 s) mtime granularity
    * when the rewrite lands inside the granularity window with
    * identical names/sizes (ADVICE r14). Walks and samples through the
    * Hadoop FileSystem API — a `java.io` walk would silently find no
    * files on an `hdfs://`-style sfDir and yield a content-insensitive
    * key (ADVICE r15; same scheme-agnostic contract as
    * `EventStream.clearSnapshots`). Cost: one directory listing plus
    * two bounded reads per file — no full data scan. */
  private val SampleBytes = 64

  def corpusKey(sfDir: String): String = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val md = java.security.MessageDigest.getInstance("MD5")
    val root = new Path(sfDir)
    val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def walk(p: Path): Unit = {
      val st = fs.getFileStatus(p)
      if (st.isFile) {
        md.update(s"${p.toUri.getPath}|${st.getLen}|${st.getModificationTime}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val in = fs.open(p)
        try {
          val head = new Array[Byte](math.min(SampleBytes.toLong, st.getLen).toInt)
          in.readFully(0L, head)
          md.update(head)
          if (st.getLen > SampleBytes) {
            val tail = new Array[Byte](
              math.min(SampleBytes.toLong, st.getLen - SampleBytes).toInt)
            in.readFully(st.getLen - tail.length, tail)
            md.update(tail)
          }
        } finally in.close()
      } else fs.listStatus(p).sortBy(_.getPath.getName)
        .foreach(s => walk(s.getPath))
    }
    if (fs.exists(root)) walk(root)
    s"$sfDir@${md.digest().map("%02x".format(_)).mkString.take(16)}"
  }

  /** Read the materialization for `key`, building it (one parquet
    * write of `build`'s result) on first call. Keys embed the sfDir —
    * through [[corpusKey]], so an in-place corpus rewrite invalidates —
    * and different corpora never collide. */
  def materialize(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    cleanup
    val path = reg(key) {
      val p = java.nio.file.Files
        .createTempDirectory("graft_scratch").toString
      val df = build
      df.write.mode("overwrite").parquet(p)
      allDirs.synchronized(allDirs += p)
      buildLog.synchronized(buildLog += ((key, df)))
      p
    }
    Tables.parquet(spark, path)
  }
}
