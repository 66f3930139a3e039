package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result sinks mirroring the reference's export surface.
  *
  *  - O19 per-cluster CSV (`main/client/client.go:236-256`: one CSV per
  *    cluster, rows `id, coord…`): `partitionBy(cluster_id)` — each
  *    cluster becomes a partition directory, written in parallel by the
  *    executors instead of the reference's single-threaded client loop.
  *  - O3 dataset catalog listing (`main/client/client.go:151-170`).
  *  - O20/O21 chart HTML ([[writeScatterHtml]]/[[writeBarHtml]]): the
  *    reference emits ECharts HTML client-side
  *    (`plot/plotter.go:60-80,139-184`); here the same artifacts are
  *    self-contained static SVG — no CDN/JS dependency, deterministic
  *    per-cluster colors (the reference's are random), and the exact
  *    data arrays embedded as JSON for downstream tooling.
  */
object Sinks {

  /** O19 — per-cluster export: `out/cluster_id=<k>/part-*.csv`, rows
    * `id, coord0, coord1, …` (the assignment DataFrame `(id, features,
    * cluster_id)` flattened to scalar columns; CSV has no arrays). */
  def writeClustersCsv(assigned: DataFrame, d: Int, out: String): Unit = {
    val coords = (0 until d).map(i => col("features").getItem(i).as(s"c$i"))
    assigned.select(col("cluster_id") +: col("id") +: coords: _*)
      .write.mode("overwrite")
      .partitionBy("cluster_id")
      .option("header", "true")
      .csv(out)
  }

  /** Same export as parquet — the scale-appropriate format (columnar,
    * typed, splittable); partition pruning makes per-cluster reads free. */
  def writeClustersParquet(assigned: DataFrame, out: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(out)

  /** JSON-lines export (arrays serialize natively, unlike CSV) —
    * interchange format for downstream non-columnar consumers. Same
    * per-cluster partition layout as the CSV sink. */
  def writeClustersJson(assigned: DataFrame, out: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cluster_id").json(out)

  /** JSON-lines ingest with explicit schema (schema inference needs an
    * extra pass over the data — never at scale). */
  def readJson(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC export — the second columnar lake format (same partition-pruned
    * layout as parquet; predicate pushdown + column pruning work the
    * same way through Spark's ORC datasource). */
  def writeClustersOrc(assigned: DataFrame, out: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cluster_id").orc(out)

  /** ORC ingest with explicit schema. */
  def readOrc(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      path: String): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Date-partitioned event export: `out/event_date=YYYY-MM-DD/...` —
    * the standard time-partitioned lake layout. Date-bounded readers
    * prune partitions at planning time (PartitionFilters in the scan),
    * so a day query over a year of data touches 1/365th of the files. */
  def writeEventsByDate(events: DataFrame, out: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(out)

  /** Bucketed table write — the co-located-join layout for 100 TB facts:
    * both join sides bucketed by the join key into the same bucket count
    * hash-place matching keys in matching files, so the join runs with NO
    * shuffle exchange (each task zips bucket i ⋈ bucket i). The physical
    * contract Spark gives for pre-partitioned storage. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Z-ordered lake write ([[graft.operators.Relational.zorderKey]]'s
    * layout half): range-partition and sort the table by the Morton key
    * so rows close in BOTH interleaved dimensions land in the same
    * files. Parquet then records per-file min/max for the ORIGINAL
    * columns, and a selective predicate on either dimension skips most
    * files — the OPTIMIZE ZORDER technique, with no table-format
    * dependency. `repartitionByRange` samples the key (one extra pass)
    * to build balanced file-sized ranges at any scale. */
  def writeZOrdered(df: DataFrame, zkey: org.apache.spark.sql.Column,
      files: Int, out: String): Unit =
    df.withColumn("_z", zkey)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(out)

  // ------------------------------------------------------------ charts

  /** Deterministic per-cluster color (golden-angle-ish hue rotation) —
    * replaces `plot/plotter.go:92-108`'s random palette so renders are
    * reproducible and testable. */
  private def clusterColor(cid: Long): String =
    s"hsl(${(cid * 67) % 360},70%,45%)"

  /** Locale-independent 2-decimal formatting — the f-interpolator uses
    * the default locale, and a comma decimal separator is an invalid
    * SVG length. */
  private def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  private def writeTextFile(df: DataFrame, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** O20+O21 — the scatter-plot artifact (`plot/plotter.go:16-86`):
    * renders [[graft.kmeans.KMeansSteps.scatterData]]'s payload
    * (cluster_id, vec_id, x, y; vec_id = −1 marks a centroid) as a
    * self-contained SVG+HTML file, one colored series per cluster,
    * centroids in black, plus the exact data rows in an embedded
    * `application/json` block.
    *
    * The collect is the point: a chart is a driver/client-side artifact
    * by nature (the reference renders on the client too) and the payload
    * is the already-reduced 2-D projection, never the raw corpus. */
  def writeScatterHtml(scatter: DataFrame, path: String): Unit = {
    val rows = scatter.select("cluster_id", "vec_id", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    require(rows.nonEmpty, "empty scatter payload")
    val (wPx, hPx, pad) = (800, 600, 40)
    val xs = rows.map(_._3); val ys = rows.map(_._4)
    val (x0, x1) = (xs.min, xs.max); val (y0, y1) = (ys.min, ys.max)
    val sx = (wPx - 2.0 * pad) / math.max(x1 - x0, 1e-12)
    val sy = (hPx - 2.0 * pad) / math.max(y1 - y0, 1e-12)
    def px(x: Double) = pad + (x - x0) * sx
    def py(y: Double) = hPx - pad - (y - y0) * sy // SVG y grows downward
    // centroids sort AFTER all points (SVG paints later elements on top)
    val circles = rows.sortBy(r => (r._2 == -1L, r._1, r._2)).map { case (cid, vid, x, y) =>
      if (vid == -1L)
        s"""<circle cx="${f2(px(x))}" cy="${f2(py(y))}" r="7" fill="black"><title>Centroid $cid</title></circle>"""
      else
        s"""<circle cx="${f2(px(x))}" cy="${f2(py(y))}" r="3" fill="${clusterColor(cid)}"><title>Cluster $cid: $vid</title></circle>"""
    }.mkString("\n")
    val cids = rows.filter(_._2 != -1L).map(_._1).distinct.sorted
    val legend = cids.zipWithIndex.map { case (cid, i) =>
      s"""<tspan x="${wPx - 130}" dy="${if (i == 0) 0 else 16}" fill="${clusterColor(cid)}">● Cluster $cid</tspan>"""
    }.mkString
    val json = rows.sortBy(r => (r._1, r._2)).map { case (cid, vid, x, y) =>
      s"""{"cluster_id":$cid,"vec_id":$vid,"x":$x,"y":$y}"""
    }.mkString("[", ",", "]")
    writeTextFile(scatter, path,
      s"""<!DOCTYPE html>
         |<html><head><meta charset="utf-8"><title>Clustering - Scatter Plot</title></head>
         |<body><h1>Clustering - Scatter Plot</h1>
         |<svg width="$wPx" height="$hPx" xmlns="http://www.w3.org/2000/svg">
         |<rect width="$wPx" height="$hPx" fill="white" stroke="#ccc"/>
         |$circles
         |<text y="20" font-family="sans-serif" font-size="13">$legend</text>
         |</svg>
         |<script type="application/json" id="scatter-data">$json</script>
         |</body></html>
         |""".stripMargin)
  }

  /** O20 — the bar-chart artifact (`plot/plotter.go:139-184`): cluster
    * sizes as labeled SVG bars ("Cluster i" on the axis, the count on
    * top of each bar — the reference's label layout), data embedded as
    * JSON. Input: [[graft.kmeans.KMeansSteps.clusterSizes]] (cluster_id,
    * n) — k rows, driver-sized by construction. */
  def writeBarHtml(sizes: DataFrame, path: String): Unit = {
    val rows = sizes.select("cluster_id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty, "empty sizes payload")
    val (wPx, hPx, pad) = (800, 400, 40)
    val nMax = math.max(rows.map(_._2).max, 1L)
    val bw = (wPx - 2.0 * pad) / rows.length
    val bars = rows.zipWithIndex.map { case ((cid, n), i) =>
      val bh = (hPx - 2.0 * pad) * n.toDouble / nMax
      val x = pad + i * bw
      val y = hPx - pad - bh
      s"""<rect x="${f2(x + bw * 0.1)}" y="${f2(y)}" width="${f2(bw * 0.8)}" height="${f2(bh)}" fill="${clusterColor(cid)}"/>
         |<text x="${f2(x + bw / 2)}" y="${f2(y - 6)}" text-anchor="middle" font-family="sans-serif" font-size="12">$n</text>
         |<text x="${f2(x + bw / 2)}" y="${f2(hPx - pad + 16)}" text-anchor="middle" font-family="sans-serif" font-size="12">Cluster $cid</text>""".stripMargin
    }.mkString("\n")
    val json = rows.map { case (cid, n) => s"""{"cluster_id":$cid,"n":$n}""" }
      .mkString("[", ",", "]")
    writeTextFile(sizes, path,
      s"""<!DOCTYPE html>
         |<html><head><meta charset="utf-8"><title>Clustering - Bar Chart</title></head>
         |<body><h1>Clustering - Bar Chart</h1>
         |<svg width="$wPx" height="$hPx" xmlns="http://www.w3.org/2000/svg">
         |<rect width="$wPx" height="$hPx" fill="white" stroke="#ccc"/>
         |$bars
         |</svg>
         |<script type="application/json" id="bar-data">$json</script>
         |</body></html>
         |""".stripMargin)
  }

  /** Small-file compaction — the OPTIMIZE housekeeping every streaming
    * lake needs at 100 TB: micro-batch commits leave thousands of
    * KB-sized files whose per-file open/footer/listing cost dominates
    * scans. Rewrites `dir` into `out` with ~`targetBytes`-sized files,
    * the file count derived from the ACTUAL input size (one FileSystem
    * summary call), not a guessed partition number. Returns the file
    * count written. */
  def compact(spark: SparkSession, dir: String, out: String,
      targetBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // mode("overwrite") deletes `out` before the scan of `dir` completes:
    // an output equal to (or nested under) the input would destroy the
    // data mid-read — refuse loudly instead
    val inAbs = fs.makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
    val outAbs = fs.makeQualified(new org.apache.hadoop.fs.Path(out))
      .toUri.getPath.stripSuffix("/") + "/"
    require(!outAbs.startsWith(inAbs),
      s"compact: output $out must not be the input $dir or nested under it")
    // ...and the converse: an output that is an ANCESTOR of the input is
    // just as fatal — overwrite deletes the output tree first, taking the
    // nested input with it before the scan runs
    require(!inAbs.startsWith(outAbs),
      s"compact: output $out must not contain the input $dir")
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.parquet(spark, dir).repartition(n)
      .write.mode("overwrite").parquet(out)
    n
  }

  /** O3 — catalog listing: the datasets (tables) available under an sf
    * directory. */
  def listDatasets(spark: SparkSession, sfDir: String): Seq[String] =
    new java.io.File(sfDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted.toSeq
}
