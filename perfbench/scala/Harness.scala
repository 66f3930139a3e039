package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kmeans.RefKMeans
import graft.operators.Dedup
import graft.sources.{Sinks, Tables}

/** One benchmark run in one JVM: set up, run a closed loop of ops (one
  * client; each op starts when the previous one ended) until the time
  * budget is spent, check every op's output outside the timed region,
  * and write the raw record (op walls, checks, spans, job/stage/SQL
  * events) as JSON. Statistics are computed from the record by `run.py`.
  *
  * Usage: Harness <config.json> <record.json>
  */
object Harness {
  val mapper = new ObjectMapper()

  final case class Op(id: Int, startMs: Double, endMs: Double, var ok: Boolean,
      var err: String = "", counters: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val params = cfg.get("params")
    val workload = cfg.get("workload").asText
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asBoolean
    val cores = cfg.get("cores").asInt
    val corrupt = cfg.get("corrupt").asText

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", cfg.get("local_dir").asText)
      .config("spark.sql.warehouse.dir", cfg.get("local_dir").asText + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace)
    val recorder = if (trace) Some(Recorder.install(spark)) else None
    val w: Workload = workload match {
      case "fit_small" => new FitWorkload(spark, params, tracer, corrupt, warmup = 4)
      case "fit_large" => new FitWorkload(spark, params, tracer, corrupt, warmup = 2)
      case "export_csv" => new ExportWorkload(spark, params, tracer, cfg.get("run_dir").asText, corrupt)
      case "dedup_corpus" => new DedupWorkload(spark, params, tracer, cfg.get("run_dir").asText, corrupt)
    }

    // set-up: session (above), untimed warm-up ops (negative ids),
    // program-side caching
    tracer.enabled = false
    for (i <- 1 to w.warmupOps) { w.op(-i); w.afterOp(-i) }
    tracer.enabled = trace
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val ops = ArrayBuffer.empty[Op]
    val loopStart = System.nanoTime()
    var firstOpMs = 0.0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds && w.hasNext(ops.size)) {
      val id = ops.size
      val t0 = tracer.nowMs()
      if (id == 0) firstOpMs = t0
      val out = try Right(tracer.span("op", id)(w.op(id)))
        catch { case e: Exception => Left(e.toString) }
      val t1 = tracer.nowMs()
      // output check: outside the timed region
      val op = out match {
        case Right(res) =>
          val err = try w.check(id, res) catch { case e: Exception => e.toString }
          Op(id, t0, t1, err.isEmpty, err, w.counters(id, res))
        case Left(e) => Op(id, t0, t1, ok = false, e)
      }
      w.afterOp(id)
      ops += op
    }
    val loopEnd = System.nanoTime()
    // peak RSS of the program's set-up and ops, before the whole-run checks
    val peakRssMb = Harness.vmHwmKb() / 1024.0
    w.finish(ops.toSeq).foreach { case (id, err) =>
      ops.find(_.id == id).foreach { o => o.ok = false; o.err = err } }

    val rec = mapper.createObjectNode()
    rec.put("workload", workload)
    rec.put("cores", cores)
    rec.put("rows_per_op", w.rowsPerOp)
    rec.put("setup_s", (firstOpMs - jvmStartMs) / 1000.0)
    rec.put("peak_rss_mb", peakRssMb)
    val opsJ = rec.putArray("ops")
    ops.foreach { o =>
      val j = opsJ.addObject()
      j.put("id", o.id); j.put("start_ms", o.startMs); j.put("end_ms", o.endMs)
      j.put("ok", o.ok); j.put("err", o.err)
      val c = j.putObject("counters")
      o.counters.foreach { case (k, v) => c.put(k, v) }
    }
    w.extraRecord(rec)
    if (trace) {
      tracer.write(rec)
      recorder.foreach(_.write(spark, rec))
    }
    mapper.writeValue(new File(args(1)), rec)
    println(f"harness: loop ${(loopEnd - loopStart) / 1e9}%.1f s, whole-run checks and record " +
      f"${(System.nanoTime() - loopEnd) / 1e9}%.1f s")
    spark.stop()
  }

  def readLines(p: Path): Long = {
    val s = Files.lines(p)
    try s.count() finally s.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** The process's peak resident set so far (VmHWM), in kB. */
  def vmHwmKb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble
  }

  def doubles(n: JsonNode): Array[Double] = n.elements.asScala.map(_.asDouble).toArray
}

/** Spans around each call into the program: name, start, end, parent, op.
  * Kept in memory, written into the record at exit. Times are epoch
  * milliseconds with sub-millisecond resolution, on the same clock as
  * Spark's listener events. */
final class Tracer(var enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Double, var end: Double = 0.0)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1), nowMs())
      spans += s
      stack = s :: stack
      try body finally { s.end = nowMs(); stack = stack.tail }
    }

  def write(rec: ObjectNode): Unit = {
    val a = rec.putArray("spans")
    spans.foreach { s =>
      val j = a.addObject()
      j.put("id", s.id); j.put("name", s.name); j.put("parent", s.parent)
      j.put("op", s.op); j.put("start_ms", s.start); j.put("end_ms", s.end)
    }
  }
}

trait Workload {
  type Res
  def rowsPerOp: Long
  /** Untimed ops before the loop (planning, code generation and JIT). */
  def warmupOps: Int = 1
  def hasNext(done: Int): Boolean = true
  def op(id: Int): Res
  /** "" when the op's output is correct, else what is wrong. */
  def check(id: Int, res: Res): String
  def counters(id: Int, res: Res): Map[String, Double] = Map.empty
  def afterOp(id: Int): Unit = ()
  /** Checks that need the whole run (op id -> error). */
  def finish(ops: Seq[Harness.Op]): Seq[(Int, String)] = Nil
  def extraRecord(rec: ObjectNode): Unit = ()
}

/** `fit_small` / `fit_large`: the reference job over `Tables.points`.
  * Untraced op = `RefKMeans.fit` then assign + sizes (the two steps of
  * `fitSizes`, so the check sees the centroids). Traced op = the same
  * work as the public phase calls: ingest (persist + count), `seed`,
  * `fit` with `initialCentroids`, assign + sizes. */
final class FitWorkload(spark: SparkSession, p: JsonNode, tr: Tracer, corrupt: String,
    warmup: Int) extends Workload {
  type Res = FitRes
  // driver-bound fits keep speeding up over the first ops
  override def warmupOps: Int = warmup
  private val dir = p.get("dir").asText
  private val n = p.get("n").asLong
  private val d = p.get("d").asInt
  private val k = p.get("k").asInt
  private val firstIds = p.get("first_ids").elements.asScala.map(_.asLong).toIndexedSeq
  val rowsPerOp: Long = n
  private val results = ArrayBuffer.empty[(Int, Res)]

  // warm-up ops take the first id; timed ops cycle through the rest
  private def cfg(op: Int) = RefKMeans.Config(k = k, deltaThreshold = 0.01,
    maxIter = 100, firstId = Some(if (op < 0) firstIds(0) else firstIds(1 + op % (firstIds.size - 1))))

  private def sizes(points: DataFrame, cents: Array[(Int, Array[Double])]) =
    RefKMeans.assign(points, cents).groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .orderBy("cluster_id").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def op(id: Int): Res = {
    val c = cfg(id)
    val points = Tables.points(spark, dir)
    val res =
      if (!tr.enabled) {
        val r = RefKMeans.fit(points, c)
        FitRes(r.centroids, r.iterations, r.converged, sizes(points, r.centroids))
      } else {
        val cached = tr.span("ingest") {
          val pc = points.persist(StorageLevel.MEMORY_AND_DISK); pc.count(); pc }
        val seeds = tr.span("seed")(RefKMeans.seed(cached, c))
        val r = tr.span("lloyd")(RefKMeans.fit(cached, c.copy(initialCentroids = Some(seeds))))
        cached.unpersist()
        FitRes(r.centroids, r.iterations, r.converged,
          tr.span("assign")(sizes(points, r.centroids)))
      }
    corrupt match {
      case "centroid" =>
        res.copy(cents = res.cents.map { case (i, v) =>
          (i, if (i == 0) v.updated(0, v(0) + 1.0) else v) })
      case "row" => res.copy(sizes = res.sizes.updated(0, res.sizes(0) - 1))
      case _ => res
    }
  }

  // the Lloyd-round replay covers every op in one pass after the loop
  def check(id: Int, res: Res): String = { results += ((id, res)); "" }

  override def counters(id: Int, res: Res): Map[String, Double] =
    Map("lloyd_iters" -> res.iters.toDouble, "n" -> n.toDouble, "k" -> k.toDouble,
      "d" -> d.toDouble)

  /** One replayed Lloyd round per op, in plain Scala over the raw parquet
    * rows (not the program's reader or kernels), all ops in one pass. */
  override def finish(ops: Seq[Harness.Op]): Seq[(Int, String)] = {
    val cents = results.toSeq.map(_._2.cents.sortBy(_._1).map(_._2)).toArray
    val rounds = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>")).rdd
      .mapPartitions { rows =>
        val acc = cents.map(c => FitCheck.Round(c))
        rows.foreach { r =>
          val p = r.getSeq[Double](0).toArray
          acc.foreach(_.add(p))
        }
        Iterator(acc)
      }.reduce((a, b) => a.zip(b).map { case (x, y) => x.merge(y) })
    results.toSeq.zip(rounds).flatMap { case ((id, r), round) =>
      round.verdict(r.converged, r.sizes, 0.01).map(e => id -> e)
    }
  }
}

final case class FitRes(cents: Array[(Int, Array[Double])], iters: Int,
    converged: Boolean, sizes: Map[Int, Long])

object FitCheck {
  /** Membership counts and coordinate sums of one Lloyd round from the
    * centroids `cents`; ties go to the lowest centroid index, as in the
    * program's kernel. */
  final case class Round(cents: Array[Array[Double]]) {
    private val k = cents.length
    private val d = cents(0).length
    val cnt = new Array[Long](k)
    val sum: Array[Array[Double]] = Array.fill(k)(new Array[Double](d))

    def add(p: Array[Double]): Unit = {
      var best = 0; var bestD = Double.PositiveInfinity; var c = 0
      while (c < k) {
        var s = 0.0; var i = 0
        while (i < d) { val t = p(i) - cents(c)(i); s += t * t; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      cnt(best) += 1
      var i = 0
      while (i < d) { sum(best)(i) += p(i); i += 1 }
    }

    def merge(o: Round): Round = {
      for (c <- 0 until k) {
        cnt(c) += o.cnt(c)
        for (i <- 0 until d) sum(c)(i) += o.sum(c)(i)
      }
      this
    }

    /** None when the fit's reported output is right: it converged, its
      * sizes sum to N and equal the membership of its centroids, and the
      * replayed round moves the centroids by a mean Euclidean displacement
      * below `delta` (the reference stop rule). */
    def verdict(converged: Boolean, sizes: Map[Int, Long], delta: Double): Option[String] = {
      val n = cnt.sum
      val moved = (0 until k).map { c =>
        if (cnt(c) == 0) 0.0
        else math.sqrt((0 until d).map { i =>
          val t = sum(c)(i) / cnt(c) - cents(c)(i); t * t }.sum)
      }.sum / k
      val want = (0 until k).map(c => c -> cnt(c)).filter(_._2 > 0).toMap
      if (!converged) Some("fit hit the iteration cap")
      else if (sizes.values.sum != n) Some(s"sizes sum to ${sizes.values.sum}, not $n")
      else if (sizes != want) Some(s"sizes $sizes differ from the replayed membership $want")
      else if (!(moved < delta)) Some(f"replayed round moves the centroids by $moved%.6f")
      else None
    }
  }
}

/** `export_csv`: the reference client's path. ingest (`csvPoints`,
  * persist + count), assign to the planted centres + size summary,
  * export (`writeClustersCsv`). No Lloyd loop. */
final class ExportWorkload(spark: SparkSession, p: JsonNode, tr: Tracer, runDir: String,
    corrupt: String) extends Workload {
  type Res = (Map[Int, Long], String)
  private val csv = p.get("dir").asText + "/points.csv"
  // CSV parsing and writing keep speeding up over the first ops
  override def warmupOps: Int = 2
  private val d = p.get("d").asInt
  private val centres = p.get("centres").elements.asScala
    .map(Harness.doubles).zipWithIndex.map { case (v, i) => (i, v) }.toArray
  private val planted = p.get("counts").elements.asScala.map(_.asLong)
    .zipWithIndex.map { case (c, i) => i -> c }.toMap
  val rowsPerOp: Long = p.get("n").asLong
  private def out(id: Int) = s"$runDir/export/op$id"

  def op(id: Int): Res = {
    val pts = tr.span("ingest") {
      val pc = Tables.csvPoints(spark, csv).persist(StorageLevel.MEMORY_AND_DISK)
      pc.count(); pc }
    val assigned0 = RefKMeans.assign(pts, centres)
    val assigned = if (corrupt == "row") assigned0.filter(col("id") =!= 0L) else assigned0
    val sizes = tr.span("assign") {
      assigned.groupBy("cluster_id").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap }
    tr.span("export")(Sinks.writeClustersCsv(pts.join(assigned, "id"), d, out(id)))
    pts.unpersist()
    (sizes, out(id))
  }

  /** Re-read the written CSV: per-cluster data rows (lines minus one
    * header per part file) must equal the planted counts. */
  def check(id: Int, res: Res): String = {
    val root = new File(res._2)
    val got = Option(root.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("cluster_id=")).map { c =>
        val parts = c.listFiles.filter(_.getName.endsWith(".csv"))
        c.getName.stripPrefix("cluster_id=").toInt ->
          parts.map(f => Harness.readLines(f.toPath) - 1).sum
      }.toMap
    if (got != planted) s"re-read cluster counts $got differ from planted $planted"
    else if (res._1 != planted) s"size summary ${res._1} differs from planted $planted"
    else ""
  }

  override def counters(id: Int, res: Res): Map[String, Double] = {
    val files = Files.walk(Paths.get(res._2)).iterator.asScala
      .filter(Files.isRegularFile(_)).filterNot(_.getFileName.toString.startsWith(".")).toSeq
    Map("export_files" -> files.size.toDouble,
      "export_bytes" -> files.map(Files.size(_)).sum.toDouble,
      "n" -> rowsPerOp.toDouble, "k" -> centres.length.toDouble, "d" -> d.toDouble)
  }

  override def afterOp(id: Int): Unit = Harness.deleteTree(new File(out(id)))
}

/** `dedup_corpus`: six dedup consumers, each forced with `count`, on a
  * fresh copy of the corpus per op (Scratch keys embed the directory, so
  * every op builds its shared relations cold). The untimed warm-up op runs
  * the same calls on a 500-doc slice and writes the six outputs instead,
  * for the DuckDB oracle hash-match in run.py; run.py also checks every
  * timed op's six counts against the oracle's row counts. */
final class DedupWorkload(spark: SparkSession, p: JsonNode, tr: Tracer, runDir: String,
    corrupt: String) extends Workload {
  type Res = Map[String, Long]
  val consumers: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("canonical", "dedup_canonical", Dedup.canonical),
    ("chunk_groups", "dedup_chunks", Dedup.chunkDupGroups(_, _)),
    ("chunk_stats", "dedup_chunk_stats", Dedup.chunkDupStats(_, _)),
    ("simhash", "dedup_simhash", Dedup.simhashPairs(_, _)),
    ("chunk_canonical", "dedup_chunk_canonical", Dedup.chunkCanonical(_, _)),
    ("jaccard_prefix", "dedup_jaccard_prefix", Dedup.jaccardPrefix))
  private val dirs = p.get("corpus_dirs").elements.asScala.map(_.asText).toIndexedSeq
  private val warmupDir = p.get("warmup_dir").asText
  val rowsPerOp: Long = p.get("n").asLong
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private var prevScratch = Set.empty[File]

  private def scratchDirs(): Set[File] = Option(tmp.listFiles).getOrElse(Array.empty[File])
    .filter(_.getName.startsWith("graft_scratch")).toSet
  // the warm-up op runs on a 500-doc slice: a cold op in a fresh JVM
  // takes 20-28 s, with JIT threads competing for the cores
  private def dir(id: Int) = if (id < 0) warmupDir else dirs(id)

  override def hasNext(done: Int): Boolean = done < dirs.size

  def op(id: Int): Res = {
    val res = consumers.map { case (phase, query, f) =>
      phase -> tr.span(phase) {
        val df = f(spark, dir(id))
        if (id >= 0) df.count() else { writeForCheck(df, query); 0L }
      }
    }.toMap
    if (corrupt == "row") res.updated("canonical", res("canonical") - 1) else res
  }

  private def writeForCheck(df: DataFrame, query: String): Unit = {
    val out = if (corrupt == "row") df.limit(math.max(0, df.count().toInt - 1)) else df
    out.write.mode("overwrite").parquet(s"$runDir/check/$query")
  }

  // the counts are checked against the oracle in run.py
  def check(id: Int, res: Res): String = ""

  override def counters(id: Int, res: Res): Map[String, Double] = {
    val files = (scratchDirs() -- prevScratch).toSeq.map(f =>
      Files.walk(f.toPath).iterator.asScala.count(Files.isRegularFile(_)))
    res.map { case (k, v) => s"rows.$k" -> v.toDouble } ++
      Map("scratch_files" -> files.sum.toDouble, "n" -> rowsPerOp.toDouble)
  }

  /** Scratch dirs of earlier ops are never read again: drop them so the
    * run's disk use stays bounded. */
  override def afterOp(id: Int): Unit = {
    val now = scratchDirs()
    prevScratch.foreach(Harness.deleteTree)
    prevScratch = now
  }

  override def extraRecord(rec: ObjectNode): Unit = {
    val q = rec.putObject("queries")
    val oracle = graft.SparkEntry.oracleSql
    consumers.foreach { case (phase, query, _) =>
      val j = q.putObject(phase)
      j.put("query", query)
      j.put("oracle_sql", oracle(query))
    }
  }
}
