package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partition-count stress knob (PERF.md): the plans must not depend
    // on shuffle.partitions == cpus — AQE coalescing should keep a
    // 200-partition run within noise of the default
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      // ContextCleaner only reclaims shuffle files / broadcasts / RDD
      // blocks whose driver-side references have been GC'd, and its
      // safety-net GC defaults to every 30 MINUTES — in a long shared-JVM
      // pass (the sf10 probe runs ~60 min) a large driver heap almost
      // never collects old gen on its own, so dead shuffle dirs pile up
      // on /tmp and tax late heavy queries (the r13 in-pass inflation:
      // graph_kcore 121.6 s in-pass vs 39 s standalone). A 2-minute
      // interval keeps the debris window bounded at pass scale and costs
      // one System.gc() per 2 min — noise at sf0.1 (≤2 GCs per pass).
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "2min"))
      // let AQE coalesce partitions INSIDE cached plans too — persisted
      // intermediates (posting lists, LSH buckets) otherwise pin the raw
      // shuffle.partitions count and every downstream stage pays
      // per-task overhead × partitions (the 200-partition stress run
      // showed dedup_ngram 2.3 s → 23 s from exactly this)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // match Verify: the events NTZ→TIMESTAMP cast (Tables.events) must
      // not depend on the machine's time zone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a failure outside the timed query (warm-up, snapshot, cache clear)
    // does not stop the pass, but it is never silent
    def warn(name: String, what: String, e: Throwable): Unit =
      System.err.println(s"BENCH WARN $name: $what failed: ${e.getClass.getName}: ${e.getMessage}")
    // JIT/codegen warmup so the first measured queries aren't charged
    // for JVM cold start: exercise each hot operator CLASS once on
    // tiny data — scan + vector kernel, hash aggregate, window,
    // sort-merge join, md5 kernel — so Janino/JIT compile outside the
    // timed region (alphabetical order put the ANN suite first, and it
    // absorbed 1-3 s of warmup per run)
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      graft.sources.Tables.points(spark, sfDir)
        .select(sum(graft.functions.VectorOps.dot(col("features"), col("features"))))
        .count()
      graft.sources.Tables(spark, sfDir, "lineitem").count()
      val t = spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
        graft.functions.HashOps.wordHashN(col("id").cast("string"), 15).as("h"))
      t.groupBy("k").agg(sum("h").as("s"), count(lit(1)).as("n")).count()
      t.withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(desc("h"), asc("id"))))
        .filter(col("rn") <= 3).count()
      val u = t.withColumnRenamed("h", "h2")
      t.hint("merge").join(u, Seq("id")).count()
      t.join(broadcast(u.limit(50)), Seq("id")).count()
      // JSON parse path: from_json's first task-side execution in a JVM
      // is 5-25× steady state (PERF.md "json_props attribution" — r9
      // probe: 32 concurrent first-use tasks block on classloader/codegen
      // locks, exec 52.7 s vs cpu 12.5 s; a single-task first run burns
      // 3-6 s of un-JIT'd parse CPU). 20k rows across all cores JITs the
      // parse loop and loads the classes outside the timed region.
      val js = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      spark.range(20000).repartition(cpus.toInt)
        .select(from_json(
          concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}")),
          js).getField("k").as("k"))
        .agg(sum("k")).count()
    } catch { case e: Throwable => warn("warm-up", "JIT warm-up", e) }
    // deterministic run order; clear leaked caches between queries so a
    // branched pipeline's persist() doesn't tax its successors
    // dev-loop subset filter (unset for the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // exclusion twin of ONLY (e.g. skipping declared-quadratic baselines
    // in an oversized-sf sweep)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // A fatal executor-thread error (OOM) makes local-mode Spark stop the
    // shared SparkContext; every later .count() then fails in ~20 ms with
    // "SparkContext has been shut down". The r9 sf10 probe ground through
    // 15 such instant failures plus a full re-measure sweep of them,
    // leaving a record where time-to-instant-fail masqueraded as
    // observations. Once the context is dead nothing measured after it is
    // a performance fact: mark the remaining queries skipped, not failed.
    def ctxDead: Boolean = spark.sparkContext.isStopped
    // Per-query JVM/disk snapshots (SPARK_GRAFT_SNAPSHOTS=1): what does a
    // long shared-JVM pass ACCUMULATE between queries? Emitted OUTSIDE the
    // timed region, one `BENCH-SNAP {...}` line per measurement — heap,
    // cumulative GC, live persistent RDDs, block-manager memory/disk, and
    // the on-disk footprint of Spark's scratch dirs (blockmgr-*/spark-*
    // shuffle+broadcast files, the exact debris ContextCleaner reclaims)
    // plus the graft_scratch materializations. The r13 sf10 probe showed
    // late heavy queries 1.6-3× their standalone times; these snapshots
    // attribute it (PERF.md "sf10 shared-pass inflation").
    val snapshots = sys.env.get("SPARK_GRAFT_SNAPSHOTS").contains("1")
    def dirFootprint(name: String, prefixes: Seq[String]): (Long, Long) = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      var bytes = 0L; var files = 0L
      def walk(f: java.io.File): Unit =
        if (f.isFile) { bytes += f.length(); files += 1 }
        else Option(f.listFiles).foreach(_.foreach(walk))
      Option(tmp.listFiles).foreach(_.foreach { d =>
        if (prefixes.exists(d.getName.startsWith))
          try walk(d) catch { case e: Throwable => warn(name, s"snapshot walk of $d", e) }
      })
      (bytes, files)
    }
    def snap(name: String): Unit = if (snapshots) try {
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      var gcMs = 0L; var gcN = 0L
      gcs.forEach { b => gcMs += math.max(0L, b.getCollectionTime)
        gcN += math.max(0L, b.getCollectionCount) }
      val rdds = spark.sparkContext.getPersistentRDDs.size
      // storage-memory in use = max − remaining over every block manager
      // (public API; block DISK usage shows up in the tmp footprint below)
      val memUsed = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / (1 << 20)
      val (shufB, shufF) = dirFootprint(name, Seq("blockmgr-", "spark-"))
      val (scrB, scrF) = dirFootprint(name, Seq("graft_scratch"))
      println(s"""BENCH-SNAP {"q":"$name","heap_mb":$heapMb,"gc_ms":$gcMs,""" +
        s""""gc_n":$gcN,"rdds":$rdds,"storage_mem_mb":$memUsed,""" +
        s""""tmp_shuffle_mb":${shufB / (1 << 20)},"tmp_shuffle_files":$shufF,""" +
        s""""scratch_mb":${scrB / (1 << 20)},"scratch_files":$scrF}""")
    } catch { case e: Throwable => warn(name, "snapshot", e) }
    // cold/warm floor provenance (VERDICT r15 task 1): every compute
    // cache (Scratch + the per-JVM registries) reports lookups to
    // CacheProbe while a query is timed. An observation that BUILT ≥ 1
    // entry is "cold" (it paid the build), one that only read entries a
    // sibling built is "warm" (the designed amortized-pass cost), no
    // cache activity records no tag. Before each de-noising re-run the
    // entries the previous observation built are EVICTED, so a
    // build-owning query repeats its build on every observation — the
    // old behavior re-read the per-JVM cache and recorded the ~0.1 s
    // amortized read as the floor (the r15 ann_hnsw_topk artifact).
    graft.sources.CacheProbe.setEnabled(true)
    def provenance(acc: Seq[graft.sources.CacheProbe.Access]): Option[String] =
      if (acc.exists(_.built)) Some("cold")
      else if (acc.nonEmpty) Some("warm")
      else None
    def timeOne(name: String, fn: SparkEntry.Query)
        : (Double, Boolean, Seq[graft.sources.CacheProbe.Access]) = {
      graft.sources.CacheProbe.drain()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).df.count(); true }
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val acc = graft.sources.CacheProbe.drain()
      try spark.catalog.clearCache() catch { case e: Throwable => warn(name, "clearCache", e) }
      snap(name)
      (dt, ok, acc)
    }
    val qs0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)) && !skip.contains(kv._1))
    // (name, fn, dt, ok, attempted, cacheAccesses)
    val firstPass = qs0.map { case (name, fn) =>
      if (ctxDead)
        (name, fn, 0.0, false, false,
          Seq.empty[graft.sources.CacheProbe.Access])
      else { val (dt, ok, acc) = timeOne(name, fn); (name, fn, dt, ok, true, acc) }
    }
    // De-noising re-measure (PERF.md "bench methodology"): a transient
    // machine stall (GC pause, page-cache churn, CI contention) must not
    // land in the permanent per-round record as a fake regression —
    // BENCH_r03 recorded a 99 s environmental stall this way. Two
    // independent triggers:
    //  (a) intra-run outlier: dt > max(3× pass median, 2 s);
    //  (b) cross-round regression: dt > 2× the same query's time in the
    //      previous full record at the SAME scale factor
    //      (BENCH_LAST_<sf>.json, written by every run — the driver's
    //      BENCH_r*.json wrappers truncate the query map, so the bench
    //      keeps its own), no floor — BENCH_r04's stall block sat at
    //      1.2–1.7 s, under (a)'s 2 s floor, exactly where a per-query
    //      prior is the only visible baseline.
    // A triggered query gets ONE warm re-run; the de-noised total keeps
    // the better time, but BOTH observations land in the record
    // ("remeasured": {name: [first, rerun]}), so a genuinely
    // intermittent slowdown stays evidenced instead of being dropped.
    val repoDir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
    // a prior record that is missing, unreadable, not JSON or lacks the
    // key reads as empty: it only anchors the re-measure trigger
    def readRecordKey(f: java.io.File, key: String)
        : Seq[(String, com.fasterxml.jackson.databind.JsonNode)] =
      if (!f.isFile) Nil
      else try {
        Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
          .flatMap(root => Option(root.get(key))).toSeq
          .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      } catch { case e: java.io.IOException =>
        System.err.println(s"BENCH WARN ignoring prior record $f: ${e.getClass.getName}: ${e.getMessage}")
        Nil
      }
    def readQueryMap(f: java.io.File): Map[String, Double] =
      readRecordKey(f, "queries").map { case (k, v) => k -> v.asDouble }.toMap
    val priorFile = new java.io.File(repoDir,
      s"BENCH_LAST_${new java.io.File(sfDir).getName}.json")
    val prior = readQueryMap(priorFile)
    // Fixed anchor for the cross-round trigger: the elementwise MIN over
    // every full run at this sf (BENCH_MIN_<sf>.json, monotone — never
    // rises). Comparing only against the rewritten-every-run BENCH_LAST
    // lets sub-threshold drift compound unseen: 1.3×/round is 1.69×
    // after two rounds yet never trips a per-round 2× check; against the
    // pinned min, the cumulative factor itself is what's measured.
    val minFile = new java.io.File(repoDir,
      s"BENCH_MIN_${new java.io.File(sfDir).getName}.json")
    val minRec = readQueryMap(minFile)
    val sorted = firstPass.map(_._3).sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
    val cutoff = math.max(3 * median, 2.0)
    val remeasured = Seq.newBuilder[(String, Seq[(Double, Boolean)])]
    // (name, dt, ok, attempted, provenance of the recorded observation)
    val results = firstPass.map { case (name, fn, dt, ok, attempted, acc) =>
      // regression = 2× the best time ever recorded for this query at
      // this sf (falling back to last round's for queries the min file
      // hasn't seen). The min anchor is what closes the compounding
      // hole; the 2× threshold leaves headroom for the measured ~1.3×
      // machine-level environmental drift (PERF.md r6 A/B)
      val anchor = (minRec.get(name).toList ++ prior.get(name)).minOption
      def regressed(t: Double) = anchor.exists(p => t > 2 * p)
      if (!attempted) (name, dt, ok, attempted, provenance(acc))
      else if (!ok || (dt <= cutoff && !regressed(dt)))
        (name, dt, ok, attempted, provenance(acc))
      else {
        // up to TWO warm re-runs: the r8 record showed a single rerun
        // under sustained machine contention still lands 2-5× above the
        // floor (34/139 queries remeasured, most still slow) — a second
        // chance once the contention window passes costs seconds and
        // only runs for queries already flagged. All observations land
        // in "remeasured" as structured {"t": wall, "ok": bool} entries
        // (a failed attempt's t is its time-to-crash, never a
        // measurement — the explicit ok flag replaces r9's negative-sign
        // convention, which any consumer computing stats over the array
        // could silently misread; ADVICE r9). No re-runs once the
        // context is dead — they'd all fail instantly.
        var obs = List((dt, ok))
        var best = (dt, ok)
        var bestProv = provenance(acc)
        // entries the latest observation BUILT: evicted before the next
        // re-run so it pays the same builds (cold stays cold)
        var lastBuilt = acc.filter(_.built)
        var tries = 0
        while (tries < 2 && !ctxDead && (tries == 0 || regressed(best._1))) {
          lastBuilt.foreach(_.evict())
          val (dtN, okN, accN) = timeOne(name, fn)
          obs = obs :+ ((dtN, okN))
          if (okN && (!best._2 || dtN < best._1)) {
            best = (dtN, true); bestProv = provenance(accN)
          }
          lastBuilt = accN.filter(_.built)
          tries += 1
        }
        remeasured += ((name, obs))
        (name, best._1, best._2, attempted, bestProv)
      }
    }
    // the queries map and total carry SUCCESSFUL timings only: a crashed
    // query's time-to-failure is not a performance observation, and this
    // record becomes the next run's regression anchor (prior/min) — a
    // fast crash would otherwise anchor a spurious 2× trip once fixed
    // (exactly what the r7 events crashes did to BENCH_LAST)
    val qs = results.collect { case (k, v, true, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a crashed query must be visible in the JSON, not silently folded
    // into the total as its time-to-failure
    val failed = results.collect { case (k, _, false, true, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // queries never attempted because the SparkContext had already died
    // — neither measurements nor query failures
    val skipped = results.collect { case (k, _, _, false, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // cold/warm cache provenance of each recorded time (queries with no
    // cache activity are absent): "cold" = the observation paid ≥ 1
    // cache build, "warm" = it read entries a sibling query built
    val cacheProv = results
      .collect { case (k, _, true, _, Some(p)) => s"\"" + k + "\":\"" + p + "\"" }
      .mkString("{", ",", "}")
    // transparency: which recorded times are best-of-2, and what both
    // observations were (see PERF.md bench methodology)
    val rem = remeasured.result()
      .map { case (n, obs) =>
        val entries = obs.map { case (t, o) => s"""{"t":$t,"ok":$o}""" }
        s"\"$n\":[${entries.mkString(",")}]"
      }
      .mkString("{", ",", "}")
    val priorName =
      if (prior.nonEmpty) "\"" + priorFile.getName + "\"" else "null"
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"skipped_dead_context":$skipped,"remeasured":$rem,"cache":$cacheProv,"prior_record":$priorName,"sf":"$sfDir"}"""
    println(line)
    // stable machine-readable copy at a fixed path: the driver's
    // stdout-scrape has produced "parsed": null wrappers two rounds
    // running (r7/r8) — BENCH_RESULT.json is the documented source of
    // truth (README "Benchmark"), written for EVERY run including
    // subset/stress runs (unlike BENCH_LAST, which only full
    // default-config runs may overwrite). A failed record write throws:
    // the run exits non-zero instead of leaving stale anchors.
    java.nio.file.Files.writeString(
      new java.io.File(repoDir, "BENCH_RESULT.json").toPath, line + "\n")
    // persist the full record as the next run's cross-round baseline —
    // full default-config runs only: a SPARK_GRAFT_ONLY subset would
    // poison the prior with a partial map, and a shuffle-partition
    // stress run with legitimately slower times
    // a run whose context died mid-pass is not a representative baseline
    if (only.isEmpty && skip.isEmpty && shuffle == cpus && results.forall(_._4)) {
      java.nio.file.Files.writeString(priorFile.toPath, line + "\n")
      // refresh the monotone anchor: elementwise min of the record so
      // far and this run's successful timings (failed queries excluded
      // — a time-to-crash is not a performance floor). Cold/warm
      // provenance travels with whichever run supplied the floor, so
      // the record says what each floor measured (a cold build vs an
      // amortized warm read) — the convention PERF.md "cache-provenance
      // floors" documents.
      val priorProv: Map[String, String] =
        readRecordKey(minFile, "cache").map { case (k, v) => k -> v.asText }.toMap
      val thisRun = results.collect { case (k, v, true, _, p) => k -> (v, p) }.toMap
      val merged = (minRec.keySet ++ thisRun.keySet).toSeq.map { k =>
        val old = minRec.get(k)
        val cur = thisRun.get(k).map(_._1)
        val v = (old.toList ++ cur).min
        // provenance of the run that owns the floor
        val prov =
          if (cur.contains(v)) thisRun(k)._2.orElse(priorProv.get(k))
          else priorProv.get(k)
        (k, v, prov)
      }
      val body = merged.sortBy(_._1)
        .map { case (k, v, _) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      val provBody = merged.sortBy(_._1)
        .collect { case (k, _, Some(p)) => s"\"" + k + "\":\"" + p + "\"" }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(minFile.toPath,
        s"""{"queries":$body,"cache":$provBody,"sf":"$sfDir"}""" + "\n")
    }
    spark.stop()
  }
}
