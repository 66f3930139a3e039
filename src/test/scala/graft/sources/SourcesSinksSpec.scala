package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.RefKMeans
import graft.LocalSpark

/** Reference ingest/export surface: headerless-CSV points (O1/O2), the
  * per-cluster sink (O19), catalog listing (O3). */
class SourcesSinksSpec extends AnyFunSuite with LocalSpark {

  test("csvPoints parses headerless numeric CSV with global row ids (O1/O2)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/points.csv"),
      "0.0,0.0\n0.0,1.0\n1.0,0.0\n10.0,10.0\n10.0,11.0\n11.0,10.0\n")
    val pts = Tables.csvPoints(spark, s"$dir/points.csv")
    assert(pts.count() == 6)
    val row = pts.orderBy("id").head()
    assert(row.getSeq[Double](1).length == 2)
    // ids unique (fixes the reference's per-chunk id restart quirk)
    assert(pts.select("id").distinct().count() == 6)
  }

  test("csvPoints' declared DOUBLE read equals the inferSchema-then-cast read") {
    val dir = Files.createTempDirectory("graft_csv").toString
    // int, float, negative and exponent columns; a blank line; a column
    // that mixes ints and floats; a value past the long range
    Files.writeString(java.nio.file.Paths.get(s"$dir/points.csv"),
      "1,0.5,-3,1e3,7,12345678901234567890\n" +
      "\n" +
      "-2,-0.25,4,-2.5E-7,7.5,1\n" +
      "30,1.0000000000000002,-1,6.02e+23,-8,-99\n")
    val path = s"$dir/points.csv"
    val inferred = spark.read
      .option("header", "false").option("inferSchema", "true").csv(path)
    assert(inferred.schema.map(_.dataType.typeName).take(4) ==
      Seq("integer", "double", "integer", "double"))
    val old = inferred.select(array(inferred.columns.toIndexedSeq
      .map(c => col(c).cast("double")): _*).as("features"))
      .collect().map(_.getSeq[Double](0)).toSeq
    val declared = Tables.csvPoints(spark, path)
    assert(declared.schema("features").dataType.simpleString == "array<double>")
    val now = declared.orderBy("id").collect().map(_.getSeq[Double](1)).toSeq
    assert(now.length == 3)
    assert(now.map(_.map(java.lang.Double.doubleToRawLongBits)) ==
      old.map(_.map(java.lang.Double.doubleToRawLongBits)))
  }

  test("per-cluster sink writes one partition dir per cluster (O19) and round-trips") {
    import spark.implicits._
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(10.0, 10.0)), (4L, Seq(10.0, 11.0)), (5L, Seq(11.0, 10.0)))
      .toDF("id", "features")
    val res = RefKMeans.fit(pts, RefKMeans.Config(k = 2, firstId = Some(0L)))
    val assigned = pts.join(RefKMeans.assign(pts, res.centroids), "id")
    val out = Files.createTempDirectory("graft_sink").toString

    Sinks.writeClustersCsv(assigned, d = 2, out = s"$out/csv")
    val dirs = new java.io.File(s"$out/csv").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("cluster_id=0", "cluster_id=1"))
    val back = spark.read.option("header", "true").csv(s"$out/csv")
    assert(back.count() == 6)

    Sinks.writeClustersParquet(assigned, s"$out/pq")
    val pq = spark.read.parquet(s"$out/pq")
    assert(pq.filter(col("cluster_id") === 1).count() == 3)
  }

  test("JSON sink round-trips arrays with an explicit read schema") {
    import spark.implicits._
    val pts = Seq((0L, Seq(0.0, 1.5), 0), (1L, Seq(2.0, 3.0), 1))
      .toDF("id", "features", "cluster_id")
    val out = Files.createTempDirectory("graft_json").toString
    Sinks.writeClustersJson(pts, s"$out/js")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("features",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val back = Sinks.readJson(spark, schema, s"$out/js")
    assert(back.count() == 2)
    assert(back.filter(col("id") === 0).head().getSeq[Double](1) == Seq(0.0, 1.5))
  }

  test("ORC sink round-trips with partition layout and filter pushdown") {
    import spark.implicits._
    val pts = Seq((0L, Seq(0.0, 1.5), 0), (1L, Seq(2.0, 3.0), 1))
      .toDF("id", "features", "cluster_id")
    val out = Files.createTempDirectory("graft_orc").toString
    Sinks.writeClustersOrc(pts, s"$out/orc")
    // one partition dir per cluster, like the parquet/csv sinks
    val dirs = new java.io.File(s"$out/orc").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("cluster_id=0", "cluster_id=1"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("features",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val back = Sinks.readOrc(spark, schema, s"$out/orc")
    assert(back.count() == 2)
    assert(back.filter(col("id") === 0).head().getSeq[Double](1) == Seq(0.0, 1.5))
    // predicate reaches the ORC scan (pushed filters in the plan text)
    val plan = back.filter(col("id") === 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,1"), plan)
  }

  test("bucketed tables join with no shuffle exchange (co-located join)") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    // the warehouse is LocalSpark's JVM-wide temp dir, shared by every
    // context this test JVM creates: clear both the catalog entries and
    // any managed-table locations an earlier context left without them
    val wh = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("orders_bkt", "lineitem_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    Sinks.writeBucketed(o, "o_orderkey", 4, "orders_bkt")
    Sinks.writeBucketed(li, "l_orderkey", 4, "lineitem_bkt")
    // disable broadcast: at real scale neither side fits; the point is
    // that the bucketed layout replaces the shuffle exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed-bucketed equi-join must not shuffle:\n" + plan)
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("date-partitioned export prunes partitions on a date predicate") {
    val spark2 = spark
    spark2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.sources.Tables.events(spark2, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("graft_part").toString + "/ev"
    Sinks.writeEventsByDate(events, out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date="))
    assert(dirs.length > 1, "export must create one dir per event date")
    val oneDay = dirs.head.stripPrefix("event_date=")
    val q = spark2.read.parquet(out).filter(col("event_date") === oneDay)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
      "date predicate must prune at planning time:\n" + plan)
    assert(q.count() > 0 && q.count() < events.count())
  }

  test("z-ordered write clusters both dimensions into few files") {
    import graft.operators.Relational
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val zkey = Relational.mortonKey(
      (col("l_partkey") % 65536).cast("long"), (col("l_suppkey") % 65536).cast("long"))
    val out = Files.createTempDirectory("graft_z").toString + "/li"
    Sinks.writeZOrdered(li, zkey, files = 8, out = out)
    val back = spark.read.parquet(out)
    assert(back.count() == li.count(), "z-order write must preserve all rows")
    assert(back.columns.sorted.sameElements(li.columns.sorted), "no layout column leaks")
    // the point of the layout: a 2-D-local key range lands in FEW files.
    // Check via parquet footers: per-file min/max of l_partkey must be
    // narrower than the global range for most files (the sort clusters
    // values), i.e. the sum of per-file spans ≪ files × global span.
    val perFile = back.groupBy(input_file_name())
      .agg(min("l_partkey").as("mn"), max("l_partkey").as("mx"))
      .collect().map(r => r.getLong(1) -> r.getLong(2))
    val global = li.agg(min("l_partkey"), max("l_partkey")).head()
    val span = (global.getLong(1) - global.getLong(0)).toDouble
    val avgSpan = perFile.map { case (a, b) => (b - a).toDouble }.sum / perFile.length
    assert(perFile.length > 1)
    assert(avgSpan < span * 0.8,
      s"files should each cover a narrow l_partkey range (avg $avgSpan of $span)")
  }

  test("schema evolution: mergeSchema unions parquet files with differing columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evo").toString
    Seq((1L, 10.0)).toDF("id", "x").write.parquet(s"$dir/v1")
    Seq((2L, "b")).toDF("id", "y").write.parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.sorted.toSeq == Seq("id", "x", "y"))
    assert(merged.count() == 2)
    assert(merged.filter(col("id") === 2).head().isNullAt(merged.columns.indexOf("x")))
  }

  test("cached tables serve scans from memory (InMemoryTableScan)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df.createOrReplaceTempView("orders_cache_t")
    spark.catalog.cacheTable("orders_cache_t")
    try {
      val q = spark.table("orders_cache_t").groupBy("o_orderstatus").count()
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage")
          || plan.contains("InMemoryRelation"),
        "cached scan missing from plan:\n" + plan)
    } finally spark.catalog.uncacheTable("orders_cache_t")
  }

  test("catalog listing enumerates the sf tables (O3)") {
    val ds = Sinks.listDatasets(spark, "/root/testdata/sf0.001")
    assert(ds.contains("lineitem") && ds.contains("embeddings") && ds.size == 10)
  }

  test("compaction collapses a small-file spray into size-targeted files, data intact") {
    import org.apache.spark.sql.functions._
    val frag = Files.createTempDirectory("graft_compact_in").toString
    val out = Files.createTempDirectory("graft_compact_out").toString + "/t"
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    src.repartition(64).write.mode("overwrite").parquet(frag)
    def parts(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts(frag) == 64, "fixture must start fragmented")
    val n = Sinks.compact(spark, frag, out, targetBytes = 1L << 30)
    assert(n == 1 && parts(out) == 1, "1 GiB target must yield a single file")
    def sig(d: String) = spark.read.parquet(d)
      .agg(count(lit(1)), sum("l_orderkey"), sum("l_linenumber"))
      .head().toSeq
    assert(sig(out) == sig(frag), "compaction must not change the data")
  }

  test("scatter HTML embeds the exact chart data and one marker per row (O20/O21)") {
    val sf = "/root/testdata/sf0.001"
    val scatter = graft.kmeans.KMeansSteps.scatterData(spark, sf)
    val rows = scatter.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val out = Files.createTempDirectory("graft_plot").toString + "/k-means_scatter.html"
    Sinks.writeScatterHtml(scatter, out)
    val html = Files.readString(java.nio.file.Paths.get(out))
    assert(html.contains("<title>Clustering - Scatter Plot</title>"))
    // the embedded JSON holds every row verbatim
    rows.foreach { case (cid, vid, x, y) =>
      assert(html.contains(s"""{"cluster_id":$cid,"vec_id":$vid,"x":$x,"y":$y}"""),
        s"row ($cid,$vid) missing from embedded data")
    }
    assert("<circle ".r.findAllIn(html).length == rows.length,
      "one SVG marker per data row")
    // centroid rows render as the black series
    assert("fill=\"black\"".r.findAllIn(html).length ==
      rows.count(_._2 == -1L))
  }

  test("bar HTML embeds the exact cluster sizes with on-top labels (O20)") {
    val sf = "/root/testdata/sf0.001"
    val sizes = graft.kmeans.KMeansSteps.clusterSizes(spark, sf)
      .select(org.apache.spark.sql.functions.col("cluster_id").cast("long").as("cluster_id"),
        org.apache.spark.sql.functions.col("n"))
    val rows = sizes.collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = Files.createTempDirectory("graft_plot").toString + "/k-means_bar.html"
    Sinks.writeBarHtml(sizes, out)
    val html = Files.readString(java.nio.file.Paths.get(out))
    assert(html.contains("<title>Clustering - Bar Chart</title>"))
    rows.foreach { case (cid, n) =>
      assert(html.contains(s"""{"cluster_id":$cid,"n":$n}"""))
      assert(html.contains(s">Cluster $cid</text>"), s"axis label for $cid")
      assert(html.contains(s">$n</text>"), s"count label for $cid")
    }
    assert("<rect ".r.findAllIn(html).length == rows.length + 1, // +1 frame
      "one bar per cluster")
  }

  test("corpusKey fingerprints content: an in-place rewrite invalidates the scratch key") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_scratch_fp").toString
    Seq((1L, "one")).toDF("id", "t")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k1 = Scratch.corpusKey(dir)
    assert(k1.startsWith(s"$dir@"))
    assert(Scratch.corpusKey(dir) == k1, "stable while the corpus is unchanged")
    val n1 = Scratch.materialize(spark, s"fp_test:$k1") {
      spark.read.parquet(s"$dir/t.parquet")
    }.count()
    assert(n1 == 1L)
    // regenerate the corpus IN PLACE (more rows → different file sizes);
    // the key must change, so a key-through-corpusKey materialization
    // rebuilds instead of serving the stale parquet (ADVICE r13)
    Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "t")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k2 = Scratch.corpusKey(dir)
    assert(k2 != k1, "in-place rewrite must change the fingerprint")
    val n2 = Scratch.materialize(spark, s"fp_test:$k2") {
      spark.read.parquet(s"$dir/t.parquet")
    }.count()
    assert(n2 == 3L, "the rebuilt materialization must see the new corpus")
  }
}
