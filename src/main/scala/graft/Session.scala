package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration: every main (Bench, Verify,
  * PlanDump, ScaleUp) and every test suite (through `graft.LocalSpark`)
  * starts its session here, so the plans the tests pin are the plans
  * the bench and the oracle dump run.
  *
  * The benchmark harness (`perfbench/scala/Harness.scala`) builds its own
  * session with the same settings. Its intended difference is that
  * `spark.local.dir` and the warehouse live under the bench run's
  * `local_dir`; it also keeps the ERROR log level and Spark's default
  * 30-minute cleaner GC. */
object Session {

  def builder(cpus: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // let AQE coalesce partitions INSIDE cached plans too: persisted
      // intermediates (posting lists, LSH buckets) otherwise pin the raw
      // shuffle.partitions count and every downstream stage pays
      // per-task overhead × partitions (the 200-partition stress run
      // showed dedup_ngram 2.3 s → 23 s from exactly this)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the events NTZ→TIMESTAMP cast (Tables.events) and every derived
      // event instant must not depend on the machine's time zone
      .config("spark.sql.session.timeZone", "UTC")
      // the driver fixture stores events.ts as TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only reclaims shuffle files / broadcasts / RDD
      // blocks whose driver-side references have been GC'd, and its
      // safety-net GC defaults to every 30 MINUTES: in a long shared-JVM
      // pass (the sf10 probe runs ~60 min) a large driver heap almost
      // never collects old gen on its own, so dead shuffle dirs pile up
      // on /tmp and tax late heavy queries (the r13 in-pass inflation:
      // graph_kcore 121.6 s in-pass vs 39 s standalone). Two minutes
      // bounds the debris window for one System.gc() per 2 min.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.log.level", "WARN")

  /** The session of a main: `local[SPARK_GRAFT_CPUS]` (else
    * `defaultCpus`), with SPARK_GRAFT_SHUFFLE_PARTITIONS shuffle
    * partitions (else one per core). */
  def apply(defaultCpus: Int = 4): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)
    builder(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").fold(cpus)(_.toInt))
      .getOrCreate()
  }
}
