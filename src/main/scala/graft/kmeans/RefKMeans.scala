package graft.kmeans

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{ExecSubqueryExpression, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorOps._
import graft.plans.CentroidKernel

/** Reference-parity distributed K-Means: maximin ("farthest point")
  * seeding + Lloyd iterations, re-expressed Spark-first.
  *
  * Semantics pinned to the reference:
  *  - seeding: random first centroid (`main/master/master.go:160` — but
  *    seeded/deterministic here), then k−1 rounds each picking the point
  *    with the largest min-distance to the current centroid set, lowest-id
  *    tie-break (`master.go:157-190`, `main/worker/worker.go:106-129,271-285`).
  *    This is maximin, NOT MLlib's probabilistic k-means||.
  *  - Lloyd stop rule (`master.go:193-236`): delta = mean Euclidean
  *    centroid displacement (`master.go:569-576`); if delta <
  *    `deltaThreshold` stop BEFORE updating (reported centroids are the
  *    ones the final assignment used); if the iteration cap is hit the
  *    loop stops AFTER updating (centroids one step ahead of the last
  *    assignment — a reference quirk, `master.go:212-231`, reproduced).
  *  - empty clusters keep their previous centroid (`master.go:579-600`);
  *    unlike the reference, that path can't crash the shuffle
  *    (`master.go:398-404` panics on a gap in cluster ids).
  *
  * Execution. The points are decoded ONCE, one dense block per
  * partition (row ids + coordinate arrays, in scan order — the
  * reference's per-worker chunk cache, `worker.go:53-59`). Every round is
  * a per-block partial merged on the driver in partition order:
  *  - a seeding round returns each block's best few rows on (key desc,
  *    id asc) and the best key among the rest — the reference's
  *    `initCombine` (`worker.go:95-101`) widened from a top-1, so the
  *    driver can certify several maximin picks per round ([[picks]]);
  *  - a Lloyd round is a per-block k×(d+1) partial (member counts and
  *    coordinate sums in row order, the combiner of `worker.go:169-189`),
  *    argmin by [[CentroidKernel.nearest]]. A cluster with no members in a
  *    block contributes nothing, so the merged sums are bit-identical to
  *    the `groupBy(cid)` hash aggregate's (partials in map order).
  *
  * Where the rounds run follows the input layout, nothing else:
  *  - ONE partition: the whole fit — first pick, seeding rounds,
  *    every Lloyd round and the stop rule — runs inside that partition's
  *    task: one Spark job per fit. The task holds its partition's decoded
  *    rows, which for a splittable file source is bounded by
  *    `spark.sql.files.maxPartitionBytes`.
  *  - several partitions: the blocks are persisted (MEMORY_AND_DISK) and
  *    each round is one `mapPartitions`-style job with no shuffle, its
  *    k-row (or up to [[Batch]]-row) result collected — MLlib KMeans's
  *    pattern. The centroids ride in the task closure (the broadcast of
  *    `master.go:313-333`).
  * One function decides which ([[onePartition]]), and it decides the
  * membership too: over one-partition points, [[assign]] and the step,
  * metric and end-state queries of [[KMeansSteps]] and [[FitFinal]]
  * declare that partition to the planner ([[followLayout]]), so the size
  * summary's `groupBy` and `orderBy` plan no exchange and run as one job.
  * Several partitions keep Spark's plan: the summary's hash and range
  * shuffles, four jobs.
  * Both schedules call the same round kernels, merge code and stop rule,
  * so they return identical [[Result]]s on the same blocks. Nothing O(N)
  * reaches the driver, and membership is materialized once, after the
  * fit ([[assign]]), fixing the reference's per-iteration member
  * shipping (`structs.go:40`, `master.go:234`).
  *
  * [[lloyd]] is the engine's one Lloyd loop. Besides [[fit]] and
  * [[fitSizes]] it runs the rounded loops of [[KMeansSteps]] — the step
  * and trajectory queries (`kmeans_fit_steps`, `kmeans_fit_trajectory`,
  * `kmeans_fit_lineitem_trajectory`, `ts_cluster_steps`,
  * `ts_cluster_trajectory`) and the IVF quantizer trainer of
  * `ann_ivf_trained`, `ann_ivf_pq` and `ann_recall_sampled`, which
  * round each recentered mean before it seeds the next round.
  *
  * Input. `points` has columns (id: LONG, features: ARRAY<DOUBLE>), every
  * row with the same number of coordinates. Like the reference, which
  * aborts on a non-numeric coordinate (`utils/utils.go:27-30`), the fit
  * rejects bad input with an `IllegalArgumentException` naming the cause:
  * an empty table, a `firstId` that matches no row, a null id, null or
  * non-finite (NaN, ±∞) coordinates (naming the row id), and rows whose
  * dimension differs from the others or from `initialCentroids`. k > n
  * and all-duplicate inputs are valid: seeding then re-picks
  * zero-distance points (lowest id first) and the surplus clusters stay
  * empty, keeping their seeds.
  */
object RefKMeans {

  /** @param firstId explicit first centroid row id (tests / reproducing the
    *                reference's "pick some row"); None → pseudo-random pick
    *                derived from `seed`. */
  final case class Config(
      k: Int,
      seed: Long = 42L,
      deltaThreshold: Double = 0.01,
      maxIter: Int = 100,
      firstId: Option[Long] = None,
      /** false → the reference's maximin seeding ([[seed]]); true → classic
        * D²-weighted k-means++ sampling ([[seedPP]]). */
      ppSeeding: Boolean = false,
      /** Pre-chosen seeds, bypassing both seeders (which run up to k−1
        * SEQUENTIAL corpus scans — see [[seed]]'s scale bound).
        * Partitioner use-cases (SemDeDup bucketing, IVF training) grow
        * k with the corpus and sample their seeds in ONE pass instead. */
      initialCentroids: Option[Array[Array[Double]]] = None)

  final case class Result(
      centroids: Array[(Int, Array[Double])],
      iterations: Int,
      finalDelta: Double,
      converged: Boolean)

  /** One partition's points, decoded once: ids and coordinates in scan
    * order, every row with the same dimension. */
  private[kmeans] final class Block(val ids: Array[Long], val xs: Array[Array[Double]])
      extends Serializable

  /** A candidates round over one block of `rows` rows: its best admitted
    * rows under the round's order, kept in scan order, with their ids,
    * coordinates and squared min distances `d2s` to the round's
    * centroids; and `rest`, the greatest key among the block's other
    * admitted rows (−∞ when there are none). */
  private[kmeans] final case class Cands(rows: Long, ids: Array[Long], xs: Array[Array[Double]],
      d2s: Array[Double], rest: Double)

  /** Lloyd-round partial over `rows` scanned rows: member count and
    * coordinate sums per cluster. */
  private[kmeans] final case class Partial(rows: Long, counts: Array[Long],
      sums: Array[Array[Double]])

  /** One seeding round's row score. The round picks the row with the
    * greatest `key`, then the lowest `hash`, then the lowest id — among
    * rows it `admits`. A key is a function of the row's id and its
    * squared min distance `d2` to `cents`. */
  private[kmeans] sealed trait SeedRound extends Serializable {
    /** The centroids the key measures against (none for a first pick). */
    def cents: Array[Array[Double]] = Array.empty
    def admits(id: Long): Boolean = true
    def key(id: Long, d2: Double): Double = 0.0
    def hash(id: Long): Long = 0L
  }

  /** The row with a given id (the first one in scan order). */
  private final case class FirstById(target: Long) extends SeedRound {
    override def admits(id: Long): Boolean = id == target
  }

  /** `orderBy(xxhash64(id, seed), id).limit(1)`. */
  private final case class FirstByHash(seed: Long) extends SeedRound {
    override def hash(id: Long): Long = idHash(id, seed)
  }

  /** Maximin: `orderBy(desc(minDist), asc(id))` over the centroids so far. */
  private[kmeans] final case class Farthest(override val cents: Array[Array[Double]])
      extends SeedRound {
    override def key(id: Long, d2: Double): Double = math.sqrt(d2)
  }

  /** D² race of round `round`: `orderBy(desc(D² / −ln u), asc(id))`. */
  private final case class Race(override val cents: Array[Array[Double]], seed: Long,
      round: Int) extends SeedRound {
    override def key(id: Long, d2: Double): Double = raceKey(d2, id, seed, round)
  }

  /** Spark's `xxhash64(id, seed)`: XXH64 chained from seed 42. */
  private[kmeans] def idHash(id: Long, seed: Long): Long =
    XXH64.hashLong(seed, XXH64.hashLong(id, 42L))

  /** The D² race key of [[seedPP]], bit-for-bit the Spark expression
    * `d2 / greatest(-log(u), 1e-300)` with
    * `u = (pmod(xxhash64(id, seed, round), Long.MaxValue) + 1) / 2^63`:
    * u ∈ (0,1], pmod maps the hash into [0, MaxValue) and +1 keeps ln(u)
    * finite. A pmod result within an ulp of MaxValue can ROUND to u == 1.0,
    * making −ln(u) = 0; the 1e-300 floor keeps the divisor nonzero (the key
    * is astronomically large but finite, preserving the race). Picked
    * points score D² = 0 and can't win. Spark's `log` is StrictMath's. */
  private[kmeans] def raceKey(d2: Double, id: Long, seed: Long, round: Int): Double = {
    val h = XXH64.hashLong(round.toLong, idHash(id, seed))
    val r = h % Long.MaxValue
    val pm = if (r < 0) (r + Long.MaxValue) % Long.MaxValue else r
    val u = (pm + 1L).toDouble / (Long.MaxValue.toDouble + 1.0)
    d2 / math.max(-StrictMath.log(u), 1e-300)
  }

  /** Sort order of the seeding picks: key desc under Spark's double
    * ordering (NaN greatest, −0.0 == 0.0), then hash asc, then id asc. */
  private def before(key: Double, hash: Long, id: Long,
      key2: Double, hash2: Long, id2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(key, key2)
    c > 0 || c == 0 && (hash < hash2 || hash == hash2 && id < id2)
  }

  private def checkDim(b: Block, cents: Array[Array[Double]]): Unit =
    if (cents.nonEmpty && b.xs.nonEmpty && b.xs(0).length != cents(0).length)
      throw new IllegalArgumentException(s"RefKMeans: points have ${b.xs(0).length} " +
        s"coordinates but the centroids have ${cents(0).length}")

  /** The candidates a block returns per maximin round. More candidates
    * lower each block's `rest`, so more picks certify per round, at the
    * cost of a longer driver-side merge. */
  private val Batch = 64

  /** A row a candidates round keeps: its scan position, id, key, hash and
    * squared min distance. */
  private final class Kept(val row: Int, val id: Long, val key: Double, val hash: Long,
      val d2: Double)

  /** A candidates round over one block: its `m` best admitted rows under
    * (key desc, hash asc, id asc, scan order), kept in a size-`m` heap whose
    * head is the worst kept row, so a row that can't enter costs one
    * comparison. A pure function of the block and the round. */
  private[kmeans] def cands(b: Block, r: SeedRound, m: Int): Cands = {
    checkDim(b, r.cents)
    // a later row never wins a full tie, so it goes after an earlier one
    val worstFirst: java.util.Comparator[Kept] = (x, y) =>
      if (before(x.key, x.hash, x.id, y.key, y.hash, y.id)) 1
      else if (before(y.key, y.hash, y.id, x.key, x.hash, x.id)) -1
      else Integer.compare(y.row, x.row)
    val heap = new java.util.PriorityQueue[Kept](m, worstFirst)
    var rest = Double.NegativeInfinity
    def drop(k: Double): Unit = if (SQLOrderingUtil.compareDoubles(k, rest) > 0) rest = k
    var row = 0
    while (row < b.ids.length) {
      val id = b.ids(row)
      if (r.admits(id)) {
        val d2 = CentroidKernel.nearest(b.xs(row), r.cents)._2
        val k = r.key(id, d2)
        val h = r.hash(id)
        val w = heap.peek()
        if (heap.size < m || before(k, h, id, w.key, w.hash, w.id)) {
          if (heap.size == m) drop(heap.poll().key)
          heap.add(new Kept(row, id, k, h, d2))
        } else drop(k)
      }
      row += 1
    }
    val kept = heap.toArray(new Array[Kept](0)).sortBy(_.row)
    Cands(b.ids.length, kept.map(_.id), kept.map(c => b.xs(c.row)), kept.map(_.d2), rest)
  }

  /** Up to `room` picks from one candidates round `r` over the blocks'
    * `cs`, in partition order. The first pick is the round's exact top-1
    * (key, hash, id, then partition and scan order). After each pick every
    * candidate's squared distance becomes `min(old, d²(x, pick))` — the
    * min [[CentroidKernel.nearest]] takes, so its key is the one the next
    * `Farthest` round would give — and the next best candidate is kept
    * only while its key is strictly greater than every block's `rest`: a
    * row that is no candidate only loses distance as centroids are added,
    * so it can't outrank that pick. Only a round whose key is a
    * non-decreasing function of `d2` alone (maximin) may pass `room` > 1. */
  private[kmeans] def picks(cs: Seq[Cands], r: SeedRound, room: Int): Seq[Array[Double]] = {
    val ids = cs.flatMap(_.ids).toArray
    val xs = cs.flatMap(_.xs).toArray
    val d2s = cs.flatMap(_.d2s).toArray
    val rest = cs.map(_.rest).foldLeft(Double.NegativeInfinity) { (a, k) =>
      if (SQLOrderingUtil.compareDoubles(k, a) > 0) k else a
    }
    val out = ArrayBuffer.empty[Array[Double]]
    var certain = true
    while (certain && out.length < room) {
      var bi = -1
      var bk = 0.0
      var bh = 0L
      var i = 0
      while (i < ids.length) {
        val k = r.key(ids(i), d2s(i))
        val h = r.hash(ids(i))
        if (bi < 0 || before(k, h, ids(i), bk, bh, ids(bi))) { bi = i; bk = k; bh = h }
        i += 1
      }
      certain = bi >= 0 && (out.isEmpty || SQLOrderingUtil.compareDoubles(bk, rest) > 0)
      if (certain) {
        out += xs(bi)
        val c = Array(xs(bi))
        var j = 0
        while (j < ids.length) {
          val d2 = CentroidKernel.nearest(xs(j), c)._2
          if (d2 < d2s(j)) d2s(j) = d2
          j += 1
        }
      }
    }
    out.toSeq
  }

  /** A Lloyd round over one block: argmin, then counts and row-order sums
    * per cluster. A point with no finite distance (its squared distances
    * overflow to +∞) joins no cluster, as in the hash aggregate, whose
    * cid −1 group the update never reads. */
  private def partial(b: Block, cents: Array[Array[Double]]): Partial = {
    checkDim(b, cents)
    val k = cents.length
    val d = cents(0).length
    val counts = new Array[Long](k)
    val sums = Array.fill(k)(new Array[Double](d))
    var r = 0
    while (r < b.ids.length) {
      val x = b.xs(r)
      val c = CentroidKernel.nearest(x, cents)._1
      if (c >= 0) {
        counts(c) += 1
        val s = sums(c)
        var i = 0
        while (i < d) { s(i) += x(i); i += 1 }
      }
      r += 1
    }
    Partial(b.ids.length, counts, sums)
  }

  /** Merge per-block partials in partition order, skipping a cluster in
    * blocks where it has no members (the hash aggregate's final merge:
    * 0.0 + p₁ + p₂ + … over the partials that exist). */
  private def mergePartials(ps: Seq[Partial], cents: Array[Array[Double]]): Partial = {
    val k = cents.length
    val d = cents(0).length
    val counts = new Array[Long](k)
    val sums = Array.fill(k)(new Array[Double](d))
    ps.foreach { p =>
      var c = 0
      while (c < k) {
        if (p.counts(c) > 0) {
          counts(c) += p.counts(c)
          var i = 0
          while (i < d) { sums(c)(i) += p.sums(c)(i); i += 1 }
        }
        c += 1
      }
    }
    Partial(ps.map(_.rows).sum, counts, sums)
  }

  /** Where a fit's rounds run: inside the one block's task, or as one job
    * per round over persisted blocks. */
  private[graft] sealed trait Rounds {
    /** Each block's [[Cands]] for round `r`, in partition order. */
    def cands(r: SeedRound, m: Int): Seq[Cands]
    def partial(cents: Array[Array[Double]]): Partial
  }

  private final class InTask(b: Block) extends Rounds {
    def cands(r: SeedRound, m: Int): Seq[Cands] = Seq(RefKMeans.cands(b, r, m))
    def partial(cents: Array[Array[Double]]): Partial =
      mergePartials(Seq(RefKMeans.partial(b, cents)), cents)
  }

  private final class PerRound(blocks: RDD[Block]) extends Rounds {
    def cands(r: SeedRound, m: Int): Seq[Cands] =
      blocks.map(RefKMeans.cands(_, r, m)).collect().toSeq
    def partial(cents: Array[Array[Double]]): Partial =
      mergePartials(blocks.map(RefKMeans.partial(_, cents)).collect().toSeq, cents)
  }

  /** The (id, features) columns of `points`, checked. */
  private def columnsOf(points: DataFrame): DataFrame = {
    val schema = points.schema
    require(schema("id").dataType == LongType && (schema("features").dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }), s"RefKMeans: points must be (id LONG, features ARRAY<DOUBLE>), got ${schema.simpleString}")
    points.select("id", "features")
  }

  /** (id, features) rows decoded into one [[Block]] per partition (lazy:
    * decoding runs in the first job that reads them). */
  private[kmeans] def blocksOf(cols: DataFrame): RDD[Block] =
    cols.queryExecution.toRdd.mapPartitions(rows => Iterator(decode(rows)))

  private def decode(rows: Iterator[InternalRow]): Block = {
    val ids = Array.newBuilder[Long]
    val xs = Array.newBuilder[Array[Double]]
    var d = -1
    rows.foreach { row =>
      if (row.isNullAt(0)) throw new IllegalArgumentException("RefKMeans: a point has a null id")
      val id = row.getLong(0)
      def bad(what: String) = new IllegalArgumentException(s"RefKMeans: point $id $what")
      if (row.isNullAt(1)) throw bad("has null features")
      val a = row.getArray(1)
      val x = a.toDoubleArray()
      var i = 0
      while (i < x.length) {
        if (a.isNullAt(i)) throw bad(s"has a null coordinate (features[$i])")
        if (!java.lang.Double.isFinite(x(i)))
          throw bad(s"has a non-finite coordinate (features[$i] = ${x(i)})")
        i += 1
      }
      if (d < 0) d = x.length
      else if (x.length != d) throw bad(s"has ${x.length} coordinates, expected $d")
      ids += id
      xs += x
    }
    new Block(ids.result(), xs.result())
  }

  /** Run `body` over the blocks: inside the task when `oneTask` (a single
    * block), else one job per round over the persisted blocks. Bad input
    * found inside a task surfaces as its `IllegalArgumentException`. */
  private[kmeans] def schedule[T: ClassTag](blocks: RDD[Block], oneTask: Boolean)(
      body: Rounds => T): T =
    try {
      if (oneTask) blocks.map(b => body(new InTask(b))).collect().head
      else {
        blocks.persist(StorageLevel.MEMORY_AND_DISK)
        try body(new PerRound(blocks)) finally blocks.unpersist(blocking = false)
      }
    } catch {
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
        throw e.getCause
    }

  /** Whether `df` is read as one partition, decided without running a
    * Spark job. A plan runs jobs to build its RDD when it holds an
    * exchange (its AQE stages), a subquery, or a cache not yet built from
    * such a plan, so such a plan answers false unexecuted. Any other plan
    * builds its RDD on the driver, and that RDD's partition count
    * answers. */
  private[graft] def onePartition(df: DataFrame): Boolean = {
    def runsJobs(p: SparkPlan): Boolean = p.exists {
      case _: Exchange => true
      case a: AdaptiveSparkPlanExec => runsJobs(a.initialPlan)
      case c: InMemoryTableScanExec =>
        !c.relation.cacheBuilder.isCachedColumnBuffersLoaded && runsJobs(c.relation.cachedPlan)
      case q => q.expressions.exists(ExecSubqueryExpression.hasSubquery)
    }
    val qe = df.queryExecution
    !runsJobs(qe.executedPlan) && qe.toRdd.getNumPartitions == 1
  }

  /** `df`, declared to the planner as one partition (`SinglePartition`)
    * when it is read as one ([[onePartition]]): a `coalesce(1)` over that
    * partition moves no row and keeps its order, and the `groupBy`,
    * `orderBy` and window operators above it plan no exchange. */
  private[graft] def followLayout(df: DataFrame): DataFrame =
    if (onePartition(df)) df.coalesce(1) else df

  /** [[schedule]] with the scheduler the input layout decides. The
    * decision reads the RDD the blocks decode, so it builds none. */
  private[graft] def run[T: ClassTag](points: DataFrame)(body: Rounds => T): T = {
    val cols = columnsOf(points)
    schedule(blocksOf(cols), oneTask = onePartition(cols))(body)
  }

  /** Maximin (`pp` false) or D² (`pp` true) seeding over `rounds`: the
    * first pick, then candidates rounds until k centroids are picked. A
    * maximin round ships [[Batch]] candidates per block and certifies
    * as many of the picks left as it can ([[picks]]); a D² race re-draws
    * every key each round, so a race round gives exactly its top-1. */
  private[graft] def seedOn(rounds: Rounds, cfg: Config, pp: Boolean): Array[Array[Double]] = {
    val first = cfg.firstId match {
      case Some(id) => FirstById(id)
      case None => FirstByHash(cfg.seed)
    }
    val cs = rounds.cands(first, 1)
    if (cs.map(_.rows).sum == 0) throw new IllegalArgumentException("RefKMeans: no points")
    val cents = ArrayBuffer.from(picks(cs, first, 1))
    if (cents.isEmpty)
      throw new IllegalArgumentException(s"RefKMeans: firstId ${cfg.firstId.get} matches no point")
    while (cents.length < cfg.k) {
      val sofar = cents.toArray
      val (r, m, room) =
        if (pp) (Race(sofar, cfg.seed, cents.length), 1, 1)
        else (Farthest(sofar), Batch, cfg.k - cents.length)
      cents ++= picks(rounds.cands(r, m), r, room)
    }
    cents.toArray
  }

  /** One Lloyd round: the partial merged against the round's centroids,
    * the centroids it moves to and their mean displacement. */
  private[graft] final case class Round(partial: Partial, next: Array[Array[Double]],
      delta: Double)

  /** A Lloyd loop's rounds and the centroids it reports. */
  private[graft] final case class Lloyd(rounds: Seq[Round], cents: Array[Array[Double]],
      converged: Boolean)

  /** The Lloyd loop (`master.go:193-236`) from `cents0`. Each round
    * assigns and recenters: a cluster moves to `mean(sum / count)` of its
    * members, and a cluster with none keeps its centroid (O15,
    * `master.go:579-600`). delta is the mean Euclidean displacement
    * (`master.go:569-576`). When `stop(delta)` holds the loop ends BEFORE
    * the update, so the reported centroids are the ones the last round
    * assigned against; after `maxIter` rounds it ends AFTER the update
    * (the reference's cap-exit quirk, `master.go:212-231`). */
  private[graft] def lloyd(rounds: Rounds, cents0: Array[Array[Double]], maxIter: Int,
      mean: Double => Double = identity)(stop: Double => Boolean): Lloyd = {
    val k = cents0.length
    var cents = cents0
    val out = Vector.newBuilder[Round]
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val p = rounds.partial(cents)
      if (p.rows == 0) throw new IllegalArgumentException("RefKMeans: no points")
      val next = Array.tabulate(k) { c =>
        if (p.counts(c) == 0) cents(c) else p.sums(c).map(s => mean(s / p.counts(c)))
      }
      val delta = cents.zip(next)
        .map { case (o, n) =>
          math.sqrt(o.zip(n).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.sum / k
      out += Round(p, next, delta)
      iter += 1
      converged = stop(delta)
      if (!converged) cents = next
    }
    Lloyd(out.result(), cents, converged)
  }

  /** Seeding, then Lloyd rounds under the reference's stop rule. */
  private def fitLloyd(rounds: Rounds, cfg: Config): Lloyd = {
    val cents = cfg.initialCentroids.getOrElse(seedOn(rounds, cfg, cfg.ppSeeding))
    require(cents.length == cfg.k, s"initialCentroids: ${cents.length} seeds for k=${cfg.k}")
    lloyd(rounds, cents, cfg.maxIter)(_ < cfg.deltaThreshold)
  }

  private[kmeans] def fitOn(rounds: Rounds, cfg: Config): Result = {
    val l = fitLloyd(rounds, cfg)
    Result(l.cents.zipWithIndex.map { case (c, i) => (i, c) }, l.rounds.length,
      l.rounds.lastOption.fold(Double.MaxValue)(_.delta), l.converged)
  }

  /** Maximin seeding (`master.go:157-190`): the first pick (`firstId`, or
    * the lowest `xxhash64(id, seed)`), then k−1 farthest-point picks,
    * several per full-corpus scan: a scan returns each block's 64 best
    * rows and the best key among its other rows, and every pick whose
    * key beats all of those is exact ([[picks]]). The picks are the
    * reference's, bit for bit.
    *
    * SCALE BOUND: still at most k−1 SEQUENTIAL full-corpus scans (one
    * per pick when some block's best other row keeps up with its
    * candidates), but few in practice: the benchmark's 16-blob fit
    * seeds in 2 jobs instead of 16. It does NOT scale in k as an
    * algorithm: k=1000 may still serialize hundreds of corpus scans.
    * The crossover ladder, all shipped here: [[seedPP]] (one job per
    * pick, classic D² quality) → MLlib's k-means||
    * ([[MLlibKMeans]]: oversampling, O(log n) rounds independent of k)
    * for large k. On unambiguous well-separated data the three agree on
    * blob coverage (pinned by RefKMeansSpec's seeding-agreement
    * property test). */
  def seed(points: DataFrame, cfg: Config): Array[Array[Double]] =
    run(points)(seedOn(_, cfg, pp = false))

  /** Classic D²-weighted k-means++ seeding (Arthur & Vassilvitskii 2007,
    * the algorithm the reference's maximin loop approximates
    * deterministically — `master.go:157-190` picks the argmax instead of
    * sampling ∝ D²). Made deterministic-distributed via an exponential
    * race: each row draws u ∈ (0,1] from a seeded per-(row, round) hash
    * and the next centroid is the argmax of D²/−ln(u) ([[raceKey]]) — a
    * weighted sample taken as ONE top-1 per round, nothing O(N)
    * driver-side. Already-chosen points have D² = 0 and are never
    * re-picked while any unpicked point has D² > 0. */
  def seedPP(points: DataFrame, cfg: Config): Array[Array[Double]] =
    run(points)(seedOn(_, cfg, pp = true))

  /** Full fit: seeding + Lloyd loop. `points` must have columns
    * (id: LONG, features: ARRAY<DOUBLE>). */
  def fit(points: DataFrame, cfg: Config): Result =
    run(points)(fitOn(_, cfg))

  /** Final membership — computed ONCE with the frozen centroids (drops the
    * reference's every-iteration member materialization, SURVEY.md §4).
    * It follows the input layout ([[followLayout]]): over one-partition
    * points, a size summary (`groupBy`, `orderBy`, `collect`) is one
    * Spark job. */
  def assign(points: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame =
    followLayout(points).select(col("id"),
      nearestCidK(col("features"), centroids.sortBy(_._1).map(_._2)).as("cluster_id"))

  /** Fit + summarize: (cluster_id, n) for every non-empty cluster, in
    * cluster order (the centroids as long-format rows are in
    * [[centroidsDF]]); this is the client's result summary
    * (`main/client/client.go:208-234`). The sizes come from the fit's own
    * rounds: on convergence the last round's partial was computed
    * against the reported centroids; a cap exit moved them once more, so
    * one more partial runs in the same schedule. Points that join no
    * cluster (every distance +∞) count under cluster_id −1, as in
    * [[assign]]'s output. */
  def fitSizes(spark: SparkSession, points: DataFrame, cfg: Config): DataFrame = {
    val (rows, counts) = run(points) { r =>
      val l = fitLloyd(r, cfg)
      val p = if (l.converged) l.rounds.last.partial else r.partial(l.cents)
      (p.rows, p.counts)
    }
    val unassigned = rows - counts.sum
    val sizes = (if (unassigned > 0) Seq((-1, unassigned)) else Nil) ++
      counts.zipWithIndex.collect { case (n, c) if n > 0 => (c, n) }
    spark.createDataFrame(sizes).toDF("cluster_id", "n")
  }

  def centroidsDF(spark: SparkSession, res: Result): DataFrame = {
    val rows = res.centroids.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (x, i) => (cid, i, x) }
    }.toSeq
    spark.createDataFrame(rows).toDF("cluster_id", "dim", "value")
  }
}
