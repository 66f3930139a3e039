package graft.sources

/** Per-JVM cache instrumentation behind the bench's cold/warm floor
  * provenance (VERDICT r15 task 1). Every [[Memo]] — and so every
  * compute-once cache, [[Scratch]] materializations included — reports
  * each lookup here: whether it BUILT the entry (paid the compute) or
  * HIT it (amortized read), plus a closure that evicts the entry.
  * `Memo` is the only caller of [[record]].
  *
  * Why: the bench's de-noising re-run of a cache-building query hits
  * the per-JVM cache and records the amortized read as the query's
  * "best" — `ann_hnsw_topk`'s sf0.1 floor landed at 0.10 s (the frozen
  * result replay) instead of the 1.36 s cold build, so BENCH_MIN
  * floors for the registry-backed family measured the wrong thing and
  * their sf10 growth ratios divided by noise. With this probe the
  * bench (a) tags every recorded time cold (the run built ≥ 1 cache
  * entry), warm (cache reads only), or absent (no cache activity), and
  * (b) evicts exactly the entries an observation built before its
  * re-run, so every observation of a build-owning query repeats the
  * build and the floor stays cold. Queries that only warm-read a
  * sibling's materialization (the rag family after its builder) keep
  * their amortized-pass semantics — that IS their designed cost — and
  * are tagged warm so the record says so.
  *
  * Disabled by default ([[enabled]]): the probe is a bench-only
  * measurement device; suites running fits concurrently must not
  * contend on (or grow) the log.
  */
object CacheProbe {
  /** One cache lookup: the cache-qualified key, whether this lookup
    * ran the build, and an eviction closure (idempotent — evicting an
    * already-evicted key is a no-op). */
  final case class Access(key: String, built: Boolean, evict: () => Unit)

  @volatile private var enabled = false
  private val log = scala.collection.mutable.ArrayBuffer.empty[Access]

  /** Turn recording on (the bench) / off. Off drops the pending log. */
  private[graft] def setEnabled(on: Boolean): Unit = {
    enabled = on
    if (!on) log.synchronized(log.clear())
  }

  /** Report one cache lookup. No-op unless enabled. `evict` must
    * remove the entry so the next lookup rebuilds. */
  private[sources] def record(key: String, built: Boolean)(evict: => Unit): Unit =
    if (enabled) log.synchronized { log += Access(key, built, () => evict) }

  /** Accesses recorded since the last drain, in order. */
  private[graft] def drain(): Seq[Access] = log.synchronized {
    val out = log.toList
    log.clear()
    out
  }
}
