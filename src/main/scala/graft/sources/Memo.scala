package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** Per-JVM compute-once cache: `memo(key)(build)` returns the value
  * stored under `key`, running `build` only when none is. Every
  * compute-once cache of the engine is one `Memo` — [[Scratch]]
  * materializations, the frozen k-means fits, the lineitem
  * standardization stats, the BPE model, HNSW frozen pairs, PQ
  * codebooks, SemDeDup scaled centroids, temperature-sample stats — so
  * they share one lock discipline, one [[CacheProbe]] provenance path
  * (key `s"$name:$key"`) and one eviction path.
  *
  * Lock discipline: a build holds only its OWN key's lock. Concurrent
  * first callers of one key wait for the single build (exactly one
  * access is tagged built, all get the same value); different keys
  * build concurrently. One lock per memo would deadlock:
  * `Similarity.pqTopK(keepMod = Some(m))` builds the Scratch entry
  * `ann_pq:…`, whose build looks up the `pq` codebook memo, whose build
  * reads `Similarity.points` — Scratch again, for `ann_points:…`. A
  * caller entering at the codebooks would hold the `pq` lock and wait
  * for Scratch's while the first holds Scratch's and waits for `pq`.
  * Per-key locks only nest along a build chain, and build chains have
  * no cycle.
  *
  * A build may look up other keys of the same memo (the slot is looked
  * up, then built, then filled — no map-level `getOrElseUpdate` wraps
  * the build). A build that throws stores nothing and records nothing;
  * the next lookup builds again. */
final class Memo[K, V](name: String) {
  private final class Slot { @volatile var value: Option[V] = None }
  private val slots = new ConcurrentHashMap[K, Slot]

  /** The value for `key`, built (once) on first use. */
  def apply(key: K)(build: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    val (v, built) = slot.synchronized {
      slot.value match {
        case Some(v) => (v, false)
        case None =>
          val v = build
          slot.value = Some(v)
          (v, true)
      }
    }
    CacheProbe.record(s"$name:$key", built)(evict(key))
    v
  }

  /** The stored value for `key`, if any — a peek: no build, no record. */
  def get(key: K): Option[V] = Option(slots.get(key)).flatMap(_.value)

  /** The stored value for `key` — a peek like [[get]] — for an oracle
    * rendered from the value its own query call just built; a missing
    * value is an error, never a silent fall-back. */
  def stored(key: K): V = get(key).getOrElse(
    throw new IllegalStateException(s"$name: no stored value for $key"))

  /** Drop every entry, so each next lookup rebuilds. */
  def clear(): Unit = slots.keySet.asScala.foreach(evict)

  /** Idempotent: evicting an absent key is a no-op. */
  private def evict(key: K): Unit =
    Option(slots.get(key)).foreach(s => s.synchronized { s.value = None })
}
