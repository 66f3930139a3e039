package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

/** The bench's cold/warm provenance device (VERDICT r15 task 1): the
  * probe must tag builds vs hits correctly through the real
  * [[Scratch]] path, and eviction must make the NEXT lookup rebuild —
  * the property that keeps a de-noising re-run from recording the
  * per-JVM cache read as a query's floor (the r15 ann_hnsw_topk
  * artifact). Suites can run concurrently in the forked test JVM, so
  * every drain below filters to this spec's own key — other suites'
  * cache traffic during the enabled window is not under test. */
class CacheProbeSpec extends AnyFunSuite with LocalSpark {

  private val K = "cacheprobe-spec-key"
  private def mine(acc: Seq[CacheProbe.Access]) = acc.filter(_.key.contains(K))

  test("disabled by default: record is a no-op, drain returns nothing") {
    CacheProbe.setEnabled(false)
    CacheProbe.record(K, built = true)(())
    assert(mine(CacheProbe.drain()).isEmpty)
  }

  test("Scratch lookups tag cold then warm; eviction forces a rebuild") {
    CacheProbe.setEnabled(true)
    try {
      CacheProbe.drain()
      var builds = 0
      def look() = Scratch.materialize(spark, K) {
        builds += 1
        spark.range(3).toDF("id")
      }.count()

      assert(look() == 3L)
      val first = mine(CacheProbe.drain())
      assert(first.map(a => (a.key, a.built)) == Seq((s"scratch:$K", true)))
      assert(builds == 1)

      // second lookup: warm hit, no rebuild
      assert(look() == 3L)
      val second = mine(CacheProbe.drain())
      assert(second.map(a => (a.key, a.built)) == Seq((s"scratch:$K", false)))
      assert(builds == 1)

      // evict via the recorded closure → the next lookup is cold again
      first.foreach(_.evict())
      assert(look() == 3L)
      val third = mine(CacheProbe.drain())
      assert(third.map(_.built) == Seq(true))
      assert(builds == 2)

      // eviction closures are idempotent: evicting twice still just
      // costs one rebuild on the next lookup
      first.foreach(_.evict())
      first.foreach(_.evict())
      assert(look() == 3L)
      assert(builds == 3)
      CacheProbe.drain()
    } finally CacheProbe.setEnabled(false)
  }

  test("disabling drops the pending log") {
    CacheProbe.setEnabled(true)
    CacheProbe.record(K, built = false)(())
    CacheProbe.setEnabled(false)
    CacheProbe.setEnabled(true)
    try assert(mine(CacheProbe.drain()).isEmpty)
    finally CacheProbe.setEnabled(false)
  }
}
