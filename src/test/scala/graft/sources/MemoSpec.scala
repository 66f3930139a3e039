package graft.sources

import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The one compute-once cache behind every registry: per-key build
  * once, concurrent builds of different keys, nested lookups, no
  * entry or record from a throwing build, idempotent eviction and the
  * `stored` peek the data-dependent oracles read. Each test uses its
  * own memo name, and probe drains filter to it, so other suites'
  * cache traffic in the same JVM is not under test. */
class MemoSpec extends AnyFunSuite {

  private val Timeout = 30L

  private def withProbe[T](body: => T): T = {
    CacheProbe.setEnabled(true)
    try { CacheProbe.drain(); body } finally CacheProbe.setEnabled(false)
  }

  private def accesses(name: String): Seq[(String, Boolean)] =
    CacheProbe.drain().filter(_.key.startsWith(s"$name:")).map(a => (a.key, a.built))

  /** Run `calls` on their own threads; results in order, or a failed
    * test when any call is still running after [[Timeout]] seconds. */
  private def runAll[T](calls: (() => T)*): Seq[T] = {
    val pool = Executors.newFixedThreadPool(calls.size)
    try {
      val fs = calls.map(c => pool.submit(new Callable[T] { def call(): T = c() }))
      fs.map(_.get(Timeout, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent first callers of one key share one build and one built access") {
    val name = "memo-spec-same-key"
    val memo = new Memo[String, Array[Int]](name)
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withProbe {
      val pool = Executors.newFixedThreadPool(2)
      try {
        val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
        def call = pool.submit(new Callable[Array[Int]] {
          def call(): Array[Int] = {
            threads.add(Thread.currentThread())
            memo("k") {
              builds.incrementAndGet()
              entered.countDown()
              assert(release.await(Timeout, TimeUnit.SECONDS))
              Array(1, 2, 3)
            }
          }
        })
        val first = call
        assert(entered.await(Timeout, TimeUnit.SECONDS))
        // the second caller arrives while the build is still running:
        // release the build only once it is blocked on the key
        val second = call
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(Timeout)
        def secondBlocked = threads.size == 2 &&
          threads.toArray(Array.empty[Thread]).exists(_.getState == Thread.State.BLOCKED)
        while (!secondBlocked && System.nanoTime() < deadline) Thread.sleep(5)
        assert(secondBlocked, "the second caller never waited on the build")
        release.countDown()
        val a = first.get(Timeout, TimeUnit.SECONDS)
        val b = second.get(Timeout, TimeUnit.SECONDS)
        assert(a eq b, "both callers must get the one built value")
      } finally pool.shutdownNow()
      assert(builds.get == 1)
      val acc = accesses(name)
      assert(acc.size == 2)
      assert(acc.count(_._2) == 1, s"built flags: $acc")
      assert(acc.forall(_._1 == s"$name:k"))
    }
  }

  test("different keys build concurrently") {
    val memo = new Memo[String, String]("memo-spec-two-keys")
    val bBuilding = new CountDownLatch(1)
    val aEntered = new CountDownLatch(1)
    // build A cannot finish until build B has started: a memo-wide lock
    // would hold B back behind A and time out
    val out = runAll(
      () => memo("a") {
        aEntered.countDown()
        assert(bBuilding.await(Timeout, TimeUnit.SECONDS), "build b never ran")
        "A"
      },
      () => {
        assert(aEntered.await(Timeout, TimeUnit.SECONDS))
        memo("b") { bBuilding.countDown(); "B" }
      })
    assert(out == Seq("A", "B"))
  }

  test("a build may look up another key of the same memo") {
    val memo = new Memo[Int, Int]("memo-spec-nested")
    def fib(n: Int): Int = memo(n)(if (n < 2) n else fib(n - 1) + fib(n - 2))
    assert(fib(20) == 6765)
    assert((0 to 20).forall(n => memo.get(n).isDefined), "every key the build chain touched")
    assert(memo.get(21).isEmpty)
    assert(memo.get(10).contains(55))
  }

  test("builds that cross two memos from opposite ends do not deadlock") {
    // The shape of the real chain: Similarity.pqTopK(keepMod = Some(m))
    // builds Scratch `ann_pq:…`, whose build looks up the `pq` codebook
    // memo, whose build reads Scratch `ann_points:…`; a caller that
    // enters at the codebooks holds `pq` and then needs Scratch. With
    // one lock per memo the two threads would each hold one memo's lock
    // and wait for the other's.
    val x = new Memo[String, String]("memo-spec-x")
    val y = new Memo[String, String]("memo-spec-y")
    val bothInside = new CyclicBarrier(2)
    def meet(): Unit = bothInside.await(Timeout, TimeUnit.SECONDS): Unit
    def yLookup(): String = y("y1") { meet(); "y1<" + x("x2")("x2") }
    val out = runAll(
      () => x("x1") { meet(); "x1<" + yLookup() },
      () => yLookup())
    assert(out == Seq("x1<y1<x2", "y1<x2"))
  }

  test("a throwing build stores nothing, records nothing, and the next lookup rebuilds") {
    val name = "memo-spec-throw"
    val memo = new Memo[String, Int](name)
    var builds = 0
    withProbe {
      intercept[IllegalStateException] {
        memo("k") { builds += 1; throw new IllegalStateException("boom") }
      }
      assert(memo.get("k").isEmpty)
      assert(accesses(name).isEmpty)
      assert(memo("k") { builds += 1; 7 } == 7)
      assert(builds == 2)
      assert(accesses(name) == Seq((s"$name:k", true)))
    }
  }

  test("eviction is idempotent and forces exactly one rebuild") {
    val name = "memo-spec-evict"
    val memo = new Memo[String, Int](name)
    var builds = 0
    def look() = memo("k") { builds += 1; builds }
    withProbe {
      assert(look() == 1)
      val first = CacheProbe.drain().filter(_.key.startsWith(s"$name:"))
      first.foreach(_.evict())
      first.foreach(_.evict())
      assert(memo.get("k").isEmpty)
      assert(look() == 2)
      assert(look() == 2)
      memo.clear()
      memo.clear()
      assert(look() == 3)
      assert(builds == 3)
    }
  }

  test("stored returns the value without a lookup and throws when absent") {
    val memo = new Memo[String, Int]("memo-spec-stored")
    val e = intercept[IllegalStateException](memo.stored("a"))
    assert(e.getMessage.contains("memo-spec-stored") && e.getMessage.contains("a"))
    memo("a")(1)
    assert(memo.stored("a") == 1)
    memo.clear()
    intercept[IllegalStateException](memo.stored("a"))
  }
}
