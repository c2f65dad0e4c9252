package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]'s contract: one entry per key, a least-recently-used bound
  * applied only on insert, compute-once outside the map lock, no
  * caching of a failed compute, `onEvict` for dropped values only, and
  * the hit, miss and evict counts. */
class MemoSpec extends AnyFunSuite {

  /** A memo plus a per-key compute counter. */
  private class Counted(capacity: Int) {
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val memo = new Memo[String, String](capacity)
    def get(key: String, stamp: Any = ()): String = memo(key, stamp) {
      calls.synchronized(calls(key) += 1)
      s"$key@$stamp"
    }
  }

  private def task[T](body: => T): Callable[T] = new Callable[T] { def call(): T = body }

  test("the most-recently-hit entry survives the capacity + 1 insert") {
    val c = new Counted(4)
    (0 until 4).foreach(i => c.get(s"k$i"))
    // a lookup at full capacity hits: nothing is dropped before it
    assert(c.get("k0") == "k0@()" && c.calls("k0") == 1)
    c.get("k4") // the fifth insert evicts the least recently used, k1
    assert(c.get("k0") == "k0@()" && c.calls("k0") == 1)
    c.get("k1")
    assert(c.calls("k1") == 2, "k1 was least recently used and must be evicted")
  }

  test("a new stamp replaces the entry in place and never adds one") {
    val c = new Counted(2)
    c.get("a", 1)
    c.get("b", 1)
    (2 to 5).foreach(st => assert(c.get("a", st) == s"a@$st"))
    // four restamps of `a` in a 2-entry memo left `b` in place
    assert(c.get("b", 1) == "b@1" && c.calls("b") == 1)
    // the superseded stamp is gone, not served
    c.get("a", 1)
    assert(c.calls("a") == 6)
  }

  test("N concurrent misses on one key run the compute once") {
    val memo = new Memo[String, Int](4)
    val calls = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(task {
        start.await()
        memo("k", "s1") { calls.incrementAndGet(); Thread.sleep(200); 42 }
      }))
      start.countDown()
      assert(futures.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(42))
      assert(calls.get == 1)
    } finally pool.shutdownNow()
  }

  test("misses on different keys compute in parallel, and a compute may call another memo") {
    val memo = new Memo[String, Int](4)
    val inner = new Memo[String, Int](4)
    val bothIn = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // each compute waits for the other to start: a map-wide lock
      // around compute would time this out
      val futures = Seq("x", "y").map(k => pool.submit(task(
        memo(k) {
          bothIn.countDown()
          assert(bothIn.await(30, TimeUnit.SECONDS), "computes serialised on the map lock")
          inner(k)(k.length)
        })))
      assert(futures.map(_.get(60, TimeUnit.SECONDS)) == Seq(1, 1))
    } finally pool.shutdownNow()
  }

  test("a throwing compute is not cached and the next call retries") {
    val memo = new Memo[String, Int](4)
    intercept[IllegalStateException](memo("k")(throw new IllegalStateException("boom")))
    assert(memo("k")(7) == 7)
    assert(memo("k")(8) == 7)
  }

  test("hit, miss and evict counts follow a hit, a restamp and a capacity eviction") {
    val c = new Counted(2)
    def counts = (c.memo.hits, c.memo.misses, c.memo.evictions)
    c.get("a", 1)
    c.get("b", 1)
    assert(counts == ((0L, 2L, 0L)))
    c.get("a", 1) // hit
    assert(counts == ((1L, 2L, 0L)))
    c.get("a", 2) // restamp: a miss that drops the old entry
    assert(counts == ((1L, 3L, 1L)))
    c.get("c", 1) // third key in a 2-entry memo: evicts b
    assert(counts == ((1L, 4L, 2L)))
    assert(c.calls.values.sum == 4)
  }

  test("onEvict fires for the evicted entry only") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new Memo[String, String](2, v => evicted.synchronized(evicted += v))
    memo("a")("A")
    memo("b")("B")
    assert(evicted.isEmpty)
    memo("c")("C")
    assert(evicted == Seq("A"))
    memo("b", 2)("B2") // a restamp drops the superseded value
    assert(evicted == Seq("A", "B"))
  }
}
