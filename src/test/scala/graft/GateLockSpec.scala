package graft

import org.scalatest.funsuite.AnyFunSuite

/** When a `.graft_gate.lock` may be stolen, judged on the file's content
  * and age alone (no lock file is written). */
class GateLockSpec extends AnyFunSuite {

  private val me = ProcessHandle.current().pid()
  private val fresh = 1000L
  private val old = 31 * 60 * 1000L

  test("a fresh lock whose pid is alive is held") {
    assert(!GateLock.stale(s"verify $me", fresh))
  }

  test("a fresh lock whose pid names no live process is stale") {
    assert(GateLock.stale(s"verify ${Long.MaxValue}", fresh))
  }

  test("a lock untouched past the stale window is stale whatever its pid") {
    assert(GateLock.stale(s"bench $me", old))
  }

  test("a fresh lock without a pid yet is held") {
    Seq("", "verify", "verify pid").foreach(c => assert(!GateLock.stale(c, fresh), c))
  }
}
