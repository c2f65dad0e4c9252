package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Cross-tool mutex between the correctness gate and the bench
  * (round-10 postmortem: the driver's DuckDB oracle compare ran
  * concurrently with graft.Bench on the same host — the compare spilled
  * until it died AND polluted the bench window). Bench, Verify and
  * tools/check_correctness.py all serialize on one `.graft_gate.lock`
  * file in the repo root: atomic create-if-absent to acquire, bounded
  * wait (15 min) on a live holder, steal if the holder is dead: its
  * recorded pid names no live process, or the file's mtime is > 30 min
  * old (holders re-touch the file as they make progress).
  * Best-effort by design: on wait timeout the caller PROCEEDS with a
  * stderr warning — a partially-contended run beats an empty artifact,
  * and a leaked lock can never wedge the round. */
object GateLock {

  private val lockPath: Path = Paths.get(".graft_gate.lock")
  private val WaitMs = 15 * 60 * 1000L
  private val StaleMs = 30 * 60 * 1000L

  /** Acquire (bounded); returns whether we own the file (and so must
    * release). */
  def acquire(who: String): Boolean = {
    // Sweep steal files stranded by a crashed waiter (ADVICE r12): a
    // *.steal.<pid> older than the stale window belongs to no live
    // steal-in-progress and would otherwise accumulate forever.
    try {
      val dir = Files.list(Paths.get("."))
      try dir.filter(p =>
          p.getFileName.toString.startsWith(".graft_gate.lock.steal."))
        .filter(p => System.currentTimeMillis() -
          Files.getLastModifiedTime(p).toMillis > StaleMs)
        .forEach(p => Files.deleteIfExists(p))
      finally dir.close()
    } catch { case _: java.io.IOException => () }
    val deadline = System.currentTimeMillis() + WaitMs
    while (System.currentTimeMillis() < deadline) {
      try {
        Files.write(lockPath, s"$who ${ProcessHandle.current().pid()}".getBytes,
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        return true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          try {
            if (stale(lockPath)) {
              // Steal via atomic rename (ADVICE r11 TOCTOU): exactly one
              // waiter wins the rename, so a FRESH lock another waiter
              // created between our stat and our delete can never be
              // removed by mistake. If the stolen file turns out fresh
              // after all (the holder touched it mid-race, or a live
              // holder re-created it), put it back.
              val stolen = Paths.get(
                s".graft_gate.lock.steal.${ProcessHandle.current().pid()}")
              Files.move(lockPath, stolen)
              if (stale(stolen)) Files.deleteIfExists(stolen)
              else try Files.move(stolen, lockPath)
              catch {
                // ADVICE r12: another waiter re-created the lock after
                // our steal — the put-back loses. Delete the steal file
                // (the displaced holder loses one heartbeat, nothing
                // else) rather than stranding it forever.
                case _: java.nio.file.FileAlreadyExistsException =>
                  Files.deleteIfExists(stolen)
              }
            }
            else Thread.sleep(5000)
          } catch { case _: java.io.IOException => () } // racing deleter
        case _: java.io.IOException => return false // unwritable cwd: skip
      }
    }
    System.err.println(s"[gatelock] $who proceeding despite busy $lockPath")
    false
  }

  private def stale(lock: Path): Boolean =
    stale(new String(Files.readAllBytes(lock)),
      System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis)

  /** Whether a lock file holding `content` ("<who> <pid>") and last
    * touched `ageMs` ago may be stolen: untouched past the stale window,
    * or its pid names no live process. A content without a pid (a holder
    * between its create and its write) is judged by age alone. */
  private[graft] def stale(content: String, ageMs: Long): Boolean =
    ageMs > StaleMs || content.trim.split("\\s+").lastOption.flatMap(_.toLongOption)
      .exists(pid => ProcessHandle.of(pid).filter(_.isAlive).isEmpty)

  /** Liveness heartbeat: holders call this as they complete work units
    * so a long (but live) run is never stolen mid-flight. Owner-gated
    * (ADVICE r11): a NON-owner refreshing a foreign lock's mtime would
    * keep a dead holder's lock forever un-stealable. */
  def touch(owned: Boolean): Unit =
    if (owned) try Files.setLastModifiedTime(lockPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }

  def release(owned: Boolean): Unit =
    if (owned) try Files.deleteIfExists(lockPath)
    catch { case _: java.io.IOException => () }
}
