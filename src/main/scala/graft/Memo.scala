package graft

/** A bounded in-JVM memo: the one mechanism behind every driver-side
  * cache of a value derived from corpus state (reader frames, counts,
  * content fingerprints, trained models, session-scoped edge sets,
  * prepared graphs). Persisted indexes keep no cache of their own: each
  * serve compares a memoized content fingerprint with the on-disk
  * pointer.
  *
  * Contract:
  * - ONE ENTRY PER KEY. `apply(key, stamp)` serves the entry only while
  *   its stamp equals `stamp` (typically [[Tables.fsStamp]] or a corpus
  *   fingerprint). A new stamp replaces the entry in place, so a
  *   superseded version is dropped in O(1) and is never served.
  * - LEAST-RECENTLY-USED BOUND. A hit refreshes the entry; only an
  *   insert evicts, after the lookup, so the entry about to hit is never
  *   the one dropped. At most `capacity` entries are held.
  * - COMPUTE ONCE, OUTSIDE THE MAP LOCK. Concurrent misses on one
  *   (key, stamp) share a per-entry cell and run `compute` once; misses
  *   on other keys proceed in parallel, and a compute may call another
  *   memo. A compute that throws caches nothing: the next call retries.
  * - `onEvict` sees every computed value the memo drops (bound or
  *   restamp), e.g. to unpersist a cached DataFrame ([[Memo.released]]).
  *
  * Keys compare by `equals`; a `SparkSession` in a key compares by
  * reference, which scopes the entry to that session. */
final class Memo[K, V](capacity: Int, onEvict: V => Unit = (_: V) => ()) {

  private final class Cell(val stamp: Any, private var compute: () => V) {
    @volatile var result: Option[V] = None
    def get: V = result.getOrElse(synchronized {
      if (result.isEmpty) { result = Some(compute()); compute = null }
      result.get
    })
  }

  private val cells = new java.util.LinkedHashMap[K, Cell](16, 0.75f, true)

  def apply(key: K, stamp: Any = ())(compute: => V): V = {
    var dropped = List.empty[Cell]
    val cell = cells.synchronized {
      val old = cells.get(key)
      if (old != null && old.stamp == stamp) old
      else {
        val c = new Cell(stamp, () => compute)
        if (old != null) dropped ::= old
        cells.put(key, c)
        if (cells.size > capacity) {
          val eldest = cells.entrySet.iterator
          dropped ::= eldest.next().getValue
          eldest.remove()
        }
        c
      }
    }
    dropped.foreach(_.result.foreach(onEvict))
    try cell.get
    catch { case e: Throwable => cells.synchronized(cells.remove(key, cell)); throw e }
  }
}

object Memo {

  /** An `onEvict` that frees a value's cached blocks by `release`, and
    * does nothing once the SparkContext of the value's `session` has
    * stopped: the blocks died with it, and an `unpersist` there throws (a
    * NullPointerException from the block manager master) out of the
    * unrelated call whose insert dropped the entry. */
  def released[V](session: V => org.apache.spark.sql.SparkSession)(
      release: V => Unit): V => Unit =
    v => if (!session(v).sparkContext.isStopped) release(v)
}
