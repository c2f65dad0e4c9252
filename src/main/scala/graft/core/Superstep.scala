package graft.core

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.mutable
import scala.reflect.ClassTag

/** KMR's graph loop — map → shuffle → reduce over a key-value stream of
  * edges, repeated (ex/pagerank.c:353-411) — as one Spark primitive over
  * co-partitioned RDDs. PageRank, bfs_hops and connected components run
  * on it. It owns:
  * - the partitioning: node-keyed state and edge blocks are
  *   hash-partitioned at `spark.sql.shuffle.partitions`, so partition p
  *   of one meets partition p of the other with no shuffle ([[zip]]
  *   requires it);
  * - the edge-block preparation ([[prepare]], one job);
  * - the round: a kernel folds one partition into messages keyed by
  *   node, `reduceByKey` gathers them under the node partitioner
  *   ([[relax]], [[gather]]), and the caller's update makes them the
  *   next state;
  * - the truncation cadence and the iteration cap ([[iterate]]). A
  *   generation is read only by the next round, so none is persisted
  *   between truncation points; a truncation point is a
  *   [[Truncate.mark]], unpersisted once the next one is filled.
  */
object Superstep {

  /** One partition's edges as three primitive columns: 24 bytes an edge
    * in the block cache, where boxed `(src, (dst, w))` tuples would cost
    * five objects an edge. `w` is the edge's weight: the source's
    * out-degree for PageRank, one hop for BFS. */
  final case class EdgeBlock(src: Array[Long], dst: Array[Long], w: Array[Long])

  /** An [[EdgeBlock]] being filled one edge at a time. */
  private final class EdgeBuilder {
    val src, dst, w = new mutable.ArrayBuilder.ofLong
    def add(s: Long, d: Long, k: Long): Unit = { src += s; dst += d; w += k }
    def result(): EdgeBlock = EdgeBlock(src.result(), dst.result(), w.result())
  }

  /** A persisted graph. `edges` holds one [[EdgeBlock]] per partition,
    * hash-partitioned by `src`; `marks` maps every node id to whether it
    * has an in-edge, under the same partitioner; `n` counts the nodes.
    * Both RDDs are cached and filled by the one job that counts `n`, so
    * the (possibly expensive) caller edge plan is evaluated once however
    * many loops run over it. */
  final case class PreparedGraph(spark: SparkSession, n: Long,
      edges: RDD[EdgeBlock], marks: RDD[(Long, Boolean)]) {
    def byId: Partitioner = marks.partitioner.get
    def unpersist(): Unit = { edges.unpersist(false); marks.unpersist(false) }
    /** `f` over this graph, whose cache is dropped once `f` returns: what
      * `f` returns must not read the graph (a truncated loop does not). */
    def use[T](f: PreparedGraph => T): T = try f(this) finally unpersist()
  }

  /** Build and cache the [[PreparedGraph]] of a (`src`, `dst`) edge frame,
    * each edge weighted by `w`. One Spark job: the edges are
    * hash-partitioned by `src` into `spark.sql.shuffle.partitions`
    * blocks, and the node marks are folded from those blocks under the
    * same partitioner. Call [[PreparedGraph.unpersist]] once every
    * consumer has truncated its result. */
  def prepare(edges: DataFrame, w: Column = lit(1L)): PreparedGraph = {
    val spark = edges.sparkSession
    val byId = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // The coalesce keeps the partitioning's map side at the session's
    // parallelism: a served table scans one task per bucket (32).
    val blocks = edges.select(col("src"), col("dst"), w)
      .coalesce(byId.numPartitions).queryExecution.toRdd
      // internal rows, not Rows: no per-edge conversion; the longs are
      // read before the scan reuses the row
      .mapPartitions { rows =>
        // the map side buckets its edges by target partition, so one
        // primitive block per (map task, target) crosses the shuffle,
        // keyed by the target itself, not one boxed tuple per edge
        val out = Array.fill(byId.numPartitions)(new EdgeBuilder)
        rows.foreach { r =>
          val s = r.getLong(0)
          out(byId.getPartition(s)).add(s, r.getLong(1), r.getLong(2))
        }
        out.iterator.zipWithIndex.collect { case (b, p) if b.src.length > 0 => p -> b.result() }
      }
      .partitionBy(byId) // key p < numPartitions hashes to partition p
      .mapPartitions({ it =>
        val parts = it.map(_._2).toSeq
        Iterator.single(EdgeBlock(Array.concat(parts.map(_.src): _*),
          Array.concat(parts.map(_.dst): _*), Array.concat(parts.map(_.w): _*)))
      }, preservesPartitioning = true)
      .persist()
    // The count fills both caches before any round reads them (the
    // eager priming OPTIMIZATION_r16.md validated).
    val marks = blocks.mapPartitions { bs =>
      // distinct per partition first: the shuffle's map side then sees
      // one record per node, not two boxed records per edge
      val hasIn = mutable.LongMap.empty[Boolean]
      bs.foreach { b =>
        b.src.foreach(hasIn.getOrElseUpdate(_, false))
        b.dst.foreach(hasIn(_) = true)
      }
      hasIn.iterator
    }.reduceByKey(byId, _ || _).persist()
    PreparedGraph(spark, marks.count(), blocks, marks)
  }

  /** Partition p of `a` beside partition p of `b`: a join on node id
    * with no shuffle, sound only when both share one partitioner. */
  def zip[A, B: ClassTag, C: ClassTag](a: RDD[A], b: RDD[B])(
      f: (Iterator[A], Iterator[B]) => Iterator[C]): RDD[C] = {
    require(a.partitioner.isDefined && a.partitioner == b.partitioner,
      s"partitioned by ${a.partitioner} and ${b.partitioner}: the zip would misalign")
    a.zipPartitions(b)(f)
  }

  /** One round over the edge blocks: every edge whose source has a state
    * `r` sends `msg(r, w)` to its destination; the messages are folded by
    * `plus` per node within the partition, then by `reduceByKey` under
    * the node partitioner. With `keep`, each node's own state is folded
    * in with its messages (BFS keeps the hop it had; PageRank, without,
    * hears only its in-edges). */
  def relax[R: ClassTag](g: PreparedGraph, state: RDD[(Long, R)], keep: Boolean)(
      msg: (R, Long) => R, plus: (R, R) => R): RDD[(Long, R)] =
    zip(g.edges, state) { (blocks, rs) =>
      val st = mutable.LongMap.from(rs)
      val acc = if (keep) st.clone() else mutable.LongMap.empty[R]
      blocks.foreach(b => b.src.indices.foreach { j =>
        if (st.contains(b.src(j))) {
          val c = msg(st(b.src(j)), b.w(j))
          acc.update(b.dst(j), acc.get(b.dst(j)).fold(c)(plus(_, c)))
        }
      })
      acc.iterator
    }.reduceByKey(g.byId, plus)

  /** One round whose messages are node ids: `send(record, emit)` emits
    * (to, id) pairs from each record of `in`; they are grouped per
    * receiver within the partition, then under `byId`, into each
    * receiver's distinct ids in ascending order. */
  def gather[A](in: RDD[A], byId: Partitioner)(
      send: (A, (Long, Long) => Unit) => Unit): RDD[(Long, Array[Long])] =
    in.mapPartitions { it =>
      val acc = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      it.foreach(send(_, (to, id) => acc.getOrElseUpdate(to, new mutable.ArrayBuilder.ofLong) += id))
      acc.iterator.map { case (to, ids) => (to, ids.result()) }
    }.reduceByKey(byId, _ ++ _).mapValues(_.distinct.sorted)

  /** Rounds of `round` from `init`: `cap` of them, or with `until`, as
    * many as it takes for `until(prev, next)` to hold — at most `cap`,
    * past which it throws, since a loop cut short returns a wrong answer,
    * never a rougher one. A fixed loop truncates its lineage every 5
    * rounds and after the last (a [[Truncate.mark]] and the count that
    * fills it, the loop's only job), so the plan stays O(1) deep at any
    * iteration count; a tested loop truncates every round, filled by the
    * test's job. Returns the last generation, truncated. */
  def iterate[S](init: RDD[S], cap: Int)(
      round: RDD[S] => RDD[S], until: Option[(RDD[S], RDD[S]) => Boolean] = None): RDD[S] = {
    var (s, cut, i, done) = (init, Option.empty[RDD[S]], 0, false)
    while (!done && i < cap) {
      i += 1
      val next = round(s)
      if (until.isDefined || i % 5 == 0 || i == cap) {
        Truncate.mark(next)
        done = until.fold { next.count(); false }(_(s, next))
        cut.foreach(_.unpersist(false))
        cut = Some(next)
      }
      s = next
    }
    if (!done && until.isDefined) cut.foreach(_.unpersist(false))
    require(done || until.isEmpty, s"no fixpoint within $cap rounds — raise the cap")
    s
  }
}
