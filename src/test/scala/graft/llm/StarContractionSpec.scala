package graft.llm

import graft.SparkSuite

/** Label parity of [[Dedup.connectedComponents]] with a sequential
  * union-find, on graphs chosen to maximize in-round duplicate minting
  * (hubs joined to chains, duplicate input pairs, self-loops), at the
  * session's shuffle partition count and at 1 and 3. */
class StarContractionSpec extends SparkSuite {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-label canonicalization: every node to its component's minimum
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }.toMap
  }

  /** The labels, which must not depend on the shuffle partition count
    * the adjacency blocks are keyed under: the session's, 1 and 3. */
  private def ccOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val runs = Seq(None, Some(1), Some(3)).map { parts =>
      val s = spark.newSession()
      parts.foreach(p => s.conf.set("spark.sql.shuffle.partitions", p.toLong))
      import s.implicits._
      Dedup.connectedComponents(edges.toDF("id1", "id2"), iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    runs.tail.zip(Seq(1, 3)).foreach { case (got, p) =>
      assert(got == runs.head, s"$p shuffle partitions")
    }
    runs.head
  }

  test("duplicate-heavy hub graph matches a sequential union-find") {
    // hub 50 joined to two chains and a clique; duplicated input pairs
    // and both orientations — the shape that mints the most duplicate
    // (u, v) rows inside a contraction round
    val edges = Seq(
      (50L, 1L), (1L, 50L), (50L, 1L), // dup + reversed
      (1L, 2L), (2L, 3L), (3L, 4L),
      (50L, 10L), (10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle, separate comp
      (30L, 30L), // singleton via self-pair
      (40L, 41L), (41L, 40L)) // pair, both orientations
    assert(ccOf(edges, iters = 12) == unionFind(edges))
  }

  test("random graph with duplicate pairs matches a sequential union-find") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (a, b)
    }.filter(e => e._1 != e._2)
    assert(ccOf(edges, iters = 15) == unionFind(edges))
  }
}
