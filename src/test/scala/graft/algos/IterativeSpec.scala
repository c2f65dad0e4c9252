package graft.algos

import graft.SparkSuite
import graft.core.Superstep
import org.apache.spark.sql.functions._

class IterativeSpec extends SparkSuite {

  test("pageRank matches a sequential reference fold on a hand graph") {
    import spark.implicits._
    // 4-node graph: 0->1, 0->2, 1->2, 2->0, 3->2 (3 is dangling-in only)
    val edgeList = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val edges = edgeList.toDF("src", "dst")
    val iters = 10
    val got = Iterative.pageRank(edges, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // sequential reference computation, same simplified semantics
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.length).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map(e => rank(e._1) / outDeg(e._1)).sum).toMap
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-12, s"node $v: ${got(v)} vs ${rank(v)}")
    }
  }

  test("kMeans inertia is non-increasing and separable clusters are recovered") {
    import spark.implicits._
    // two tight, well-separated blobs in 4-d (deterministic offsets)
    val blobA = (0 until 20).map(i => (i.toLong, Seq(0.0 + i * 0.001, 0.0, 0.0, 0.0)))
    val blobB = (0 until 20).map(i => (100L + i, Seq(10.0 + i * 0.001, 10.0, 10.0, 10.0)))
    val v = (blobA ++ blobB).toDF("id", "e")
    val (assigned, history) = Iterative.kMeans(v, k = 2, iters = 4)
    history.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9, s"inertia increased: $history")
      case _ =>
    }
    val clusters = assigned.select("id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    assert(clusters.size == 2)
    assert(clusters.values.toSet == Set(blobA.map(_._1).toSet, blobB.map(_._1).toSet))
  }

  test("pageRank on the real trade graph tracks a sequential replay within 1e-9") {
    // The gate is rows-only for pagerank (distributed float sums have no
    // fixed order, so no DuckDB hash), which means a logic regression
    // there would pass rows>0. This closes that hole: replay the SAME 5
    // supersteps sequentially over the actual sf graph and require every
    // pre-rounding rank to agree within a summation-noise band.
    import org.apache.spark.sql.functions.col
    val o = graft.Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val l = graft.Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_suppkey")
    val edgeDf = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .distinct()
    val edgeList = edgeDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edgeList.length > 100, "gate graph unexpectedly small")
    val got = Iterative.pageRank(edgeDf, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.length).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map(e => rank(e._1) / outDeg(e._1)).sum).toMap
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    assert(got.size == n)
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-9,
        s"node $v: engine ${got(v)} vs sequential ${rank(v)}")
    }
  }

  test("pageRankExact equals a sequential integer replay bit-for-bit on the real graph") {
    // The fixed-point variant claims bit-reproducibility — so the test
    // demands EXACT equality with a sequential replay of the same
    // integer arithmetic, no tolerance band.
    import org.apache.spark.sql.functions.col
    val o = graft.Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val l = graft.Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_suppkey")
    val edgeDf = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .distinct()
    val edgeList = edgeDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = Iterative.pageRankExact(edgeDf, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val SCALE = 1000000000000000L
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val base = (15L * SCALE) / (100L * n)
    val outDeg = edgeList.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = nodes.map(_ -> SCALE / n).toMap
    for (_ <- 1 to 5) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map(e => rank(e._1) / outDeg(e._1)).sum).toMap
      rank = nodes.map(v => v -> (base + (85L * contrib.getOrElse(v, 0L)) / 100L)).toMap
    }
    assert(got.size == n)
    nodes.foreach { v =>
      assert(got(v) == rank(v), s"node $v: engine ${got(v)} vs replay ${rank(v)}")
    }
  }

  test("pagerank gate query: certificate is non-vacuous and the twin pipelines agree") {
    val df = graft.algos.Iterative.defs.find(_.name == "pagerank").get.fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) > 0L, "empty node set")
    assert(rows.head.getLong(1) == 1L,
      "double pagerank diverged >1e-9 from the fixed-point exact twin")
  }

  test("fused twin-arithmetic pipeline equals the separate pipelines") {
    import org.apache.spark.sql.functions._
    val o = graft.Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val l = graft.Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_suppkey")
    val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + lit(1000000L)).as("dst"))
      .distinct()
    val g = Iterative.prepareGraph(edges)
    val fused = Iterative.pageRankBothOn(g, iters = 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val sepD = Iterative.pageRankOn(g, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sepI = Iterative.pageRankExactOn(g, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.unpersist()
    assert(fused.keySet == sepD.keySet && fused.keySet == sepI.keySet)
    fused.foreach { case (id, (d, i)) =>
      // integer femto-ranks are order-independent: must agree EXACTLY
      assert(i == sepI(id), s"node $id: fused femto $i vs separate ${sepI(id)}")
      // double sums may fold in a different partition order: tiny epsilon
      assert(math.abs(d - sepD(id)) <= 1e-12,
        s"node $id: fused double $d vs separate ${sepD(id)}")
    }
  }

  test("served trade graph: cached edges sized to the session, exact ranks match the inline build") {
    val g = Superstep.prepare(Iterative.tradeEdges.fresh(spark, sfDir), col("deg"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the served table is bucketed 32 ways; the loop's cached copy must not be
    val cached = g.edges.getNumPartitions
    assert(cached <= parts, s"cached edge set has $cached partitions for $parts shuffle partitions")
    val got = Iterative.pageRankExactOn(g, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.unpersist()
    val want = Iterative.pageRankExact(Iterative.tradeEdgesBuild(spark, sfDir), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == want)
  }

  test("served trade graph: one preparation job, then one superstep job plus the collect") {
    val served = Iterative.tradeEdges.fresh(spark, sfDir)
    val (g, prep) = jobsIn("pagerank-prepare")(Superstep.prepare(served, col("deg")))
    val (rows, loop) = jobsIn("pagerank-supersteps")(Iterative.pageRankExactOn(g, iters = 5).collect())
    g.unpersist()
    assert(rows.length.toLong == g.n)
    assert(prep <= 1, s"preparation ran $prep jobs")
    assert(loop <= 2, s"5 supersteps and the collect ran $loop jobs")
  }

  test("exact ranks do not depend on the shuffle partition count") {
    def ranks(parts: Option[Int]): Map[Long, Long] = {
      val s = spark.newSession()
      parts.foreach(p => s.conf.set("spark.sql.shuffle.partitions", p.toLong))
      val g = Iterative.prepareGraph(Iterative.tradeEdgesBuild(s, sfDir))
      assert(g.edges.getNumPartitions == s.conf.get("spark.sql.shuffle.partitions").toInt)
      val out = Iterative.pageRankExactOn(g, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      g.unpersist()
      out
    }
    val want = ranks(None)
    assert(want.nonEmpty)
    Seq(1, 3).foreach(p => assert(ranks(Some(p)) == want, s"$p shuffle partitions"))
  }
}
