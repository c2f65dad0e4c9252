package graft.core

import graft.{SparkEntry, SparkSuite}
import graft.llm.Dedup
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions._

/** Job counts and cache hygiene of the graph superstep loops (PageRank,
  * bfs_hops and connected components) and of the gates that cache an
  * input through [[Truncate]]; and that [[Truncate]] owns every cut. */
class SuperstepSpec extends SparkSuite {

  private def lineage(rdd: RDD[_]): Set[Int] =
    rdd.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(rdd.id))(_ ++ _)

  /** Each gate, called warm, leaves cached only RDDs its output reads. */
  private def leavesOnlyItsOutput(names: String*): Unit = {
    val sc = spark.sparkContext
    names.foreach { name =>
      val build = SparkEntry.queries(name)
      build(spark, sfDir).collect() // session memos and served indexes fill here
      val before = sc.getPersistentRDDs.keySet
      val out = build(spark, sfDir)
      val left = sc.getPersistentRDDs.keySet -- before
      val stray = left -- lineage(out.queryExecution.toRdd)
      assert(stray.isEmpty, s"$name left ${stray.map(sc.getPersistentRDDs)} cached")
    }
  }

  test("the graph gates leave no edge, node or adjacency RDD cached: only their truncated output") {
    leavesOnlyItsOutput("bfs_hops", "dedup_clusters", "pagerank_exact")
  }

  test("the gates that cache an input through Truncate release it: only their output stays") {
    leavesOnlyItsOutput("scan_prefix", "flexdice_clusters", "kmeans_clusters", "median_mad")
  }

  test("min-plus rounds: one loop job at any superstep count up to the truncation cadence") {
    import spark.implicits._
    // the path 0 - 1 - … - 49, both orientations
    val g = Superstep.prepare((0L until 49L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst"))
    try {
      (1 to 5).foreach { k =>
        val seed = g.marks.filter(_._1 == 0L).mapValues(_ => 0L)
        val (hops, jobs) = jobsIn(s"minplus-$k")(Superstep.iterate(seed, k)(
          Superstep.relax(g, _, keep = true)(_ + _, math.min)))
        assert(jobs == 1, s"$k rounds ran $jobs jobs")
        assert(hops.collect().toMap == (0L to k.toLong).map(i => i -> i).toMap)
        hops.unpersist(false)
      }
    } finally g.unpersist()
  }

  test("the preparation's block shuffle places every edge and mark where a per-edge tuple shuffle does") {
    // duplicate edges, self-loops, sources without in-edges
    val list = (0L until 300L).map(i => (i % 37, i * 7919 % 101, i % 5)) ++
      Seq((3L, 3L, 1L), (3L, 3L, 1L), (500L, 3L, 2L))
    Seq(4, 3, 1).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      import s.implicits._
      val edges = list.toDF("src", "dst", "w")
      val g = Superstep.prepare(edges, col("w"))
      try {
        assert(g.edges.partitioner.contains(g.byId) && g.byId.numPartitions == parts)
        val byId = g.byId
        // one boxed (src, (dst, w)) record per edge, as the shuffle once ran
        val want = edges.as[(Long, Long, Long)].rdd.map { case (a, b, k) => (a, (b, k)) }
          .partitionBy(byId).glom().map(_.map { case (a, (b, k)) => (a, b, k) }.toSeq.sorted)
          .collect().toSeq
        val got = g.edges.map(b => b.src.indices.map(j => (b.src(j), b.dst(j), b.w(j))).sorted)
          .collect().toSeq
        assert(got == want, s"$parts partitions")
        val hasIn = list.flatMap { case (a, b, _) => Seq(a -> false, b -> true) }
          .groupMapReduce(_._1)(_._2)(_ || _)
        val wantMarks = (0 until parts).map(p => hasIn.filter(m => byId.getPartition(m._1) == p))
        assert(g.marks.glom().map(_.toMap).collect().toSeq == wantMarks, s"$parts partitions")
        assert(g.n == hasIn.size)
      } finally g.unpersist()
    }
  }

  test("bfs_hops builds in at most 4 jobs") {
    val build = SparkEntry.queries("bfs_hops")
    build(spark, sfDir) // the session's edge memo fills outside the count
    val (_, jobs) = jobsIn("bfs-build")(build(spark, sfDir))
    assert(jobs <= 4, s"bfs_hops build ran $jobs jobs")
  }

  test("connectedComponents runs at most rounds + 3 jobs; one round short of the fixpoint throws") {
    import spark.implicits._
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    // the least cap that reaches the fixpoint is the round count
    val rounds = (1 to 15).find { cap =>
      try { Dedup.connectedComponents(pairs, cap); true }
      catch { case _: IllegalArgumentException => false }
    }.get
    val (comp, jobs) = jobsIn("cc")(Dedup.connectedComponents(pairs, iters = 30))
    assert(jobs <= rounds + 3, s"$rounds rounds ran $jobs jobs")
    assert(comp.select(max("comp")).head.getLong(0) == 0L)
  }

  test("only core/Truncate.scala cuts lineage") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val cut = "localCheckpoint|\\.checkpoint\\(".r
    val cutters = files.filter(p => cut.findFirstIn(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(cutters.map(_.getFileName.toString) == Seq("Truncate.scala"),
      s"lineage cut outside Truncate: $cutters")
  }
}
