package graft.algos

import graft.{SparkEntry, SparkSuite, Tables}
import graft.core.Superstep
import graft.sources.ServedIndex
import org.apache.spark.sql.functions._

/** The prepared trade graph both pagerank gates loop over
  * ([[Iterative.tradeGraph]]): prepared once per corpus version, one
  * graph cached at a time, and a dropped graph released — also when the
  * session that cached it has stopped. */
class TradeGraphSpec extends SparkSuite {

  private def cachedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ids(g: Superstep.PreparedGraph) = Set(g.edges.id, g.marks.id)

  private def exact(g: Superstep.PreparedGraph): Map[Long, Long] =
    Iterative.pageRankExactOn(g, iters = 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` over a copy of the test corpus's lineitem and orders; the
    * copy's served trade-edge index is dropped afterwards, and the memo
    * is left holding the test corpus's graph. */
  private def withCopy(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("trade_graph").toFile
    Seq("lineitem", "orders").foreach(t => org.apache.commons.io.FileUtils.copyToDirectory(
      new java.io.File(s"$sfDir/$t.parquet"), dir))
    val tbl = "tradeedges" + ServedIndex.suffix(dir.toString)
    try body(dir.toString) finally {
      Iterative.tradeGraph(spark, sfDir)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"target/graft-index/$tbl"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("a warm pagerank_exact build runs one job, not the preparation's two, with identical rows") {
    val gate = SparkEntry.queries("pagerank_exact")
    val first = gate(spark, sfDir).collect() // the memo fills here
    val (warm, jobs) = jobsIn("pagerank-warm")(gate(spark, sfDir))
    assert(jobs == 1, s"warm pagerank_exact build ran $jobs jobs")
    assert(warm.collect().toSeq == first.toSeq)
    // the same build over a graph prepared per call
    val (_, perCall) = jobsIn("pagerank-per-call")(Superstep.prepare(
      Iterative.tradeEdges(spark, sfDir), col("deg")).use(Iterative.pageRankExactOn(_, iters = 5)))
    assert(perCall == 2, s"a per-call preparation ran $perCall jobs")
  }

  test("rewriting orders restamps the graph: the old one is released, the new one ranks fresh") {
    withCopy { dir =>
      val g1 = Iterative.tradeGraph(spark, dir)
      assert(Iterative.tradeGraph(spark, dir) eq g1)
      assert(ids(g1).subsetOf(cachedIds))
      val before = exact(g1)
      // every even order changes customer: the edge set moves
      Tables.load(spark, sfDir, "orders")
        .withColumn("o_custkey", when(col("o_orderkey") % 2 === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val g2 = Iterative.tradeGraph(spark, dir)
      assert(g2 ne g1, "a rewritten corpus must not serve the old graph")
      assert((ids(g1) & cachedIds).isEmpty, s"the old graph ${ids(g1)} is still cached")
      val got = exact(g2)
      assert(got == Iterative.pageRankExact(Iterative.tradeEdgesBuild(spark, dir), iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(got != before, "the rewrite left the ranks unchanged: the check is vacuous")
    }
  }

  test("at most one prepared graph stays cached across two corpora") {
    withCopy { dir =>
      val a = Iterative.tradeGraph(spark, sfDir)
      val b = Iterative.tradeGraph(spark, dir)
      assert(ids(b).subsetOf(cachedIds) && (ids(a) & cachedIds).isEmpty)
      val a2 = Iterative.tradeGraph(spark, sfDir)
      assert(a2 ne a)
      assert(ids(a2).subsetOf(cachedIds) && (ids(b) & cachedIds).isEmpty)
    }
  }

  test("evicting a graph or a frame cached by a stopped session does not throw") {
    // stopping a session stops its SparkContext: that needs a JVM of its own
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val pb = new ProcessBuilder((Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.algos.StoppedSessionChild", sfDir)): _*)
    pb.redirectErrorStream(true)
    val log = java.io.File.createTempFile("stopped-session", ".log")
    pb.redirectOutput(log)
    val p = pb.start()
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    val out = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    def tail = out.takeRight(3000)
    if (!done) { p.destroyForcibly(); fail(s"child did not finish:\n$tail") }
    assert(p.exitValue() == 0, s"child exited ${p.exitValue()}:\n$tail")
    assert(out.contains("STOPPED_EVICT_OK"), s"no verified eviction:\n$tail")
  }
}
