package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions.col

/** Cross-PROCESS chaos for the persisted-index serving tier (round-9
  * verdict item 2): the in-JVM specs prove the thread-pool shape, but
  * the build lock and registered-version map are JVM-local — only real
  * second JVMs can exercise (a) a reader whose resolved plan predates
  * another process's rebuild, and (b) two processes racing the same
  * build.
  * The invariant under test: clean serve or loud failure, never silent
  * wrong pairs, and never a mid-rebuild delete visible to a reader. */
class IndexChaosSpec extends SparkSuite {

  private def spawn(dirName: String, tbl: String, fp: String, n: Long,
      sleepMs: Long): (Process, java.io.File) = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"),
      "graft.sources.IndexChaosChild",
      dirName, tbl, fp, n.toString, sleepMs.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val log = java.io.File.createTempFile(s"chaos-$tbl", ".log")
    pb.redirectOutput(log)
    (pb.start(), log)
  }

  private def await(pl: (Process, java.io.File), what: String): Unit = {
    val (p, log) = pl
    // generous: the children boot full SparkSessions while the rest of
    // the suite saturates the host's cores
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    def tail = try {
      val t = java.nio.file.Files.readString(log.toPath)
      t.substring(math.max(0, t.length - 2000))
    } catch { case _: Throwable => "<no log>" }
    if (!done) { p.destroyForcibly(); fail(s"$what did not finish in time:\n$tail") }
    assert(p.exitValue() == 0, s"$what exited ${p.exitValue()}:\n$tail")
  }

  test("a rebuild by ANOTHER process neither breaks an in-flight reader " +
      "nor goes unnoticed on the next serve") {
    val dir = "chaos_swing"
    val tbl = "chaos_swing"
    def serveLocal(fp: String, n: Long) =
      ServedIndex(spark, tbl, dir, fp, "k BIGINT, v BIGINT", "k", 2)(
        spark.range(n).selectExpr("id AS k", "id * 7 AS v"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"target/graft-index/$dir"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")

    // this process builds and holds a resolved reader over version A
    val reader = serveLocal("corpusA", 100)
    assert(reader.count() == 100)

    // another PROCESS regenerates the corpus → rebuilds to version B
    await(spawn(dir, tbl, "corpusB", 200, 0), "rebuilding child")

    // (a) the in-flight reader's plan resolves the superseded version —
    // the grace copy keeps its files intact, so it still reads CLEAN
    // version-A data (the pre-versioning layout deleted the dir under
    // it → FileNotFoundException mid-query)
    assert(reader.count() == 100,
      "reader over the superseded version must keep serving complete data")
    assert(reader.agg(org.apache.spark.sql.functions.sum(col("v"))).head.getLong(0)
      == (0L until 100L).map(_ * 7).sum)

    // (b) the next serve in THIS process observes the pointer swing
    // (registered-version mismatch) and re-registers to version B
    val after = serveLocal("corpusB", 999 /* build must NOT run */)
    assert(after.count() == 200,
      "post-swing serve must re-register to the other process's version")
  }

  test("a session-cached serve notices a cross-process DOUBLE pointer swing " +
      "(ADVICE r10: the hit path must re-stat the meta, not trust the session)") {
    val dir = "chaos_cached_swing"
    val tbl = "chaos_cached_swing"
    def serveAgain(fp: String, build: => org.apache.spark.sql.DataFrame) =
      ServedIndex(spark, tbl, dir, fp, "k BIGINT, v BIGINT", "k", 2)(build)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"target/graft-index/$dir"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")

    // serve version A, then serve it again warm: no rebuild
    assert(serveAgain("corpusA",
      spark.range(100).selectExpr("id AS k", "id * 7 AS v")).count() == 100)
    assert(serveAgain("corpusA",
      sys.error("a warm serve must not rebuild")).count() == 100)

    // another process rebuilds TWICE: this session's registered version
    // is superseded beyond the grace copy
    await(spawn(dir, tbl, "corpusB", 200, 0), "first rebuilding child")
    await(spawn(dir, tbl, "corpusC", 300, 0), "second rebuilding child")

    // the next warm serve must observe the moved pointer and re-register
    // to the latest version — serving stale version-A rows (or a plan
    // over a GC-able dir) is exactly the ADVICE failure
    val after = serveAgain("corpusC",
      sys.error("fingerprint is fresh — build must not run"))
    assert(after.count() == 300,
      "a warm serve must re-register to the latest cross-process version")
  }

  test("two processes racing the same build both exit clean and converge " +
      "to one complete version") {
    val dir = "chaos_race"
    val tbl = "chaos_race"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"target/graft-index/$dir"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")

    // both children see no pointer and build concurrently (the sleep
    // sits inside the build closure, forcing the overlap); the atomic
    // pointer rename makes the outcome last-writer-wins
    val p1 = spawn(dir, tbl, "corpusC", 300, 3000)
    val p2 = spawn(dir, tbl, "corpusC", 300, 3000)
    await(p1, "racing child 1"); await(p2, "racing child 2")

    // the pointer names a COMPLETE version: this process serves it
    // without rebuilding (same fingerprint) and sees exact rows
    val served = ServedIndex(spark, tbl, dir, "corpusC",
      "k BIGINT, v BIGINT", "k", 2)(
      sys.error("fingerprint is fresh — build must not run"))
    assert(served.count() == 300)
    assert(served.agg(org.apache.spark.sql.functions.sum(col("v"))).head.getLong(0)
      == (0L until 300L).map(_ * 7).sum)

    // and the meta is structurally sound: active exists, no torn temp
    val root = ServedIndex.rootPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (active, _, fp) = ServedIndex.readMeta(fs, root).get
    assert(fp.startsWith("corpusC|"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, active)),
      "pointer must name an existing version dir")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, active), "_SUCCESS")),
      "pointer must name a COMPLETE write")
  }
}
