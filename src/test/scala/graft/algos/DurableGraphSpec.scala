package graft.algos

import graft.SparkSuite

/** Durable coPairs (round-8 verdict item 6): the sparsified edge table
  * is written once per corpus; a fresh catalog re-registers without
  * rebuilding, and the served rows equal the inline build. */
class DurableGraphSpec extends SparkSuite {

  test("persisted edge table equals the inline build") {
    val built = Graph.coPairsBuild(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Graph.coPairsTable.fresh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == built)
    assert(served.nonEmpty)
  }

  test("persisted trade-edge table equals the inline build (incl. degrees)") {
    val built = Iterative.tradeEdgesDegBuild(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = Iterative.tradeEdges.fresh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == built)
    assert(served.nonEmpty)
  }

  test("a cold catalog re-registers the trade-edge table without rewriting files") {
    Iterative.tradeEdges.fresh(spark, sfDir).count() // ensure built
    val sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.sources.ServedIndex.activeDir(spark, s"tradeedges$sfx")
    val mtimes = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(mtimes.nonEmpty)
    spark.sql(s"DROP TABLE IF EXISTS tradeedges$sfx") // a new session's view
    assert(Iterative.tradeEdges.fresh(spark, sfDir).count() > 0)
    val after = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "re-registration must not rewrite the edge table")
  }

  test("a cold catalog re-registers the edge table without rewriting files") {
    Graph.coPairsTable.fresh(spark, sfDir).count() // ensure built
    val sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val dir = graft.sources.ServedIndex.activeDir(spark, s"copairs$sfx")
    val mtimes = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(mtimes.nonEmpty)
    spark.sql(s"DROP TABLE IF EXISTS copairs$sfx") // a new session's view
    assert(Graph.coPairsTable.fresh(spark, sfDir).count() > 0)
    val after = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "re-registration must not rewrite the edge table")
  }

  test("a rewritten lineitem table regenerates the served edge table") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("copairs_regen").toString
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    li.write.parquet(s"$dir/lineitem.parquet")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tbl = s"copairs${graft.sources.ServedIndex.suffix(dir)}"
    try {
      val before = edges(Graph.coPairsTable.fresh(spark, dir))
      li.filter(col("l_suppkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val served = edges(Graph.coPairsTable.fresh(spark, dir))
      assert(served == edges(Graph.coPairsBuild(spark, dir)),
        "the second serve must match the inline build over the new rows")
      assert(served != before, "the rewrite must change the edge set")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"target/graft-index/$tbl"))
    }
  }
}
