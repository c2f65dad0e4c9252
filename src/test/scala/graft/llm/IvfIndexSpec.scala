package graft.llm

import graft.SparkSuite

/** The persisted IVF/ANN index (round-8 verdict item 2): served results
  * identical to the inline pipeline, and the O(nK) assignment scan gone
  * from the per-query plan. */
class IvfIndexSpec extends SparkSuite {

  test("indexed IVF top-k equals the inline IVF top-k") {
    val inline = AnnOps.ivfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val served = AnnOps.ivfTopkIndexed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(served == inline)
    assert(served.nonEmpty)
  }

  test("serve-path plan reads only the index tables — no embeddings scan, no assignment") {
    val served = AnnOps.ivfTopkIndexed(spark, sfDir)
    val plan = served.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("embeddings"), s"serve path re-reads the corpus:\n$plan")
    val physical = served.queryExecution.executedPlan.toString()
    // the inline pipeline's n×K assignment is a corpus × centroids
    // BroadcastNestedLoopJoin followed by a vec_id aggregate; the serve
    // path must contain neither — its only joins are the tiny probe
    // cross and the cid equality join
    assert(!physical.contains("HashAggregate(keys=[vec_id"),
      s"serve path recomputes the assignment argmax:\n$physical")
  }

  test("second call serves without rebuilding (index files untouched)") {
    AnnOps.ivfTopkIndexed(spark, sfDir).collect() // ensure built
    val dir = graft.sources.ServedIndex.activeDir(spark,
      s"ivf_assign${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    val mtimes = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(mtimes.nonEmpty)
    AnnOps.ivfTopkIndexed(spark, sfDir).collect()
    val after = dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "serve path must not rewrite the index")
  }

  test("a rewritten embeddings table regenerates the served index") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivf_regen").toString
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    emb.write.parquet(s"$dir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val sfx = graft.sources.ServedIndex.suffix(dir)
    try {
      val before = rows(AnnOps.ivfTopkIndexed(spark, dir))
      emb.filter(col("vec_id") % 3 =!= 1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val served = rows(AnnOps.ivfTopkIndexed(spark, dir))
      assert(served == rows(AnnOps.ivfTopk(spark, dir)),
        "the second serve must match the inline build over the new rows")
      assert(served != before, "the rewrite must change the answer")
    } finally Seq(s"ivf_cents$sfx", s"ivf_assign$sfx").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"target/graft-index/$t"))
    }
  }
}
