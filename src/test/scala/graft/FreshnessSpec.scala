package graft

import graft.algos.Graph
import graft.llm.{AnnOps, Dedup}
import graft.sources.{IndexSpec, ServedIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every served index and corpus memo answers for the data on disk NOW:
  * each case serves (or memoizes) over a temp copy of the corpus,
  * rewrites one table in a way that keeps its row count, its key sums and
  * (for text) its lengths, and serves again in the same session with no
  * reset hook. The answer must then equal a from-scratch computation
  * over the rewritten rows. */
class FreshnessSpec extends SparkSuite {

  private def put(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** A temp corpus holding `tables` copied from the fixture; every index
    * served over it is dropped afterwards. */
  private def withCorpus(tables: String*)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("freshness").toString
    tables.foreach(t => put(dir, t, Tables.load(spark, sfDir, t)))
    val sfx = ServedIndex.suffix(dir)
    try body(dir)
    finally {
      IndexSpec.all.foreach { r =>
        spark.sql(s"DROP TABLE IF EXISTS ${r.table}$sfx")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"target/graft-index/${r.name}$sfx"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def query(name: String, d: String): Seq[Row] =
    rows(SparkEntry.queries(name)(spark, d))

  /** Same-length lowercase noise: count, ids and lengths are unchanged. */
  private val noise = expr(
    "substring(repeat(translate(md5(concat('n', text)), '0123456789', 'ghijklmnop'), " +
      "length(text) div 32 + 1), 1, length(text))")

  test("documents: same-length noise text is served fresh by dedup_jaccard_indexed") {
    withCorpus("documents") { d =>
      val before = query("dedup_jaccard_indexed", d)
      assert(before.nonEmpty, "the fixture must have jaccard pairs to lose")
      put(d, "documents", Tables.load(spark, sfDir, "documents").withColumn("text", noise))
      val served = query("dedup_jaccard_indexed", d)
      assert(served == query("dedup_jaccard", d))
      assert(served != before, "the rewrite must change the answer")
    }
  }

  test("embeddings: x -> -0.5x + 0.25 is served fresh by the IVF index") {
    withCorpus("embeddings") { d =>
      val before = rows(AnnOps.ivfTopkIndexed(spark, d))
      put(d, "embeddings", Tables.load(spark, sfDir, "embeddings").withColumn("embedding",
        expr("transform(embedding, x -> CAST(-0.5 * x + 0.25 AS FLOAT))")))
      val served = rows(AnnOps.ivfTopkIndexed(spark, d))
      assert(served == rows(AnnOps.ivfTopk(spark, d)))
      assert(served != before, "the rewrite must change the answer")
    }
  }

  test("events: value -> -3v + 7 is served fresh by flexdice_cells") {
    withCorpus("events") { d =>
      val before = query("flexdice_cells", d)
      val rewritten = Tables.load(spark, sfDir, "events")
        .withColumn("value", col("value") * -3 + 7)
      put(d, "events", rewritten)
      val served = query("flexdice_cells", d)
      withCorpus() { fresh =>
        put(fresh, "events", rewritten)
        assert(served == query("flexdice_cells", fresh))
      }
      assert(served != before, "the rewrite must change the answer")
    }
  }

  test("lineitem: an l_suppkey permutation keeping count and sums re-serves copairs") {
    withCorpus("lineitem") { d =>
      def edges(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = edges(Graph.coPairsTable(spark, d))
      // deal the suppliers out in sorted order over the lines: the
      // supplier multiset, hence every column sum, is unchanged, but most
      // orders now hold one supplier (at sf0.001 every supplier pair
      // co-occurs somewhere, so a mere rotation keeps the edge set)
      val li = Tables.load(spark, sfDir, "lineitem")
      def ranked(df: DataFrame, by: String*) =
        df.withColumn("i", row_number().over(Window.orderBy(by.map(col): _*)))
      put(d, "lineitem", ranked(li.drop("l_suppkey"), "l_orderkey", "l_linenumber")
        .join(ranked(li.select("l_suppkey"), "l_suppkey"), "i").drop("i"))
      val sums = Seq("l_orderkey", "l_suppkey").map(c => sum(c))
      assert(Tables.load(spark, d, "lineitem").agg(count(lit(1)), sums: _*).head ==
        li.agg(count(lit(1)), sums: _*).head)
      val served = edges(Graph.coPairsTable(spark, d))
      assert(served == edges(Graph.coPairsBuild(spark, d)))
      assert(served != before, "the rewrite must change the edge set")
    }
  }

  test("the base split's fingerprint moves with base documents only") {
    withCorpus("documents") { d =>
      val docs = Tables.load(spark, sfDir, "documents")
      def idOf(base: Boolean) = docs.filter((col("source") === "src0") === base)
        .agg(min("doc_id")).head.getLong(0)
      def fps = (Dedup.minhashIndex.fp(spark, d), Dedup.minhashIndexBase.fp(spark, d))
      def rewrite(id: Long) =
        put(d, "documents", docs.withColumn("text",
          when(col("doc_id") === id, noise).otherwise(col("text"))))
      val (all0, base0) = fps
      rewrite(idOf(base = false))
      val (all1, base1) = fps
      assert(all1 != all0, "a rewritten document must move the corpus fingerprint")
      assert(base1 == base0, "a non-base document must not move the base fingerprint")
      rewrite(idOf(base = true))
      val (all2, base2) = fps
      assert(all2 != all1)
      assert(base2 != base1, "a rewritten base document must move the base fingerprint")
    }
  }
}
