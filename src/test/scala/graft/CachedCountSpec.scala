package graft

import org.apache.spark.sql.functions._

/** Tables.cachedCount (ADVICE r13: memoize the corpus count behind the
  * adaptive-parameter choices) must MISS its cache when the corpus
  * changes on disk: the SRP bit width and the SimHash banding mode are
  * derived from n, and the DuckDB oracle re-derives them from its own
  * count(*) — a stale cached count would silently desync the engine's
  * banding from the oracle's and surface as an unexplainable hash
  * mismatch. The stamp is filesystem metadata (content length + mtimes
  * + a per-file name:length manifest — Spark/Arrow writers mint fresh
  * part-file UUIDs, so even a same-size same-second rewrite re-stamps);
  * the residual contract gap is a same-second single-file in-place
  * rewrite of identical length and name. */
class CachedCountSpec extends SparkSuite {

  import spark.implicits._

  test("cachedCount memoizes, and a corpus rewrite invalidates") {
    val dir = java.nio.file.Files.createTempDirectory("cached_count").toString
    (1L to 100L).toDF("vec_id").withColumn("embedding", array(lit(1.0f)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Tables.cachedCount(spark, dir, "embeddings") == 100L)
    // repeat hit — same stamp, same value
    assert(Tables.cachedCount(spark, dir, "embeddings") == 100L)

    (1L to 250L).toDF("vec_id").withColumn("embedding", array(lit(1.0f)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Tables.cachedCount(spark, dir, "embeddings") == 250L,
      "a rewritten corpus must miss the count cache (stale n would " +
        "desync the adaptive LSH bit width from the oracle)")
  }

  test("a rewrite evicts only the superseded stamp, not other tables' entries") {
    // ADVICE r14: the old >64 guard cleared the WHOLE map; the fix
    // evicts exactly the same-table stale stamp on re-stamp. Observable
    // contract: sibling tables' cached values survive a neighbor's
    // rewrite (and the rewritten table re-counts correctly).
    val dir = java.nio.file.Files.createTempDirectory("cc_evict").toString
    (1L to 11L).toDF("doc_id").withColumn("text", lit("x"))
      .write.parquet(s"$dir/documents.parquet")
    (1L to 5L).toDF("vec_id").withColumn("embedding", array(lit(1.0f)))
      .write.parquet(s"$dir/embeddings.parquet")
    assert(Tables.cachedCount(spark, dir, "documents") == 11L)
    assert(Tables.cachedCount(spark, dir, "embeddings") == 5L)
    (1L to 13L).toDF("doc_id").withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.cachedCount(spark, dir, "documents") == 13L)
    assert(Tables.cachedCount(spark, dir, "embeddings") == 5L)
  }

  test("two dirs never share a count entry") {
    val d1 = java.nio.file.Files.createTempDirectory("cc_a").toString
    val d2 = java.nio.file.Files.createTempDirectory("cc_b").toString
    (1L to 7L).toDF("doc_id").withColumn("text", lit("x"))
      .write.parquet(s"$d1/documents.parquet")
    (1L to 9L).toDF("doc_id").withColumn("text", lit("x"))
      .write.parquet(s"$d2/documents.parquet")
    assert(Tables.cachedCount(spark, d1, "documents") == 7L)
    assert(Tables.cachedCount(spark, d2, "documents") == 9L)
  }

  /** `contentFp` of (k, v) rows written to a fresh dir as `documents`. */
  private def fpOf(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String] = Seq("k", "v")): String = {
    val dir = java.nio.file.Files.createTempDirectory("content_fp").toString
    df.write.parquet(s"$dir/documents.parquet")
    Tables.contentFp(spark, dir, "documents", cols)
  }

  private val kv = (1L to 50L).map(k => (k, k * 7 % 13)).toDF("k", "v")

  test("contentFp ignores partitioning and row order") {
    val fp = fpOf(kv.coalesce(1))
    assert(fpOf(kv.repartition(5)) == fp)
    assert(fpOf(kv.orderBy(desc("k")).coalesce(1)) == fp)
  }

  test("contentFp moves on a duplicated row, a swapped key pairing, and one changed value") {
    val fp = fpOf(kv)
    assert(fpOf(kv.union(kv.filter(col("k") === 3))) != fp, "duplicated row")
    // swap v between k = 1 and k = 2: every column sum is unchanged
    val v1 = kv.filter(col("k") === 1).head.getLong(1)
    val v2 = kv.filter(col("k") === 2).head.getLong(1)
    assert(v1 != v2)
    val swapped = kv.withColumn("v", when(col("k") === 1, v2)
      .when(col("k") === 2, v1).otherwise(col("v")))
    assert(fpOf(swapped) != fp, "swapped key pairing")
    assert(fpOf(kv.withColumn("v", when(col("k") === 9, col("v") + 1)
      .otherwise(col("v")))) != fp, "changed value")
    // a column outside `cols` is outside the fingerprint
    assert(fpOf(kv.withColumn("w", lit(1)), Seq("k", "v")) == fp)
  }

  test("contentFp is the exact hash sum where a long sum overflows") {
    val big = spark.range(10000).toDF("k").withColumn("v", col("k") * 3)
    val exact = big.select(xxhash64(col("k"), col("v"))).collect()
      .map(r => BigInt(r.getLong(0))).sum
    assert(!exact.isValidLong, "the fixture must overflow a long sum")
    assert(fpOf(big) == s"10000|$exact")
  }
}
