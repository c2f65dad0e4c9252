package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One PERSISTED index table, declared once: the rows of [[IndexSpec.all]]
  * are every table [[ServedIndex]] serves (the materialized counterpart of
  * the reference's inverted-index join kernel kmr_match,
  * src/kmrmoreops.c:695-728).
  *
  * For a data directory `d` the row's table is `table + suffix(d)`, stored
  * under `target/graft-index/<name + suffix(d)>`; `name` is also the
  * row's `SparkEntry.indexes` key and CATALOG.md row. The contract, for
  * every row:
  * - build-or-serve: the table is (re)built by `build(s, d)` when the
  *   stored fingerprint is missing or stale, and served from its active
  *   version otherwise. The stored fingerprint is `fp(s, d)` plus the
  *   layout (`schema`, `bucketCol`, `buckets`), so a layout edit rebuilds
  *   every served copy — CATALOG.md pins the layout for that reason;
  * - `fp` covers the data `scope` names and nothing else; it is cheap
  *   next to `build` (a memoized aggregate, see `Tables.fingerprint`);
  * - `apply(s, d)` is the session-cached serve ([[ServedIndex.cached]]):
  *   `fp` is evaluated only on a serve-cache miss, so a warm session
  *   pays one `_graft_meta` read per call and no corpus scan;
  * - `fresh(s, d)` re-evaluates `fp` and re-registers a cold catalog on
  *   every call ([[ServedIndex.apply]]).
  *
  * `buckets` = 0 writes the table unbucketed (`bucketCol` then only
  * rides the fingerprint). */
final case class IndexSpec(name: String, table: String, schema: String,
    bucketCol: String, buckets: Int, scope: String,
    fp: (SparkSession, String) => String,
    build: (SparkSession, String) => DataFrame) {

  def apply(s: SparkSession, d: String): DataFrame = {
    val sfx = ServedIndex.suffix(d)
    ServedIndex.cached(s, table + sfx, name + sfx, fp(s, d), schema,
      bucketCol, buckets)(build(s, d))
  }

  def fresh(s: SparkSession, d: String): DataFrame = {
    val sfx = ServedIndex.suffix(d)
    ServedIndex(s, table + sfx, name + sfx, fp(s, d), schema,
      bucketCol, buckets)(build(s, d))
  }
}

object IndexSpec {

  /** 32 = the executor-thread count of the 32-core host the layouts were
    * tuned on: the bucket count caps the candidate-join parallelism of
    * every serve-path query (the sf1 census measured the 16-bucket
    * shingle join SLOWER than inline for exactly this reason), so it must
    * be >= the cores the join runs on. At 100 TB: thousands, sized to the
    * cluster. On a smaller session the count does not shrink: a scan of
    * a served table runs one task per bucket, so an iterative consumer
    * re-partitions the table at the session's parallelism instead
    * (`graft.core.Superstep.prepare` hash-partitions the trade edges by
    * `src`). */
  final val Buckets = 32

  /** Every persisted index — the single source of `SparkEntry.indexes`
    * and the CATALOG.md index table. Lazy: the rows live in the modules
    * that own their builds, and those modules read [[Buckets]]. */
  lazy val all: Seq[IndexSpec] = {
    import graft.llm.{AnnOps, Dedup}
    Seq(Dedup.chunkIndex,
      Dedup.shingleIndex, Dedup.shingleDf, Dedup.shingleSizes,
      Dedup.winnowIndex, Dedup.winnowDf, Dedup.minhashIndex,
      Dedup.shingleIndexBase, Dedup.shingleDfBase, Dedup.shingleSizesBase,
      Dedup.winnowIndexBase, Dedup.winnowDfBase, Dedup.minhashIndexBase,
      Dedup.contentHashesBase, Dedup.chunkHashesBase,
      AnnOps.vecStore, AnnOps.lshIndex, AnnOps.lshHot,
      AnnOps.ivfCentroids, AnnOps.ivfAssignment,
      graft.algos.Iterative.tradeEdges, graft.algos.Graph.coPairsTable)
  }
}
