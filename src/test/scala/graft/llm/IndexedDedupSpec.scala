package graft.llm

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The persisted MinHash band index: serve-path plan shape, freshness
  * tripwire, and cross-session re-registration (round-8 verdict item 1 —
  * "the one remaining gap between the 100 TB prose and a built,
  * zero-Exchange artifact"). */
class IndexedDedupSpec extends SparkSuite {

  private def indexLoc = new java.io.File(
    s"target/graft-index/minhash${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")

  test("indexed candidate pairs equal the inline minhash pairs") {
    val inline = Dedup.minhashPairs(spark, sfDir, est = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = Dedup.indexedPairs(Dedup.minhashIndex(spark, sfDir), est = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == inline)
    assert(served.nonEmpty, "sf0.001 corpus should contain near-dup pairs")
  }

  test("serve-path candidate self-join plans with zero Exchange and zero Sort") {
    val idx = Dedup.minhashIndex(spark, sfDir)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // plan shape up to the join output: the bucketed scans must feed
      // the SortMergeJoin directly (distinct/orderBy above it shuffle a
      // few pairs, which is fine — the corpus-sized side must not move)
      val join = idx.as("a").hint("merge")
        .join(idx.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      val plan = join.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // Zero Exchange is THE claim: the corpus-sized index never crosses
      // the network. A partition-LOCAL Sort remains (Spark 3+ stopped
      // propagating bucket sort order by default — the legacy
      // bucketedTableScan.outputOrdering conf — so the write-time sortBy
      // isn't trusted at read); local sort is O(bucket·log bucket) with
      // no data movement, not a scale hazard.
      assert(!plan.contains("Exchange"), s"index self-join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("signature pipeline is absent from the serve-path plan") {
    val served = Dedup.indexedPairs(Dedup.minhashIndex(spark, sfDir), est = 0.5)
    val plan = served.queryExecution.optimizedPlan.toString()
    // the serve plan reads the index relation only — no documents scan,
    // no shingle explode, no MinHashAgg
    assert(!plan.contains("documents"), s"serve path re-reads the corpus:\n$plan")
    assert(!plan.toLowerCase.contains("minhash_sig"), s"serve path recomputes signatures:\n$plan")
  }

  test("concurrent build-or-serve is race-free (the Verify thread-pool shape)") {
    // the driver's Verify runs gate queries on a 4-thread pool, and four
    // queries share this index — force the worst case: no pointer file,
    // no catalog entry, four simultaneous first calls
    val fsPath = new org.apache.hadoop.fs.Path(
      indexLoc.getAbsoluteFile.toURI.toString, "_graft_meta")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(fsPath, false)
    spark.sql(s"DROP TABLE IF EXISTS minhash_idx${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            Dedup.indexedPairs(Dedup.minhashIndex.fresh(spark, sfDir), est = 0.5).count()
        }))
      val counts = futures.map(_.get()).toSet
      assert(counts.size == 1, s"racing builders disagreed: $counts")
    } finally pool.shutdown()
  }

  test("a corpus fingerprint change forces a rebuild; a fresh catalog re-registers") {
    // the uncached entry: per-call fingerprint check + cold-catalog
    // re-registration are exactly what this test exercises (the cached
    // gate path deliberately skips both within a session)
    Dedup.minhashIndex.fresh(spark, sfDir) // ensure built
    // tamper with the pointer's FINGERPRINT field through ServedIndex's
    // own meta reader/writer (the versioned layout keeps active/prev
    // tokens beside the fp, and a fourth line checksums all three: a
    // direct write that left the old checksum line would read as no
    // pointer at all — a rebuild for a torn pointer, not for staleness)
    val dirName = s"minhash${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    val root = graft.sources.ServedIndex.rootPath(dirName)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def meta() = graft.sources.ServedIndex.readMeta(fs, root).get
    val (a0, p0, fp0) = meta()

    // 1. stale fingerprint → rebuild into a NEW version dir (fingerprint
    // restored to current; old active dir retained as the grace copy)
    graft.sources.ServedIndex.writeMeta(fs, root, a0, p0, "0|0|0")
    Dedup.minhashIndex.fresh(spark, sfDir)
    val (a1, p1, fp1) = meta()
    assert(fp1 == fp0, "rebuild must restore the current corpus fingerprint")
    assert(a1 != a0, "rebuild must write a fresh version dir")
    assert(p1 == a0, "the superseded version must be kept as the grace copy")
    assert(new java.io.File(indexLoc, a0).exists(),
      "grace copy must survive the rebuild (mid-read delete protection)")

    // 2. catalog forgets the table (a new session's in-memory catalog) →
    // re-register DDL against existing files, no rewrite (mtime check)
    val active = graft.sources.ServedIndex.activeDir(spark, dirName)
    val files = active.listFiles().filter(_.getName.startsWith("part-"))
    assert(files.nonEmpty)
    val mtimes = files.map(f => f.getName -> f.lastModified()).toMap
    val tbl = s"minhash_idx${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val idx = Dedup.minhashIndex.fresh(spark, sfDir)
    assert(idx.count() > 0)
    val after = active.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "re-registration must not rewrite index files")
  }

  test("index-served jaccard and containment pairs equal the inline pipelines") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val idx = Dedup.shingleIndex(spark, sfDir)
    val jInline = Dedup.jaccardPairs(docs, minJ = 0.6, dfCap = Dedup.JaccardDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jServed = Dedup.jaccardPairsFrom(idx, minJ = 0.6, dfCap = Dedup.JaccardDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jServed == jInline)
    val cInline = Dedup.containmentPairs(docs, minMilli = 800L, dfCap = Dedup.JaccardDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val cServed = Dedup.containmentPairsFrom(idx, minMilli = 800L, dfCap = Dedup.JaccardDfCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(cServed == cInline)
    assert(jServed.nonEmpty && cServed.nonEmpty)
  }

  test("winnow index rows equal the inline winnow pipeline") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val inline = Dedup.winnowFps(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Dedup.winnowIndex(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == inline)
    assert(served.nonEmpty)
  }

  test("index-served substring pairs equal the inline substring pairs") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val inline = Dedup.substringPairs(docs, dfCap = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = Dedup.substringPairsFrom(Dedup.winnowIndex(spark, sfDir), dfCap = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == inline)
  }
}
