package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-or-serve machinery for PERSISTED index tables (SURVEY §9's
  * "persisted as a bucketed table in production"; the materialized
  * counterpart of the reference's inverted-index join kernel kmr_match,
  * src/kmrmoreops.c:695-728).
  *
  * Contract: the index lives under a stable EXTERNAL root at
  * target/graft-index/<dirName>/ holding immutable VERSIONED data
  * directories (v_<token>/) plus one small `_graft_meta` pointer file
  * (active version + previous version + corpus fingerprint + a CRC32
  * of those three) that is committed ATOMICALLY (temp file + rename)
  * and only AFTER the data dir is fully written. Three paths:
  * - meta missing/stale fingerprint → (re)build into a FRESH version
  *   dir, swing the pointer, then GC superseded versions — keeping the
  *   immediately-previous version as a grace copy so a reader that
  *   resolved its file listing before the swing never observes a
  *   mid-rebuild delete;
  * - fingerprint fresh, this process registered the active version →
  *   serve as-is (the hot path — zero I/O beyond the meta read);
  * - fingerprint fresh but the catalog is cold (a NEW SparkSession /
  *   JVM) or points at a superseded version (ANOTHER process rebuilt)
  *   → re-register DDL against the active files, no rewrite.
  *
  * Cross-process writers race safely: each builds into its own version
  * dir and the atomic pointer rename is last-writer-wins — there is
  * never a moment where the pointer names a torn or deleted dir. The
  * GC age guard keeps a winner from deleting a concurrent loser's
  * still-being-written dir.
  *
  * At 100 TB the shape is identical with thousands of buckets: the
  * index write is the one full shuffle the corpus ever pays, every
  * downstream query joins bucket-co-located, and the version pointer
  * is the same snapshot-isolation shape Delta/Iceberg commit logs use. */
object ServedIndex {

  // Per-table build lock: several gate queries legitimately SHARE one
  // index (the cluster family + dedup_indexed all serve the minhash
  // band index; five graph gates share coPairs) and the driver's
  // Verify runs queries on a 4-thread pool — without the lock every
  // concurrent first call sees the missing fingerprint and races the
  // CREATE TABLE. The lock serializes build-or-serve per table within
  // this JVM; the loser of the build re-checks freshness and takes the
  // serve path. (Cross-PROCESS writers are governed by the versioned
  // dirs + atomic pointer, above.)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Sanitized table-name suffix for a data directory — single-sourced
    * so a collision fix lands at every index site at once. */
  def suffix(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  // Build epoch per table, bumped on every rebuild (and on observing a
  // cross-process rebuild): session-scoped serve caches (below) hold
  // verified-fresh markers — the epoch lets them invalidate instead of
  // serving a superseded version for the rest of the session.
  private val epochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def epoch(tbl: String): Long =
    Option(epochs.get(tbl)).map(_.longValue).getOrElse(0L)

  // The version dir this PROCESS last registered the table against —
  // lets a serve detect that another process swung the pointer (the
  // catalog entry still resolves, but to a superseded dir).
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def apply(s: SparkSession, tbl: String, dirName: String, fp: String,
      schemaDdl: String, bucketCol: String, buckets: Int)(
      build: => DataFrame): DataFrame =
    locks.computeIfAbsent(tbl, _ => new Object).synchronized {
      serve(s, tbl, dirName, fp, schemaDdl, bucketCol, buckets)(build)
    }

  /** Session-scoped serve: skip the per-call freshness fingerprint (a
    * full corpus scan — it was costing every serve-path gate one corpus
    * read per invocation, twice for dedup_eval) after the first serve in
    * a session. `fp` is by-name and only evaluated on a cache miss. The
    * cached value is ONLY the build epoch the table was last verified
    * fresh under in this session — NOT the DataFrame: a Dataset strongly
    * references its SparkSession, and a DataFrame value would pin the
    * WeakHashMap's weak session key forever (session leak). A hit
    * re-derives the lazy plan via s.table(tbl) (a catalog lookup — the
    * expensive part being skipped is the fingerprint corpus scan). A
    * same-JVM rebuild bumps the epoch and the next call re-serves. */
  private val serveCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[String, Long]]()

  /** Invalidate every session's serve cache (ADVICE r9): a long-lived
    * session (e.g. the Python entry path) otherwise never re-checks the
    * corpus fingerprint, silently serving a stale index after an on-disk
    * corpus regen. Call after any external data regen; the next serve of
    * each table redoes the freshness check. */
  def resetCaches(): Unit = serveCache.synchronized { serveCache.clear() }

  def cached(s: SparkSession, tbl: String, dirName: String, fp: => String,
      schemaDdl: String, bucketCol: String, buckets: Int)(
      build: => DataFrame): DataFrame = {
    // Capture the epoch BEFORE the serve (ADVICE r9 TOCTOU): a rebuild
    // landing between apply() and the cache put would otherwise tag the
    // pre-rebuild plan with the post-rebuild epoch and serve a plan over
    // deleted part files. Under the pre-read epoch a concurrent rebuild
    // merely invalidates this entry → one extra re-serve, never staleness.
    val preEpoch = epoch(tbl)
    val hit = serveCache.synchronized {
      serveCache.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty[String, Long])
        .get(tbl).contains(preEpoch)
    }
    // A hit must still notice ANOTHER process swinging the pointer
    // (possibly twice — beyond the grace copy) mid-session (ADVICE r10):
    // re-stat the tiny _graft_meta and fall back to the full serve —
    // which re-registers DDL against the new active version and bumps
    // the epoch — when the active token moved. This is a local
    // metadata-file read: no Spark job, no corpus scan; the expensive
    // fingerprint evaluation stays cache-skipped.
    if (hit && activeUnmoved(s, dirName, tbl)) s.table(tbl)
    else {
      // fingerprint + build-or-serve OUTSIDE the cache lock (they run
      // Spark jobs); concurrent misses race benignly — apply() is
      // per-table-locked and the loser takes the serve path
      val df = apply(s, tbl, dirName, fp, schemaDdl, bucketCol, buckets)(build)
      serveCache.synchronized {
        serveCache.computeIfAbsent(s,
          _ => scala.collection.mutable.Map.empty[String, Long])
          .put(tbl, preEpoch)
      }
      df
    }
  }

  /** True iff the on-disk active version token still equals the one
    * this process registered the table against. Unreadable/missing meta
    * or an unregistered table count as "moved" — the caller then takes
    * the full serve path, which rebuilds or re-registers as needed. */
  private def activeUnmoved(s: SparkSession, dirName: String, tbl: String): Boolean =
    try {
      val root = rootPath(dirName)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      readMeta(fs, root).exists(m => Option(registered.get(tbl)).contains(m._1))
    } catch { case _: java.io.IOException => false }

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  /** Index root for a data-dir name (absolute, file: URI). */
  private[graft] def rootPath(dirName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new java.io.File(s"target/graft-index/$dirName").getAbsoluteFile.toURI)

  /** Read the pointer file: (activeToken, prevToken, fingerprint).
    * Exposed private[graft] so specs can tamper with the fingerprint /
    * locate the active version dir through the same parser. A pointer
    * whose fourth line is not the CRC32 of the first three (a torn or
    * foreign write, or a pointer from before that line existed) reads
    * as None, like a malformed one: the next serve rebuilds. */
  private[graft] def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(String, String, String)] = {
    val raw = rawFs(fs)
    val metaFile = new org.apache.hadoop.fs.Path(root, "_graft_meta")
    if (!raw.exists(metaFile)) None
    else {
      val in = raw.open(metaFile)
      val txt = try new String(in.readAllBytes(), UTF8) finally in.close()
      // active \n prev \n fp \n crc (fp may itself contain anything but
      // \n — fingerprints are single-line by construction)
      txt.split("\n", 4) match {
        case Array(a, p, f, _) if metaText(a, p, f) == txt => Some((a, p, f))
        case _ => None
      }
    }
  }

  /** Atomically publish the pointer: write a temp sibling, then rename
    * it over `_graft_meta`. Both go through the RAW filesystem, so the
    * pointer is ONE file with no `.crc` sibling to keep in step — the
    * checksum is the pointer's own fourth line — and the rename is one
    * rename(2) (the root is always a local directory), which replaces
    * the old pointer atomically. A reader concurrent with the commit
    * sees either the old complete pointer or the new one, never a torn
    * write; racing publishers are last-writer-wins. */
  private[graft] def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, active: String, prev: String,
      fp: String): Unit = {
    val raw = rawFs(fs)
    val tmp = new org.apache.hadoop.fs.Path(root, s"_graft_meta.tmp.$active")
    val out = raw.create(tmp, true)
    try out.write(metaText(active, prev, fp).getBytes(UTF8)) finally out.close()
    if (!raw.rename(tmp, new org.apache.hadoop.fs.Path(root, "_graft_meta")))
      throw new java.io.IOException(s"could not publish $tmp as the index pointer")
  }

  /** The pointer's bytes: the three fields, then their CRC32. */
  private def metaText(active: String, prev: String, fp: String): String = {
    val body = s"$active\n$prev\n$fp"
    val crc = new java.util.zip.CRC32
    crc.update(body.getBytes(UTF8))
    s"$body\n${crc.getValue}"
  }

  private def rawFs(fs: org.apache.hadoop.fs.FileSystem) = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** The active version's data directory as a local File (spec helper —
    * part-file mtime checks must look inside the versioned dir). */
  private[graft] def activeDir(s: SparkSession, dirName: String): java.io.File = {
    val root = rootPath(dirName)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val m = readMeta(fs, root).getOrElse(sys.error(s"no _graft_meta under $root"))
    new java.io.File(new java.net.URI(
      new org.apache.hadoop.fs.Path(root, m._1).toString))
  }

  private def serve(s: SparkSession, tbl: String, dirName: String, fp0: String,
      schemaDdl: String, bucketCol: String, buckets: Int)(
      build: => DataFrame): DataFrame = {
    // The stored fingerprint covers the physical LAYOUT as well as the
    // corpus: a bucket-count or schema change (e.g. retuning buckets to
    // the executor count) must rebuild, or a stale layout silently caps
    // join parallelism at the old bucket count.
    val fp = s"$fp0|$schemaDdl|$bucketCol|$buckets"
    val root = rootPath(dirName)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // pre-versioning layout (data files directly at the root, fingerprint
    // in _graft_fingerprint): no pointer protocol to respect — clear the
    // root and rebuild versioned
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_meta")) &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_fingerprint")))
      fs.delete(root, true)
    val meta = readMeta(fs, root)
    if (!meta.exists(_._3 == fp)) {
      // (re)build into a FRESH version dir. The currently-active dir (if
      // any) is left in place as the grace copy — a concurrent reader
      // holding a resolved plan over it keeps reading complete files.
      val token = "v_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val dataDir = new org.apache.hadoop.fs.Path(root, token)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val w = build.write.mode("overwrite").option("path", dataDir.toString)
      (if (buckets > 0) w.bucketBy(buckets, bucketCol).sortBy(bucketCol) else w)
        .saveAsTable(tbl)
      // pointer LAST and atomic: a torn build can never serve; racing
      // cross-process builders are last-writer-wins on the rename
      val prev = meta.map(_._1).getOrElse("")
      writeMeta(fs, root, token, prev, fp)
      // GC superseded versions — never the new active, never the grace
      // copy, and never anything recent enough to be a concurrent
      // builder's in-progress dir (age guard)
      val keep = Set(token, prev)
      val cutoff = System.currentTimeMillis() - 10 * 60 * 1000L
      Option(if (fs.exists(root)) fs.listStatus(root) else null).toSeq.flatten
        .foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith("v_") && !keep(n) &&
              st.getModificationTime < cutoff)
            fs.delete(st.getPath, true)
        }
      registered.put(tbl, token)
      epochs.merge(tbl, 1L, (a, b) => a + b)
    } else {
      val active = meta.get._1
      val crossProcessSwing = Option(registered.get(tbl)).exists(_ != active)
      if (crossProcessSwing || !s.catalog.tableExists(tbl)) {
        val loc = new org.apache.hadoop.fs.Path(root, active)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val cluster =
          if (buckets > 0)
            s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS "
          else ""
        s.sql(s"CREATE TABLE $tbl ($schemaDdl) USING PARQUET " +
          cluster + s"LOCATION '${loc.toString}'")
        registered.put(tbl, active)
        // another process rebuilt: cached serves in this JVM verified an
        // older epoch — invalidate them so they re-resolve the pointer
        if (crossProcessSwing) epochs.merge(tbl, 1L, (a, b) => a + b)
      }
    }
    s.table(tbl)
  }
}
