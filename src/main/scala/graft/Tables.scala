package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Reference data model: KMR's typed KVS + n-tuple relational rows
  * (kmr.h:355-376, ex/tpch.c:241-348) map to parquet-backed DataFrames;
  * Catalyst handles projection/predicate pushdown into the scan that the
  * reference does by hand (ex/tpch.c:2199-2246).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized ANALYZED reader frames: every `spark.read.parquet(path)`
    * re-resolves the DataSource and re-reads the parquet footer for
    * schema inference, ~75-95 ms per call on the bench corpus and paid
    * by every gate invocation. A DataFrame is immutable, so the analyzed
    * reader is served per (session, dir, table) like a catalog serves a
    * resolved table; no DATA is cached (the scan still reads parquet per
    * execution). */
  private val readers = new Memo[(SparkSession, String, String), DataFrame](64)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects unless
    // nanos are surfaced as long. Set here (runtime-settable SQLConf) so
    // every entry point — including a driver-built session — reads safely.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readers((spark, sfDir, name), fsStamp(spark, sfDir, name))(
      normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet")))
  }

  /** The generator has shipped `ts` as both TIMESTAMP(NANOS) (long under
    * nanosAsLong) and timezone-less TIMESTAMP(MICROS). Canonicalize any
    * `ts` column to nanos-since-epoch BIGINT so every downstream
    * `ts div …` bucket expression sees one type. unix_micros*1000 cannot
    * overflow until year ~2262 — the same ceiling the nanos encoding
    * itself has. DuckDB oracles are precision-agnostic already
    * (epoch_ns/epoch_us of a TIMESTAMP), so only this side needs the
    * normalization. Works on batch AND streaming frames — readStream
    * sources over the same parquet need the identical treatment. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000L"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // Timezone-less parquet micros. DuckDB's epoch_ns treats the naive
        // value as UTC; timestampdiff on NTZ is pure wall-clock arithmetic
        // (verified session-zone-independent), so the naive value maps to
        // UTC epoch micros without mutating spark.sql.session.timeZone as
        // a loader side effect (sessions still pin UTC at setup for date
        // functions generally, but loading a table must not change
        // unrelated session behavior).
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000L"))
      case _ => df
    }

  /** events.ts (nanos-since-epoch long under nanosAsLong) as
    * microseconds. INTEGER division is load-bearing: a double quotient
    * quantizes ~2024 nano timestamps (>2^53) to ~256ns steps and shifts
    * window boundaries. Every query that needs µs must use this. */
  def tsUs: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("ts div 1000")

  /** events.value as exact integer cents — THE money-measure expression
    * for every events aggregate, paired with [[centsSql]]. try_cast (not
    * cast): a NaN/±Infinity measure becomes NULL — skipped by sums
    * exactly like a NULL value — instead of killing the whole job with
    * ANSI CAST_OVERFLOW; real event streams contain NaN
    * (HostileEventsSpec pins this). */
  def cents: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("try_cast(round(value * 100, 0) AS LONG)")

  /** DuckDB mirror of [[cents]]. */
  val centsSql: String = "TRY_CAST(round(value*100,0) AS BIGINT)"

  /** lineitem.l_quantity as integer cents — same try_cast rationale. */
  def qtyCents: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("try_cast(round(l_quantity * 100, 0) AS LONG)")
  val qtyCentsSql: String = "TRY_CAST(round(l_quantity*100,0) AS BIGINT)"

  /** lineitem.l_extendedprice as integer cents — same try_cast rationale. */
  def priceCents: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("try_cast(round(l_extendedprice * 100, 0) AS LONG)")
  val priceCentsSql: String = "TRY_CAST(round(l_extendedprice*100,0) AS BIGINT)"

  /** events with `ts` also exposed as a proper timestamp column `ts_t`
    * (microsecond precision — Spark's native timestamp resolution). */
  def eventsWithTs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    load(spark, sfDir, "events").withColumn("ts_t", timestamp_micros(tsUs))
  }

  /** Memoized corpus ROW COUNT (ADVICE r13): adaptive-parameter
    * choices (SRP band width, SimHash banding mode) need n once per
    * corpus, not one count scan per gate invocation folded into that
    * query's timing — the catalog row-count lookup a production
    * metastore serves for free. Per-JVM: the count is
    * session-independent. */
  private val counts = new Memo[(String, String), Long](64)

  /** Filesystem freshness stamp of one table's parquet dir — total
    * length, dir + newest part mtimes, and a SHA-256 of the per-file
    * (name, length) manifest. The stamp of every table-derived
    * [[Memo]] ([[load]], [[cachedCount]], [[fingerprint]]): any
    * metadata-visible rewrite changes it, so those memos miss naturally
    * on a corpus regen. Unstampable (exotic FS) → a unique value, i.e.
    * never cached.
    *
    * Contract gap: a same-second, same-length, same-name in-place
    * rewrite of a single file is metadata-indistinguishable. Because
    * [[load]] memoizes the reader, that gap reaches served query DATA,
    * not only cached counts: the memoized frame keeps its file-listing
    * snapshot and would read the rewritten file under the old
    * listing. */
  private[graft] def fsStamp(spark: SparkSession, sfDir: String,
      name: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cs = fs.getContentSummary(p)
      val parts = Option(fs.listStatus(p)).getOrElse(
        Array.empty[org.apache.hadoop.fs.FileStatus])
      // directory mtime alone misses an in-place file rewrite; fold the
      // newest file mtime in as well
      val newest =
        if (parts.nonEmpty) parts.map(_.getModificationTime).max
        else fs.getFileStatus(p).getModificationTime
      // Per-file (name, length) manifest (ADVICE r14): Spark and Arrow
      // writers mint fresh part-file UUIDs per write, so a same-total-
      // size rewrite landing inside mtime granularity still changes the
      // stamp. SHA-256 of the manifest string (ADVICE r15) — the
      // earlier 32-bit Objects.hash could collide across two distinct
      // name:length lists and serve a stale count; a 256-bit digest
      // makes the stamp effectively the manifest itself without putting
      // an unbounded string in the cache key.
      val manifest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.map(st => s"${st.getPath.getName}:${st.getLen}")
          .sorted.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      s"${cs.getLength}|${fs.getFileStatus(p).getModificationTime}|$newest|$manifest"
    } catch {
      // unstampable (exotic FS) → unique key = plain uncached compute
      case _: Exception => java.util.UUID.randomUUID().toString
    }

  def cachedCount(spark: SparkSession, sfDir: String, name: String): Long =
    counts((sfDir, name), fsStamp(spark, sfDir, name))(load(spark, sfDir, name).count())

  /** A corpus fingerprint memoized per (tag, dir) and stamped by the
    * [[fsStamp]]s of the `tables` it reads: an index's freshness check
    * costs one aggregate per corpus version instead of one per serve,
    * and a regen misses without a data scan. `compute` must read only
    * `tables`. */
  private val fingerprints = new Memo[(String, String), String](64)

  private[graft] def fingerprint(spark: SparkSession, sfDir: String,
      tag: String, tables: String*)(compute: => String): String =
    fingerprints((tag, sfDir), tables.map(fsStamp(spark, sfDir, _)))(compute)

  /** Drop a managed table AND its warehouse location. A directory left
    * by a previous session is invisible to a fresh session's in-memory
    * catalog, so `mode("overwrite").saveAsTable` alone throws
    * LOCATION_ALREADY_EXISTS — every bucketed-table writer (gate query
    * or spec) must reset through this. */
  def resetManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val p = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** One engine query: a Spark implementation plus (where SQL-expressible)
  * an equivalent DuckDB oracle for the driver's correctness gate.
  * Column names/types must match the oracle exactly; every query ends in
  * a deterministic ORDER BY so row-order comparisons are stable.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
