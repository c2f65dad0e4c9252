package graft.llm

import graft.{QueryDef, Tables}
import graft.core.{Superstep, Truncate}
import graft.sources.IndexSpec
import graft.streaming.StreamOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines (the
  * driver's beyond-reference extension surface; no KMR counterpart).
  *
  * Scale design: every variant is bucket-shuffled — exact dedup shuffles
  * on the content hash, Jaccard on the shingle (inverted index), MinHash
  * on (band, band-hash), SimHash on (band, band-bits). There is no
  * all-pairs crossJoin anywhere; candidate generation is always a
  * key-equality join, so the 100 TB plan is shuffle+join, not O(n²).
  * Every inverted-index variant — jaccard, containment and substring,
  * their index-served twins, and the delta gates with their streaming
  * probes — matches through ONE df-capped kernel, [[postingJoin]].
  * Signature computation (minhash/simhash) is per-row with higher-order
  * array functions — whole-stage-codegen'd, no UDFs, no extra shuffle.
  */
object Dedup {

  import TextNorm.{toks, normSql}

  /** Distinct word 3-gram shingles per doc. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-3), i -> concat(w[i],' ',w[i+1],' ',w[i+2]))")).as("gram"))
      .distinct()

  /** Distinct shingles per doc WITH the per-doc count riding every row
    * as a map-only column: (doc_id, n1, gram). The gram set equals
    * [[shinglesOf]]'s rows (array_distinct within one row's own tokens
    * — doc_id is unique per row, so per-row and global distinct
    * coincide), and n1 = size(grams) is the Jaccard denominator
    * WITHOUT a second scan+aggregate over the batch. The left side of
    * [[graft.streaming.StreamOps]].gramProbe, which the
    * dedup_jaccard_delta gate rolls up (a streaming-side aggregate
    * would be stateful — in the batch gate it is simply a saved pass).
    *
    * explode_OUTER is load-bearing: a plain explode makes Catalyst
    * derive `isnotnull(grams) AND size(grams) > 0` constraints and
    * push them into the SCAN with the whole
    * array_distinct(transform(split(text)...)) expression substituted
    * per reference — the shingle pipeline re-evaluated inside the
    * filter with split() inlined into every lambda index access,
    * measured 6× the whole gate's cost at sf0.1. outer generates no
    * such constraints; the post-explode isnotnull(gram) filter (a
    * column test, nothing recomputed) drops the at-most-one null row
    * per sub-3-gram doc that outer admits. */
  private[graft] def shingleRowsWithN1(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(w)-3), " +
        "i -> concat(w[i],' ',w[i+1],' ',w[i+2])))").as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n1"),
        explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)

  /** Stop-gram guard for the exact-Jaccard inverted index: shingles
    * shared by more than this many documents are dropped before the
    * self-join. The join's cost is O(Σ df²) over shingle document
    * frequencies, so ONE boilerplate gram shared by 10⁶ docs would
    * create 10¹² candidate pairs — the standard fix (as in Mann et al.'s
    * set-similarity join surveys) is to cap df: a gram that common
    * carries ~no Jaccard signal for near-dup detection but all of the
    * quadratic cost. 1000 is the production setting; the observed max
    * df on the synthetic corpus is 25 (sf0.1), so at test scale the cap
    * provably never fires and the DuckDB oracle (which replays the same
    * guard) stays hash-identical to the uncapped form. */
  val JaccardDfCap = 1000L

  /** Df stop-list cap for the winnowing-fingerprint family — the same
    * O(Σ df²) self-join bound as [[JaccardDfCap]], tighter because
    * fingerprints are denser than word 3-grams. ONE named constant
    * (r16): it previously lived as a bare `50` in the gate, the
    * oracle SQL, the streaming probe default, and pysmoke —
    * ShardedOracleConstsSpec pins the Python copies to this value. */
  val WinnowDfCap = 50L

  /** Deterministic 20-word "paragraph" chunks of every document, each
    * hashed to the portable 60-bit md5 prefix: (doc_id, idx, h). The
    * shared front half of dedup_paragraph / dedup_paragraph_delta and
    * the [[chunkIndex]] build. */
  private[graft] def paragraphChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextNorm.toks.as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(w) / 20.0) AS INT) - 1), " +
        "c -> array_join(slice(w, c * 20 + 1, 20), ' '))")))
      .toDF("doc_id", "idx", "chunk")
      .select(col("doc_id"), col("idx"), md5Long(col("chunk")).as("h"))

  /** DuckDB replay of [[paragraphChunks]] (two zipped unnests: range
    * index + the chunk strings; last partial chunk clamps identically
    * in DuckDB list slicing and Spark slice()). */
  private def chunksSql: String =
    s"""WITH toks AS (SELECT doc_id, ${TextNorm.normSql} AS w FROM documents),
        raw AS (SELECT doc_id,
            unnest(range(0, CAST(ceil(len(w)/20.0) AS BIGINT))) AS idx,
            unnest(list_transform(range(0, CAST(ceil(len(w)/20.0) AS BIGINT)),
              c -> array_to_string(w[c*20+1 : c*20+20], ' '))) AS chunk
          FROM toks WHERE len(w) >= 1),
        chunks AS (SELECT doc_id, idx, ${md5LongSql("chunk")} AS h FROM raw)"""

  /** Persisted paragraph-chunk index — [[paragraphChunks]] per corpus,
    * h-bucketed (the [[minhashIndex]] shape at paragraph granularity):
    * pay the chunk+hash scan when the corpus lands, serve every ingest
    * probe after. */
  val chunkIndex: IndexSpec = IndexSpec("chunks", "chunk_idx",
    "doc_id BIGINT, idx INT, h BIGINT", "h", IndexSpec.Buckets, CorpusScope,
    corpusFingerprint, (s, d) => paragraphChunks(Tables.load(s, d, "documents")))

  private val shinglesSql =
    s"""WITH toks AS (SELECT doc_id, $normSql AS w FROM documents),
        grams AS (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
          FROM toks WHERE len(w) >= 3)"""

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    * non-negative long. md5 produces identical hex in Spark and DuckDB,
    * so signature pipelines built on it are oracle-able bit-for-bit
    * (unlike xxhash64, which exists only in Spark). Computed by the
    * native codegen expression [[graft.functions.Md5Prefix64]] — same
    * value as `conv(substr(md5(c),1,15),16,10)` with zero intermediate
    * hex strings. */
  private[llm] def md5Long(c: Column): Column =
    graft.functions.Md5Prefix64.md5p64(c)

  /** DuckDB twin of [[md5Long]]: fold the 15 hex digits into a BIGINT
    * (DuckDB has no hex→int conv; strpos on the digit alphabet is the
    * per-char value, '0' falls out as strpos-miss 0). */
  private[llm] def md5LongSql(e: String): String =
    "CAST(list_sum(list_transform(range(1, 16), i -> " +
    s"(strpos('123456789abcdef', substr(md5($e), i, 1))::BIGINT << (4*(15-i))))) AS BIGINT)"

  /** Shared oracle CTE chain (appended after [[shinglesSql]]): MinHash
    * signatures + LSH band candidates with their matching-position count.
    * Mirrors [[minhashPairs]] exactly — same hashes, same permutation
    * family, same banding. */
  private val minhashSql =
    s""", gh AS (SELECT doc_id,
          ${md5LongSql("gram")} % 2147483647 AS h1,
          ${md5LongSql("gram || '!'")} % 2147483646 + 1 AS h2 FROM grams),
        perm AS (SELECT doc_id, j, min((h1 + j*h2) % 2147483647) AS m
          FROM gh, (SELECT unnest(range(0, 64)) AS j) js GROUP BY 1, 2),
        sigs AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM perm GROUP BY 1),
        bands AS (SELECT doc_id, sig, bd, sig[bd*4+1 : bd*4+4] AS bk
          FROM sigs, (SELECT unnest(range(0, 16)) AS bd) bs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          CAST(list_sum(list_transform(range(1, 65),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
          FROM bands a JOIN bands b
          ON a.bd = b.bd AND a.bk = b.bk AND a.doc_id < b.doc_id)"""

  /** Full oracle CTE chain ending in `comps(id, comp)` — the recursive
    * transitive closure of the MinHash candidate pairs (threshold 32/64).
    * Shared by dedup_clusters and Curate's dedup_keep_best so both
    * oracles replay the identical clustering. */
  private[llm] val clusterClosureSql: String =
    shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ") + minhashSql +
    """, cpairs AS (SELECT id1, id2 FROM cand WHERE n_match >= 32),
       edges AS (SELECT id1 AS src, id2 AS dst FROM cpairs
                 UNION SELECT id2, id1 FROM cpairs),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       reach(id, comp) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
       comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)"""

  /** Winnowing-fingerprint substring-overlap pairs (see the
    * dedup_substring gate entry): (id1, id2, n_shared) for every doc
    * pair sharing at least one winnowed 32-gram fingerprint, df-capped.
    * Guarantee: any common substring of >= 32+16-1 = 47 chars shares a
    * fingerprint (alignment-independent, unlike stride sampling). */
  def substringPairs(documents: org.apache.spark.sql.DataFrame,
      dfCap: Long): org.apache.spark.sql.DataFrame =
    // fingerprints materialized once (an eager cut): the df stop-list
    // and both self-join sides otherwise each re-run the whole winnow
    // expression over the corpus — 3 full winnow passes per query (same
    // duplicated-subtree class as [[jaccardPairs]])
    substringPairsFrom(Truncate(winnowFps(documents)), dfCap)

  /** The winnow pipeline up to distinct (doc_id, fp) — the front half
    * of [[substringPairs]], also materialized verbatim by the persisted
    * index ([[winnowIndex]]). */
  private[graft] def winnowFps(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // The whole winnow (32-char grams → 60-bit md5-prefix hash →
    // sliding 16-gram min → per-doc distinct) happens INSIDE the scan
    // stage via the native [[graft.functions.WinnowFps]] expression —
    // one O(grams) monotonic-deque pass per document, whole-stage
    // codegen'd. Until round 11 this was a declarative posexplode +
    // per-doc window pipeline, which was correct but shuffled every
    // gram hash (doc_len − 31 longs per doc; 68 MB shuffle-read at
    // sf0.1, the census's largest) through an Exchange(doc_id) just to
    // regroup a document's own grams — data already co-located in the
    // scanned row. Values are bit-identical (WinnowFpsSpec pins the
    // parity against an independent replay; the shared DuckDB oracle
    // is unchanged); only the plan moved. The 47-char guarantee
    // (Schleimer/Wilkerson/Aiken winnowing) is unchanged: any common
    // substring of >= 32+16-1 chars still shares a fingerprint.
    documents
      .filter(length(col("text")) >= 47)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps.winnow(col("text"))).as("fp"))

  /** Candidate-pair count over a (doc_id, fp) frame — the back half of
    * [[substringPairs]], shared by the inline and index-served paths:
    * [[postingJoin]]'s self form rolled up to (id1, id2, n_shared).
    * Served callers pass the persisted (fp, df) stat ([[winnowDf]],
    * identical values): one posting scan per query instead of two, and
    * when `fps` is the bucketed index table the df cap AND the
    * fingerprint self-join are bucket-co-located on fp. */
  private[llm] def substringPairsFrom(fps: DataFrame, dfCap: Long,
      dfOpt: Option[DataFrame] = None): DataFrame =
    postingJoin(fps, None, "fp", dfCap, dfOpt)
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("id1", "id2")

  /** DuckDB replays of the inverted-shingle-index pipelines — each
    * shared by the inline gate and its index-served twin (a stale
    * shingle index fails the shared hash gate). */
  private val jaccardOracleSql: String =
    shinglesSql +
      s""", dfk AS (SELECT gram FROM grams GROUP BY gram
           HAVING count(*) <= $JaccardDfCap),
         kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN dfk USING (gram)),
         sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
           FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id1, id2,
           round(CAST(inter AS DOUBLE)/(s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = pairs.id1
         JOIN sizes s2 ON s2.doc_id = pairs.id2
         WHERE round(CAST(inter AS DOUBLE)/(s1.n + s2.n - inter), 6) >= 0.6
         ORDER BY id1, id2""".stripMargin

  private val containmentOracleSql: String =
    shinglesSql +
      s""", dfk AS (SELECT gram FROM grams GROUP BY gram
           HAVING count(*) <= $JaccardDfCap),
         kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN dfk USING (gram)),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS inter
           FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id1, id2, s1.n AS n1, s2.n AS n2,
           (1000 * inter) // least(s1.n, s2.n) AS c_milli
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = pairs.id1
         JOIN sizes s2 ON s2.doc_id = pairs.id2
         WHERE (1000 * inter) // least(s1.n, s2.n) >= 800
         ORDER BY id1, id2""".stripMargin

  /** DuckDB replay of the winnow pipeline + df-cap + pair join — shared
    * by dedup_substring and its index-served twin (a stale index fails
    * the shared hash gate, the dedup_indexed discipline). */
  /** Front half of the winnow replay — per-doc distinct fingerprints as
    * CTE `g (doc_id, fp)` — shared by the whole-corpus pair oracle and
    * the delta-ingest oracle (r15). */
  private val winnowCtesSql: String =
      """WITH h AS (SELECT doc_id,
           list_transform(range(1, greatest(length(text) - 30, 2)),
             i -> CAST(concat('0x', substr(md5(text[i:i+31]), 1, 15)) AS BIGINT)) AS hs
           FROM documents WHERE length(text) >= 47),
         f AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(hs) - 14, 2)), j -> list_min(hs[j:j+15]))) AS fps
           FROM h),
         g AS (SELECT doc_id, unnest(fps) AS fp FROM f)""".stripMargin

  private val substringOracleSql: String =
    winnowCtesSql +
      s""",
         dfk AS (SELECT fp FROM g GROUP BY fp HAVING count(*) <= $WinnowDfCap),
         kept AS (SELECT g.doc_id, g.fp FROM g JOIN dfk USING (fp))
         SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Exact dedup: hash-groupBy on a normalized content hash. The
    // only shuffled payload is (hash, doc_id) — at 100 TB the text never
    // moves, and min(doc_id) keeps the canonical copy deterministically.
    QueryDef("dedup_exact", (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), TextNorm.contentHash.as("content_hash"))
        .groupBy("content_hash")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("keep_id")
    }, Some(
      s"SELECT ${TextNorm.contentHashSql} AS content_hash, " +
      "min(doc_id) AS keep_id, count(*) AS n_dups " +
      "FROM documents GROUP BY 1 ORDER BY keep_id")),

    // ---- Paragraph-level exact dedup (the MassiveText / Dolma
    // pipeline stage: drop repeated paragraphs ACROSS documents, then
    // drop documents that lost most of their content). The synthetic
    // corpus carries no newline structure, so the paragraph boundary
    // is a deterministic 20-word chunk. Duplicate chunks keep only the
    // global first occurrence (lowest (doc_id, idx)); each doc reports
    // chunk counts and the keep verdict (kept iff <= 50% of its chunks
    // are elsewhere-first duplicates). Scale shape: one explode, one
    // hash-keyed aggregate, one equality join back, one per-doc
    // aggregate — no self-join, no window; a boilerplate chunk shared
    // by 10^6 docs costs ONE (min-struct, count) aggregate state, not
    // a pair explosion (contrast the Jaccard posting join, which needs
    // its df cap for exactly that case).
    QueryDef("dedup_paragraph", (s, d) => {
      val chunks = paragraphChunks(Tables.load(s, d, "documents"))
      val firstOwner = chunks.groupBy("h")
        .agg(min(struct(col("doc_id"), col("idx"))).as("w0"))
      chunks.join(firstOwner, "h")
        .select(col("doc_id"),
          when(col("w0.doc_id") === col("doc_id") &&
               col("w0.idx") === col("idx"), 0L).otherwise(1L).as("dup"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum("dup").as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          when(col("n_dup") * 2 <= col("n_chunks"), 1L).otherwise(0L)
            .as("keep_doc"))
        .orderBy("doc_id")
    }, Some(
      chunksSql +
      s""", fo AS (SELECT h, min(struct_pack(d := doc_id, i := idx)) AS w0
                 FROM chunks GROUP BY 1),
          flags AS (SELECT c.doc_id,
              CASE WHEN (f.w0).d = c.doc_id AND (f.w0).i = c.idx
                   THEN 0 ELSE 1 END AS dup
            FROM chunks c JOIN fo f USING (h))
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(sum(dup) AS BIGINT) AS n_dup,
            CASE WHEN sum(dup) * 2 <= count(*) THEN 1 ELSE 0 END::BIGINT
              AS keep_doc
          FROM flags GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Steady-state paragraph-level ingest (the dedup_delta shape
    // at paragraph granularity, completing the O(delta) incremental
    // family: exact → minhash → embedding → paragraph; r16 moved it
    // onto the production serve plan): "newly arriving" documents
    // (source != BaseSource, the same deterministic split dedup_delta
    // uses) chunk + hash ONLY their own text — the map-only
    // [[paragraphChunks]] pass over the delta batch, O(delta), no
    // corpus rescan — and probe the PERSISTED base-split membership
    // set ([[chunkHashesBase]]: one row per distinct base chunk hash,
    // h-bucketed, written once with the base corpus). The per-ingest
    // plan contains NO base-side aggregate (the r15 form re-derived
    // `DISTINCT h` over the whole index per batch; DeltaDedupSpec pins
    // the new shape structurally). The gate IS the streaming probe
    // plus its sink-side roll-up, run as one batch:
    // [[graft.streaming.StreamOps]].chunkKeepDecisions over
    // chunkProbeFor. The oracle replays chunking, hashing, the split,
    // and the membership probe — a stale or mis-split base table fails
    // the hash gate.
    QueryDef("dedup_paragraph_delta", (s, d) =>
      StreamOps.chunkKeepDecisions(StreamOps.chunkProbeFor(
          Tables.load(s, d, "documents").filter(col("source") =!= BaseSource), s, d))
        .withColumnRenamed("delta_id", "doc_id")
        .orderBy("doc_id"),
    Some(
      chunksSql +
      s""", srcs AS (SELECT doc_id, source FROM documents),
          corpus_h AS (SELECT DISTINCT h FROM chunks JOIN srcs USING (doc_id)
                       WHERE source = 'src0'),
          delta AS (SELECT c.doc_id, c.h FROM chunks c
                    JOIN srcs s ON s.doc_id = c.doc_id
                    WHERE s.source <> 'src0')
          SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(sum(CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup,
            CASE WHEN sum(CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END) * 2
                      <= count(*) THEN 1 ELSE 0 END::BIGINT AS keep_doc
          FROM delta d LEFT JOIN corpus_h ch ON d.h = ch.h
          GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- Near-dup by exact n-gram Jaccard over an inverted shingle
    // index: join docs that SHARE a shingle (shuffle key = shingle),
    // count intersections, compute J = |∩|/|∪|. Exact up to the
    // [[JaccardDfCap]] stop-gram guard that bounds the O(Σ df²)
    // self-join; the scale path for unbounded corpora is dedup_minhash
    // below. The oracle replays the identical guard.
    QueryDef("dedup_jaccard", (s, d) =>
      jaccardPairs(Tables.load(s, d, "documents"), minJ = 0.6, dfCap = JaccardDfCap),
    Some(jaccardOracleSql)),

    // ---- The SAME exact-Jaccard pairs served from the PERSISTED
    // shingle inverted index ([[shingleIndex]]): tokenize + explode +
    // distinct is paid once per corpus; the per-query plan reads the
    // bucketed posting list, with the df-cap groupBy and gram self-join
    // bucket-co-located. Shares dedup_jaccard's oracle.
    QueryDef("dedup_jaccard_indexed", (s, d) =>
      jaccardPairsFrom(shingleIndex(s, d), minJ = 0.6, dfCap = JaccardDfCap,
        sizesOpt = Some(shingleSizes(s, d)), dfOpt = Some(shingleDf(s, d))),
    Some(jaccardOracleSql)),

    // ---- Steady-state exact-Jaccard ingest (r15; r16 moved it onto
    // the PRODUCTION serve plan): delta documents (source !=
    // BaseSource) tokenize + shingle ONLY their own text — O(delta
    // grams), no corpus rescan — and probe the BASE-SPLIT persisted
    // inverted shingle index ([[shingleIndexBase]], built over exactly
    // the corpus production holds at ingest time) for base-corpus
    // near-dups. The stop-gram list and the base doc sizes are READ
    // FROM DISK: [[shingleDfBase]] and [[shingleSizesBase]] are the
    // index's companion stat tables, written once with the index — the
    // per-ingest plan contains NO base-side aggregate at all
    // (DeltaDedupSpec pins this structurally), so per-batch cost is
    // O(delta grams · df≤cap) data motion plus bucket-co-located index
    // scans. The gate IS the streaming probe plus its sink-side
    // roll-up, run as one batch: [[graft.streaming.StreamOps]].gramProbeFor
    // ([[postingJoin]]'s probe form, n1 riding every delta row
    // map-only) rolled up by gramPairJaccard to J = |∩|/(n1+n2−|∩|).
    // Same rounding + threshold as dedup_jaccard, so the oracle replays
    // shingling, the split, the base-side df-cap, the sizes, and the
    // similarity arithmetic exactly — a stale or mis-split base index
    // fails the hash gate.
    QueryDef("dedup_jaccard_delta", (s, d) =>
      StreamOps.gramPairJaccard(StreamOps.gramProbeFor(
          Tables.load(s, d, "documents").filter(col("source") =!= BaseSource), s, d),
          shingleSizesBase(s, d), minJ = 0.6)
        .orderBy("delta_id", "base_id"),
    Some(
      shinglesSql +
      s""",
         srcs AS (SELECT doc_id, source FROM documents),
         base AS (SELECT g.doc_id AS base_id, g.gram FROM grams g
                  JOIN srcs USING (doc_id) WHERE source = 'src0'),
         delta AS (SELECT g.doc_id AS delta_id, g.gram FROM grams g
                   JOIN srcs USING (doc_id) WHERE source <> 'src0'),
         dfk AS (SELECT gram FROM base GROUP BY gram
                 HAVING count(*) <= $JaccardDfCap),
         kept AS (SELECT base_id, gram FROM base JOIN dfk USING (gram)),
         n1s AS (SELECT delta_id, count(*) AS n1 FROM delta GROUP BY 1),
         n2s AS (SELECT base_id, count(*) AS n2 FROM base GROUP BY 1),
         pairs AS (SELECT delta_id, base_id, count(*) AS inter
                   FROM delta JOIN kept USING (gram) GROUP BY 1, 2)
         SELECT delta_id, base_id,
           round(CAST(inter AS DOUBLE)/(n1 + n2 - inter), 6) AS jaccard
         FROM pairs JOIN n1s USING (delta_id) JOIN n2s USING (base_id)
         WHERE round(CAST(inter AS DOUBLE)/(n1 + n2 - inter), 6) >= 0.6
         ORDER BY delta_id, base_id""".stripMargin)),

    // ---- The SAME exact-Jaccard pairs via PREFIX FILTERING (AllPairs/
    // PPJoin, Bayardo et al. WWW'07): instead of self-joining the full
    // inverted index — O(Σ df²) over every shingle — only each doc's
    // rarest nᵏ−⌈t·nᵏ⌉+1 shingles (under a global df-ascending order)
    // are indexed, which is provably sufficient to generate every pair
    // with J ≥ t. This removes the mid-frequency df² mass the stop-gram
    // cap can't touch, making the EXACT path viable far beyond the
    // "small-corpus oracle" regime; verification is per-candidate over
    // per-doc shingle arrays (bounded by doc length, not corpus size).
    // Shares dedup_jaccard's oracle — an unsound prefix bound that
    // drops a true pair fails the hash gate. PrefixJoinSpec proves
    // pair-set equality with the inverted-index path on adversarial
    // fixtures (threshold-boundary pairs, cap-firing corpora).
    QueryDef("dedup_jaccard_prefix", (s, d) =>
      jaccardPairsPrefix(shinglesOf(Tables.load(s, d, "documents")),
        jNum = 3, jDen = 5, dfCap = JaccardDfCap),
    Some(jaccardOracleSql)),

    // ---- Asymmetric containment dedup: |A∩B| / min(|A|,|B|) >= 0.8.
    // Catches the subset-duplication shape Jaccard structurally misses
    // (a short doc fully quoted inside a long one scores J ≈ |A|/|B| ≈ 0
    // but containment 1.0) — the quote-expansion / boilerplate-wrapped
    // duplication a crawl corpus is full of. Same inverted shingle
    // index and stop-gram guard as dedup_jaccard; the score is a single
    // integer division (milli-units), so the gate is float-free.
    QueryDef("dedup_containment", (s, d) =>
      containmentPairs(Tables.load(s, d, "documents"), minMilli = 800L,
        dfCap = JaccardDfCap),
    Some(containmentOracleSql)),

    // ---- Containment served from the same persisted shingle index
    // (see dedup_jaccard_indexed); shares dedup_containment's oracle.
    QueryDef("dedup_containment_indexed", (s, d) =>
      containmentPairsFrom(shingleIndex(s, d), sizesOpt = Some(shingleSizes(s, d)),
        dfOpt = Some(shingleDf(s, d)), minMilli = 800L,
        dfCap = JaccardDfCap),
    Some(containmentOracleSql)),

    // ---- Exact-substring near-dup via winnowing fingerprints (Lee et
    // al. "Deduplicating Training Data Makes Language Models Better" —
    // substring-level duplication — detected with the MOSS winnowing
    // scheme, Schleimer et al. SIGMOD'03): every 32-char window is
    // md5'd, then each sliding window of 16 hashes keeps its minimum —
    // positions are chosen by CONTENT, so two docs sharing any span of
    // >= 32+16-1 = 47 chars pick at least one identical fingerprint
    // regardless of alignment (the guarantee stride-sampling lacks).
    // Winnowing keeps ~2/(w+1) of positions, so only ~12% of the hash
    // stream — and never the text — reaches the shuffle; the
    // document-frequency cap bounds the fingerprint self-join exactly
    // like dedup_jaccard's stop-gram guard. Each gram hash is the first
    // 60 bits of the md5 as a BIGINT — computed identically by both
    // engines (conv / hex-literal cast), compared numerically — so the
    // whole pipeline is hash-oracle-able with 8-byte shuffle keys.
    QueryDef("dedup_substring", (s, d) =>
      substringPairs(Tables.load(s, d, "documents"), dfCap = WinnowDfCap),
    Some(substringOracleSql)),

    // ---- The SAME substring candidate pairs served from the PERSISTED
    // winnowing-fingerprint index ([[winnowIndex]]): the posexplode +
    // per-doc window pipeline — the expensive half of dedup_substring —
    // is paid once per corpus; the per-query plan reads the bucketed
    // (doc_id, fp) table, and both the df-cap groupBy and the
    // fingerprint self-join are bucket-co-located on fp. Shares
    // dedup_substring's oracle, so a stale index fails the hash gate.
    QueryDef("dedup_substring_indexed", (s, d) =>
      substringPairsFrom(winnowIndex(s, d), dfCap = WinnowDfCap,
        dfOpt = Some(winnowDf(s, d))),
    Some(substringOracleSql)),

    // ---- Steady-state substring-level ingest (r15: the dedup_delta
    // shape for the winnow family, completing the O(delta) incremental
    // set: exact → minhash → embedding-LSH → paragraph → winnow).
    // "Newly arriving" documents (source != BaseSource, the
    // deterministic ingest stand-in every document-table delta gate
    // uses) compute ONLY their own winnowed fingerprints — the
    // codegen'd [[graft.functions.WinnowFps]] pass over the delta
    // text, O(delta grams), no corpus rescan — and probe the
    // BASE-SPLIT persisted fingerprint index ([[winnowIndexBase]]) for
    // base-corpus docs sharing a fingerprint. The df stop-list is the
    // PERSISTED [[winnowDfBase]] stat table read straight from disk
    // (the corpus you already hold; an arriving batch must not
    // reshape the corpus stop-list) — the per-ingest plan contains NO
    // base-side aggregate (DeltaDedupSpec pins this structurally) —
    // and the probe itself is an fp-equality join delta-vs-base, so
    // the per-ingest cost is O(delta·fps·df≤cap). The gate IS the
    // streaming probe plus its sink-side roll-up, run as one batch:
    // [[graft.streaming.StreamOps]].fpPairCounts over fpProbeFor
    // ([[postingJoin]]'s probe form — kmr_match as a persisted index,
    // src/kmrmoreops.c:695-728). The oracle replays winnowing, the
    // source split, the base-side df-cap, and the pair count — a stale
    // or mis-split winnow index fails the hash gate.
    QueryDef("dedup_substring_delta", (s, d) =>
      StreamOps.fpPairCounts(StreamOps.fpProbeFor(
          Tables.load(s, d, "documents").filter(col("source") =!= BaseSource), s, d))
        .orderBy("delta_id", "base_id"),
    Some(
      winnowCtesSql +
      s""",
         srcs AS (SELECT doc_id, source FROM documents),
         base AS (SELECT g.doc_id AS base_id, g.fp FROM g
                  JOIN srcs USING (doc_id) WHERE source = 'src0'),
         delta AS (SELECT g.doc_id AS delta_id, g.fp FROM g
                   JOIN srcs USING (doc_id) WHERE source <> 'src0'),
         dfk AS (SELECT fp FROM base GROUP BY fp HAVING count(*) <= $WinnowDfCap),
         kept AS (SELECT base_id, fp FROM base JOIN dfk USING (fp))
         SELECT delta_id, base_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM delta JOIN kept USING (fp)
         GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- MinHash + LSH banding: 64 fixed-seed permutations over
    // md5-derived shingle hashes; 16 bands × 4 rows. Candidates =
    // equality join on (band, band-signature); similarity = count of
    // matching signature positions (exact integer — no float rounding in
    // the gate). md5 is engine-portable, so the DuckDB oracle replays
    // the identical pipeline; LlmSpec additionally asserts recall
    // against exact Jaccard.
    QueryDef("dedup_minhash", (s, d) => minhashPairs(s, d, est = 0.5), Some(
      shinglesSql + minhashSql +
      " SELECT id1, id2, n_match FROM cand WHERE n_match >= 32 ORDER BY id1, id2")),

    // ---- The SAME candidate generation served from the PERSISTED band
    // index ([[minhashIndex]]): signatures computed once per corpus and
    // written as a bucketed+sorted external table; the per-query plan is
    // a zero-Exchange bucketed self-join over the index — the 100 TB
    // production shape (pay the signature shuffle once when the corpus
    // lands, reuse it for every dedup/contamination/similarity query).
    // Identical output to dedup_minhash, so the oracle is shared; a
    // stale or corrupt index therefore fails the hash gate loudly.
    QueryDef("dedup_indexed", (s, d) =>
      indexedPairs(minhashIndex(s, d), est = 0.5), Some(
      shinglesSql + minhashSql +
      " SELECT id1, id2, n_match FROM cand WHERE n_match >= 32 ORDER BY id1, id2")),

    // ---- Steady-state ingest NEAR-dup: documents arriving from the
    // non-'src0' shards are checked against the EXISTING corpus (src0)
    // through the BASE-SPLIT persisted band index — the production
    // shape for incremental corpus growth (dedup_incremental is the
    // exact-hash delta path; this is its near-duplicate sibling). The
    // arriving batch computes its OWN signatures from text — the
    // shingle → two md5 hashes → 64-permutation fold over the delta
    // docs only, O(delta), exactly what a production ingest pays —
    // and band-joins [[minhashIndexBase]] (r16; the r15 form read the
    // whole-corpus index on BOTH sides and split it by a source join,
    // a per-ingest corpus-sized index read production would never
    // perform). Candidate generation is against the corpus only,
    // never delta-vs-delta, so per-ingest cost is O(delta · bands)
    // plus the bucketed probe. Oracle replays the full minhash chain
    // and splits pairs by source — a stale or mis-split base index
    // fails the hash gate.
    QueryDef("dedup_delta", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val corpus = minhashIndexBase(s, d)
        .select(col("doc_id").as("corpus_id"), col("sig").as("csig"), col("bkey"))
      val delta = bandRows(minhashSigsOf(docs.filter(col("source") =!= BaseSource)))
        .select(col("doc_id").as("delta_id"), col("sig").as("dsig"), col("bkey"))
      corpus.join(delta, "bkey")
        .select(col("delta_id"), col("corpus_id"),
          expr("size(filter(zip_with(csig, dsig, (x, y) -> x = y), v -> v))")
            .cast("long").as("n_match"))
        .distinct()
        .filter(col("n_match") >= 32)
        .groupBy("delta_id")
        .agg(countDistinct(col("corpus_id")).as("n_near"),
          min(col("corpus_id")).as("nearest_id"))
        .orderBy("delta_id")
    }, Some(
      shinglesSql + minhashSql +
      """, srcs AS (SELECT doc_id, source FROM documents),
         split AS (
           SELECT CASE WHEN s1.source = 'src0' THEN id2 ELSE id1 END AS delta_id,
                  CASE WHEN s1.source = 'src0' THEN id1 ELSE id2 END AS corpus_id,
                  n_match
           FROM cand
           JOIN srcs s1 ON s1.doc_id = id1 JOIN srcs s2 ON s2.doc_id = id2
           WHERE (s1.source = 'src0') <> (s2.source = 'src0') AND n_match >= 32)
         SELECT delta_id, CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_near,
           min(corpus_id) AS nearest_id
         FROM split GROUP BY delta_id ORDER BY delta_id""".stripMargin)),

    // ---- Dedup quality evaluation as a first-class operator: before
    // trusting an approximate dedup at 100 TB, MEASURE it — candidate
    // pairs from MinHash-LSH (est >= 0.5) scored against exact-Jaccard
    // truth (J >= 0.5) on the same corpus, yielding integer
    // precision/recall ppm. One full-outer join on the pair key + one
    // aggregate (no driver-side set math, no one-row cross joins): tag
    // columns sum to the three counts in a single pass. Exact integers
    // ⇒ hash-oracled; the oracle composes the SAME shared CTE chains
    // both member queries already replay, so a drift in either pipeline
    // fails this gate too.
    QueryDef("dedup_eval", (s, d) => {
      // truth side served from the persisted shingle index (identical
      // rows, IndexedDedupSpec-proven — eval measures the PAIR SETS'
      // quality, and those are unchanged by where the postings live;
      // the oracle still replays the inline chain, so index drift
      // fails here)
      val truth = jaccardPairsFrom(shingleIndex(s, d),
          minJ = 0.5, dfCap = JaccardDfCap,
          sizesOpt = Some(shingleSizes(s, d)),
          dfOpt = Some(shingleDf(s, d)))
        .select(col("id1"), col("id2"), lit(1L).as("t"))
      // served from the persisted band index (identical rows — the
      // oracle still replays the inline chain, so index drift fails here)
      val cand = servedPairs(s, d, est = 0.5)
        .select(col("id1"), col("id2"), lit(1L).as("c"))
      truth.join(cand, Seq("id1", "id2"), "full_outer")
        .agg(sum("t").as("n_truth"), sum("c").as("n_cand"),
          sum(expr("coalesce(t, 0) * coalesce(c, 0)")).as("n_hits"))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          expr("(1000000 * n_hits) div nullif(n_cand, 0)").as("precision_ppm"),
          expr("(1000000 * n_hits) div nullif(n_truth, 0)").as("recall_ppm"))
    }, Some(
      shinglesSql + minhashSql +
      s""", dfk AS (SELECT gram FROM grams GROUP BY gram
           HAVING count(*) <= $JaccardDfCap),
         kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN dfk USING (gram)),
         sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         jpair AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
           FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS (SELECT id1, id2, 1 AS t FROM jpair
           JOIN sizes s1 ON s1.doc_id = jpair.id1
           JOIN sizes s2 ON s2.doc_id = jpair.id2
           WHERE round(CAST(inter AS DOUBLE)/(s1.n + s2.n - inter), 6) >= 0.5),
         cands AS (SELECT id1, id2, 1 AS c FROM cand WHERE n_match >= 32),
         m AS (SELECT coalesce(truth.t, 0) AS t, coalesce(cands.c, 0) AS c
           FROM truth FULL OUTER JOIN cands USING (id1, id2))
       SELECT CAST(sum(t) AS BIGINT) AS n_truth,
         CAST(sum(c) AS BIGINT) AS n_cand,
         CAST(sum(t*c) AS BIGINT) AS n_hits,
         (1000000 * CAST(sum(t*c) AS BIGINT)) // nullif(CAST(sum(c) AS BIGINT), 0) AS precision_ppm,
         (1000000 * CAST(sum(t*c) AS BIGINT)) // nullif(CAST(sum(t) AS BIGINT), 0) AS recall_ppm
       FROM m""".stripMargin)),

    // ---- Cluster the near-dup pairs into groups and pick one keeper
    // per group — the step that turns pairwise similarity into an actual
    // deduplicated corpus. Components via large-star/small-star
    // contraction on Spark (connectedComponents); the oracle recomputes
    // them as a recursive-CTE transitive closure over the same (oracled)
    // minhash pair set. DedupClusterSpec checks transitivity and a hand
    // graph besides.
    QueryDef("dedup_clusters", (s, d) => {
      // served from the persisted band index (identical rows; the
      // recursive-CTE oracle replays the inline chain)
      val pairs = servedPairs(s, d, est = 0.5)
      // at the fixpoint, comp IS each component's minimum id — it is the
      // deterministic keeper directly
      connectedComponents(pairs.select("id1", "id2"), iters = 30)
        .groupBy(col("comp").as("keep_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .filter(col("cluster_size") > 1)
        .orderBy("keep_id")
    }, Some(
      clusterClosureSql +
      """ SELECT comp AS keep_id, CAST(count(*) AS BIGINT) AS cluster_size
         FROM comps GROUP BY comp HAVING count(*) > 1 ORDER BY keep_id""")),

    // ---- SimHash: 60-bit sign-of-weighted-bit-votes fingerprint over
    // tokens (60 bits = one md5-derived portable hash word); candidates
    // via recall-complete hamming≤3 banding ([[simhashPairsFromSigs]] —
    // 4×15-bit bands small, 20×30-bit block combos past
    // [[SimComboThreshold]]); verified by bit_count(xor). Both schemes
    // are exact-recall candidate generators for hamming ≤ 3, so the
    // FINAL row set — and therefore the DuckDB oracle, which keeps the
    // 4-band shape — is identical by construction at every corpus size.
    QueryDef("dedup_simhash", (s, d) => {
      // memoized (ADVICE r13): the banding-mode choice needs n once
      // per corpus, not a full count scan per gate/bench invocation
      val nDocs = Tables.cachedCount(s, d, "documents")
      // signatures materialized once (an eager cut): the band self-join
      // otherwise re-runs the explode + 60-vote aggregate over the
      // corpus on each side (same duplicated-subtree class as
      // [[minhashPairs]])
      simhashPairsFromSigs(Truncate(simhashSigs(s, d)),
        combos = nDocs > SimComboThreshold)
    }, Some(
      s"""WITH toks AS (SELECT doc_id, $normSql AS w FROM documents),
         th AS (SELECT doc_id, ${md5LongSql("t")} AS h
           FROM (SELECT doc_id, unnest(w) AS t FROM toks) u),
         votes AS (SELECT doc_id, k,
           sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th, (SELECT unnest(range(0, 60)) AS k) ks GROUP BY 1, 2),
         sims AS (SELECT doc_id,
           CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS sim
           FROM votes GROUP BY 1),
         bands AS (SELECT doc_id, sim, bd, (sim >> (bd*15)) & 32767 AS bits
           FROM sims, (SELECT unnest(range(0, 4)) AS bd) bs),
         pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
           FROM bands a JOIN bands b
           ON a.bd = b.bd AND a.bits = b.bits AND a.doc_id < b.doc_id)
         SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3 ORDER BY id1, id2"""))
  )

  /** Docs-count threshold above which [[simhashPairsFromSigs]] switches
    * from the 4×15-bit banding to the 20×30-bit block-combination
    * scheme. 32768 = 2¹⁵ keeps the historic 4-band path's mean bucket
    * occupancy ≤ 1 per band value — every driver-gate corpus through
    * sf0.1 (5k docs) stays bit-identical in PLAN as well as output —
    * and matches the SRP family's widening point (AnnOps.bandBitsFor)
    * so the two adaptive LSH policies flip together at sf1/sf10. */
  private[llm] val SimComboThreshold = 32768L

  /** Per-doc 60-bit SimHash signatures (doc_id, sim). Explode + 60
    * codegen'd sum aggregates (higher-order array folds are interpreted
    * expressions — a flat HashAggregate with map-side partial
    * aggregation is both faster and shuffle-light: one 60-int vote row
    * per doc per task crosses the wire). md5-portable ⇒ the DuckDB
    * oracle replays the identical pipeline. */
  private[llm] def simhashSigs(s: SparkSession, d: String): DataFrame = {
    val th = Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(toks).as("t"))
      .select(col("doc_id"), md5Long(col("t")).as("h"))
    val voteCols = (0 until 60).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$k")
    }
    th.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(k =>
          when(col(s"v$k") >= 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  /** All document pairs at hamming ≤ 3 over 60-bit signatures, via one
    * of two EXACT-RECALL candidate banding schemes + bit_count(xor)
    * verification:
    *
    *  - `combos = false` — the historic 4 bands × 15 bits: 3 flipped
    *    bits leave ≥ 1 of the 4 disjoint bands untouched (pigeonhole),
    *    so every hamming≤3 pair shares a band key. Bucket occupancy is
    *    n/2¹⁵ per band value → the candidate stream is Θ(n²/2¹⁵·4) —
    *    fine to ~10⁵ docs, data-independent quadratic past that (the
    *    r12 verdict's "milder constant" cousin of the SRP finding).
    *  - `combos = true` — the block-combination scheme (Manber '94 /
    *    the Google simhash-dedup construction, Manku et al. WWW'07
    *    §3): split the 60 bits into 6 disjoint 10-bit blocks; ≤ 3
    *    flipped bits touch ≤ 3 blocks, so ≥ 3 blocks are clean and at
    *    least one of the C(6,3) = 20 block triples matches EXACTLY.
    *    Key = the triple's 30 concatenated bits → occupancy n/2³⁰:
    *    at target occupancy 128 the keys stay selective to n ≈ 1.4·10¹¹
    *    docs, for 5× the band rows. Like kmr_match
    *    (reference src/kmrmoreops.c:695-728) the join key must stay
    *    selective as n grows — this is the simhash analog of
    *    AnnOps.bandBitsFor.
    *
    * Both schemes generate a SUPERSET of the hamming≤3 pairs and the
    * final filter is the exact hamming test, so the returned row set is
    * identical — the DuckDB oracle needs no mode switch (it keeps the
    * 4-band SQL; SimhashAdaptiveSpec pins mode equality end-to-end). */
  private[llm] def simhashPairsFromSigs(sig: DataFrame, combos: Boolean): DataFrame = {
    val blk = (j: Int) => shiftright(col("sim"), j * 10).bitwiseAND(lit(1023L))
    val bandCol =
      if (!combos)
        explode(expr("transform(sequence(0, 3), b -> " +
          "struct(b AS band, (shiftright(sim, b*15) & 32767) AS bits))"))
      else explode(array(
        (0 until 6).combinations(3).toSeq.zipWithIndex.map { case (bs, i) =>
          struct(lit(i).as("band"),
            (shiftleft(blk(bs(0)), 20) + shiftleft(blk(bs(1)), 10) + blk(bs(2)))
              .as("bits"))
        }: _*))
    val bands = sig.select(col("doc_id"), col("sim"), bandCol.as("bb"))
      .select(col("doc_id"), col("sim"), col("bb.band"), col("bb.bits"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("id1", "id2")
  }

  /** Connected components of an undirected pair graph via alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round rewires
    * every node's strictly-larger neighbors to the minimum of its
    * closed neighborhood (large-star), then its smaller neighbors plus
    * itself to its minimum neighbor (small-star); the edge set
    * converges to min-centered stars in O(log² n) rounds worst-case
    * (single digits in practice) — independent of component DIAMETER.
    * A chained near-dup family (doc A ~ B ~ C ~ … thousands deep, the
    * templated-spam shape at corpus scale) converges just as fast as a
    * clique, where min-label propagation needs O(diameter) supersteps.
    * It runs on the graph superstep primitive ([[Superstep]]) over
    * adjacency blocks — every node's distinct neighbors, ascending,
    * keyed under the primitive's partitioner. A round is two gathers
    * (one shuffle each, linear in |edges|; ids only, edge text never
    * moves) and one job: the exact fixpoint test, which compares the new
    * adjacency with the old partition by partition and truncates the
    * new one. `iters` stays a SAFETY CAP, not a tuning knob: hitting it
    * before the fixpoint throws (silently returning split components
    * would make the dedup keep duplicates). */
  def connectedComponents(pairs: DataFrame, iters: Int): DataFrame = {
    // both orientations of every pair, self-pairs too: every input
    // endpoint is a node of the prepared graph, so a singleton
    // component keeps its own label
    Superstep.prepare(pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e")).select("e.*")).use { g =>
      import g.spark.implicits._
      val adj = Superstep.gather(g.edges, g.byId) { (b, emit) =>
        b.src.indices.foreach(j => if (b.src(j) != b.dst(j)) emit(b.src(j), b.dst(j)))
      }
      val stars = Superstep.iterate(adj, iters)({ adj =>
        // LARGE-STAR: each node a links its strictly-larger neighbors b
        // to m = min(N(a) ∪ {a})
        val large = Superstep.gather(adj, g.byId) { case ((a, ns), emit) =>
          ns.foreach(b => if (b > a) emit(b, math.min(ns(0), a))) }
        // SMALL-STAR: each node u links its large-star neighbors (all
        // smaller than u, ascending) and itself to their minimum; both
        // ends of every new edge hear of it
        Superstep.gather(large, g.byId) { case ((u, ls), emit) =>
          (ls :+ u).foreach(x => if (x != ls(0)) { emit(x, ls(0)); emit(ls(0), x) }) }
      }, until = Some((prev, next) =>
        // the only fixpoint of large∘small is the min-centered star set
        Superstep.zip(next, prev) { (ns, ps) =>
          val p = scala.collection.mutable.LongMap.from(ps)
          Iterator.single(ns.forall { case (a, xs) =>
            p.remove(a).exists(java.util.Arrays.equals(xs, _)) } && p.isEmpty)
        }.reduce(_ && _)))
      // at the fixpoint a leaf's one neighbor is its star's center, and a
      // center is the least of its closed neighborhood
      Truncate.over(stars) { stars =>
        Superstep.zip(g.marks, stars) { (nodes, ss) =>
          val star = scala.collection.mutable.LongMap.from(ss)
          nodes.map { case (id, _) => (id, star.get(id).fold(id)(ns => math.min(ns(0), id))) }
        }.toDF("id", "comp")
      }
    }
  }

  /** Exact n-gram Jaccard pairs with similarity ≥ `minJ` over an
    * inverted shingle index. `dfCap` is the stop-gram guard (see
    * [[JaccardDfCap]]): grams shared by more than `dfCap` documents are
    * dropped from the index BEFORE the self-join, bounding its cost at
    * O(dfCap · Σ df). Document sizes (the Jaccard denominator) always
    * use the FULL shingle set, so a capped run under-reports J only for
    * pairs whose overlap includes dropped hot grams — never inflates
    * it. Exposed for the recall spec and the stop-gram spec. */
  def jaccardPairs(docs: DataFrame, minJ: Double, dfCap: Long): DataFrame =
    // NOT materialized (r16 optimization round): the static plan shows
    // the shingle subtree 12×, but AQE's runtime exchange reuse dedupes
    // the identical self-join sides, and a same-window A/B of an eager
    // cut here measured FLAT at 32 cores and WORSE at 8
    // (2.3→2.5 min-of-5 at sf0.1) — the materialization barrier costs
    // more than the residual duplicate scans. See OPTIMIZATION_r16.md.
    // NOT restructured to sizes-riding slim posting rows (r17): three
    // same-window A/B treatments of "n1 rides each posting row map-only
    // (shingleRowsWithN1, no global distinct) + PPJoin length prefilter
    // in the self-join condition + sizes folded through the pair
    // aggregate" cut sh_read 31.7→13-18 MB (−42..59%) but ran 1.93→2.28
    // (bare), 2.30 (pinned-N gram repartition — AQE re-planned the
    // subtree and dropped it), and 2.30 (repartition + eager cut,
    // 110 tasks): this shape tokenizes ONCE into one exchange that AQE
    // reuse already fans to every consumer, so the byte cut only buys a
    // barrier job + block writes that cost ~0.35 s locally. The
    // restructure is the right 100 TB shape on bytes but fails the
    // time gate; details in OPTIMIZATION_r17.md.
    jaccardPairsFrom(shinglesOf(docs), minJ, dfCap)

  /** [[jaccardPairs]] over an explicit (doc_id, gram) frame — shared by
    * the inline path and the persisted shingle index. `sizesOpt` (r15):
    * index-served callers pass the persisted per-doc size table
    * ([[shingleSizes]], identical values) so the denominator is a
    * doc_id-bucketed lookup instead of a SECOND corpus-wide scan +
    * re-aggregation of the posting list. */
  def jaccardPairsFrom(grams: DataFrame, minJ: Double, dfCap: Long,
      sizesOpt: Option[DataFrame] = None,
      dfOpt: Option[DataFrame] = None): DataFrame =
    sharedGrams(grams, dfCap, sizesOpt, dfOpt)
      .withColumn("jaccard", jaccardOf(col("inter"), col("n1"), col("n2")))
      .filter(col("jaccard") >= minJ)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")

  /** THE Jaccard score column: |∩| / (n1 + n2 − |∩|) rounded to 6
    * places — the value every Jaccard gate and its DuckDB oracle
    * compare, so one expression keeps them in step. */
  def jaccardOf(inter: Column, n1: Column, n2: Column): Column =
    round(inter.cast("double") / (n1 + n2 - inter), 6)

  /** The df-capped posting join — the one inverted-index match kernel
    * of the dedup family (KMR's kmr_match, src/kmrmoreops.c:695-728):
    * one row per (left doc, right doc, shared `key`) whose document
    * frequency df is at most `dfCap`, with no aggregate; callers roll
    * the rows up. The cap is the O(Σ df²) guard of [[JaccardDfCap]].
    *
    *  - Self form (`right = None`): `left` (doc_id, key) joins itself
    *    under a.doc_id < b.doc_id → (id1, id2, key). df comes from `df`
    *    when given (a persisted stat table), otherwise from `left`.
    *  - Probe form (`right = Some(base)`): `left` (doc_id, key, extra
    *    columns) probes the base postings (doc_id, key) → (delta_id,
    *    extra columns, base_id, key). df counts BASE postings only —
    *    `df` is the persisted base stat table, else `base` itself — so
    *    an arriving batch never reshapes the corpus stop-list.
    *
    * The cap folds into the indexed side before the match, so when the
    * postings and the df table are bucketed on `key` the whole join is
    * bucket-co-located. */
  def postingJoin(left: DataFrame, right: Option[DataFrame], key: String,
      dfCap: Long, df: Option[DataFrame]): DataFrame = {
    val rare = df.getOrElse(right.getOrElse(left).groupBy(key).agg(count(lit(1)).as("df")))
      .filter(col("df") <= dfCap).select(key)
    right match {
      case None =>
        val kept = left.select("doc_id", key).join(rare, key)
        kept.as("a")
          .join(kept.as("b"),
            col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"), col(s"a.$key"))
      case Some(base) =>
        val extra = left.columns.filterNot(Set("doc_id", key)).map(col).toSeq
        left.withColumnRenamed("doc_id", "delta_id")
          .join(base.select(col("doc_id").as("base_id"), col(key)).join(rare, key), key)
          .select((col("delta_id") +: extra) ++ Seq(col("base_id"), col(key)): _*)
    }
  }

  /** [[postingJoin]]'s self form rolled up for [[jaccardPairsFrom]] and
    * [[containmentPairsFrom]]: (id1, id2, inter, n1, n2), `inter`
    * counting the kept grams a pair shares and n1, n2 the docs' FULL
    * shingle counts. */
  private def sharedGrams(grams: DataFrame, dfCap: Long,
      sizesOpt: Option[DataFrame], dfOpt: Option[DataFrame]): DataFrame = {
    val sizes = sizesOpt.getOrElse(
      grams.groupBy("doc_id").agg(count(lit(1)).as("n")))
    postingJoin(grams, None, "gram", dfCap, dfOpt)
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
  }

  /** Prefix-filtered exact-Jaccard pairs — the AllPairs/PPJoin family
    * (Bayardo, Ma, Srikant "Scaling Up All Pairs Similarity Search",
    * WWW'07): identical output to [[jaccardPairsFrom]] for the same
    * (threshold, dfCap), but candidate generation indexes only each
    * document's PREFIX under a global rarest-first shingle order
    * instead of its full posting list.
    *
    * Why it is lossless: order all kept shingles by (df, gram)
    * ascending. For a qualifying pair, J ≥ t with FULL-set denominators
    * n1,n2 and kept-set intersection I gives I·(1+t) ≥ t·(n1+n2)
    * ≥ t·(n1ᵏ + I) (full ≥ kept ≥ I), hence I ≥ t·n1ᵏ — so
    * I ≥ ⌈t·nᵏ⌉ =: α for BOTH docs. The smallest common shingle w in
    * the global order has at least α−1 intersection shingles after it
    * in each doc, so w sits within the first nᵏ−α+1 shingles of both —
    * both prefixes contain w and the prefix self-join finds the pair.
    *
    * Why it scales where the inverted index cannot: the posting join's
    * cost is O(Σ df²) over ALL shingles; here only prefix occurrences
    * are indexed, and the rarest-first order makes prefix shingles
    * exactly the LOW-df ones — the df² mass concentrated in
    * mid-frequency shingles (too common to be rare, too rare for the
    * stop-gram cap) never reaches the join. α is exact integer
    * arithmetic (⌈num·nᵏ/den⌉ via div), never float-ceil, so a
    * rounding-up error can't shorten a prefix and drop a true pair.
    * Verification touches only candidate pairs: per-doc kept-shingle
    * arrays (bounded by document length, never corpus size) meet in an
    * equality join and one array_intersect. The threshold is num/den
    * (3/5 at the gate = the 0.6 the oracle replays). */
  def jaccardPairsPrefix(grams: DataFrame, jNum: Int, jDen: Int,
      dfCap: Long): DataFrame = {
    require(jNum > 0 && jNum <= jDen, s"threshold $jNum/$jDen not in (0,1]")
    val minJ = jNum.toDouble / jDen
    // Shingle identity inside this operator is its 60-bit md5 prefix:
    // 8-byte longs (not ~20-char strings) are what cross every shuffle
    // and fill the per-doc arrays — the same trust the whole MinHash
    // chain already places in md5 distinctness, and PrefixJoinSpec's
    // parity against the string-exact inverted index would fail loudly
    // on a collision in any test corpus.
    val hashed = grams.select(col("doc_id"), md5Long(col("gram")).as("h"))
    val dfs = hashed.groupBy("h").agg(count(lit(1)).as("df"))
    // ONE aggregate per doc: full size for the denominator AND the
    // kept (df ≤ cap) shingles as a rarest-first sorted array —
    // collect_list drops the nulls `when` leaves on capped-out grams.
    val docs = hashed.join(dfs, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(
          when(col("df") <= dfCap, struct(col("df"), col("h"))))).as("sg"))
      .select(col("doc_id"), col("n"),
        expr("transform(sg, x -> x.h)").as("gs"),
        size(col("sg")).as("nk"))
      // NOT materialized: an eager cut here measured WORSE
      // at both 32 and 8 cores (1.9→2.4 / 2.1→2.7 min, same-window A/B
      // at sf0.1) — the barrier outweighs the duplicate-subtree cost
      // AQE's runtime exchange reuse already mitigates
    // α = ⌈jNum·nk/jDen⌉ exactly; prefix = first nk − α + 1 shingles.
    // posexplode keeps each prefix occurrence's 0-based position for
    // the PPJoin positional filter below.
    val probe = docs
      .select(col("doc_id"), col("nk"), col("n"), posexplode(expr(
        s"slice(gs, 1, cast(nk - (($jNum * nk + ${jDen - 1}) div $jDen) + 1 as int))")))
      .withColumnRenamed("col", "h")
    // PPJoin's two candidate-time prunes (both exact-integer, both
    // lossless):
    // - length filter: J ≥ t forces min(n1,n2) ≥ t·max(n1,n2), i.e.
    //   jDen·min ≥ jNum·max over the FULL sizes.
    // - positional filter: for the FIRST common shingle (at kept-array
    //   positions p1,p2) the kept intersection I ≤ min(nk1−p1, nk2−p2),
    //   and J ≥ t forces I·(jNum+jDen) ≥ jNum·(n1+n2); a true pair's
    //   first-common occurrence always passes, a false candidate whose
    //   every shared prefix occurrence fails is pruned before the
    //   verification join ever sees it.
    val cand = probe.as("a")
      .join(probe.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lit(jDen) * least(col("a.n"), col("b.n")) >=
            lit(jNum) * greatest(col("a.n"), col("b.n")) &&
          least(col("a.nk") - col("a.pos"), col("b.nk") - col("b.pos")) *
            lit(jNum + jDen) >= lit(jNum) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("id1"), col("gs").as("g1"),
        col("n").as("n1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("gs").as("g2"),
        col("n").as("n2")), "id2")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .withColumn("jaccard", jaccardOf(col("inter"), col("n1"), col("n2")))
      .filter(col("jaccard") >= minJ)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** Containment pairs: |A∩B| / min(|A|,|B|) in exact milli-units —
    * the ASYMMETRIC near-dup measure. A 100-shingle doc fully embedded
    * in a 10000-shingle doc has Jaccard ≈ 0.01 (invisible to
    * [[jaccardPairs]]) but containment 1.0 — the quote-expansion /
    * template-wrapping duplication shape Jaccard structurally misses
    * (Broder's resemblance-vs-containment distinction). Same inverted
    * index, same df cap; the score is one integer division, so the
    * gate hash needs no float at all. */
  def containmentPairs(docs: DataFrame, minMilli: Long, dfCap: Long): DataFrame =
    // not materialized — same A/B evidence as [[jaccardPairs]]; same r17
    // slim-posting restructure rejection (sh_read 29.7→20-25 MB but time
    // 2.24→2.57-2.68 across three same-window treatments)
    containmentPairsFrom(shinglesOf(docs), minMilli, dfCap)

  /** [[containmentPairs]] over an explicit (doc_id, gram) frame. */
  def containmentPairsFrom(grams: DataFrame, minMilli: Long, dfCap: Long,
      sizesOpt: Option[DataFrame] = None,
      dfOpt: Option[DataFrame] = None): DataFrame =
    sharedGrams(grams, dfCap, sizesOpt, dfOpt)
      .withColumn("c_milli", expr("(1000 * inter) div least(n1, n2)"))
      .filter(col("c_milli") >= minMilli)
      .select("id1", "id2", "n1", "n2", "c_milli")
      .orderBy("id1", "id2")

  /** Per-doc 64-long MinHash signatures. Each shingle is hashed ONCE
    * (two independent md5-portable hashes); the 64 permutations are the
    * universal family h_j = (h1 + j*h2) mod (2^31-1) — the Mersenne-prime
    * modulus decorrelates permutations and 31-bit operands keep ANSI
    * arithmetic far from overflow (63·2^31). % (not pmod) suffices:
    * md5Long is non-negative by construction. One native buffer aggregate
    * (graft.functions.MinHashAgg) instead of 64 min() columns — same
    * values bit-for-bit, one tight loop per shingle, still map-side
    * partially aggregated. */
  private[graft] def minhashSigs(s: SparkSession, d: String): DataFrame =
    minhashSigsOf(Tables.load(s, d, "documents"))

  /** [[minhashSigs]] over an explicit documents frame — shared by the
    * whole-corpus path, the base-split index build, and the delta
    * gate's O(delta) batch-side signature pass (r16). */
  private[graft] def minhashSigsOf(docs: DataFrame): DataFrame =
    shinglesOf(docs).select(col("doc_id"),
        (md5Long(col("gram")) % 2147483647L).as("h1"),
        (md5Long(concat(col("gram"), lit("!"))) % 2147483646L + 1).as("h2"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhashSig(col("h1"), col("h2")).as("sig"))

  /** Banded index rows (doc_id, sig, bkey): 16 bands × 4 signature
    * values, the band key flattened to ONE scalar string column
    * (`band:v1,v2,v3,v4` — injective, decimal longs are unambiguous) so
    * the persisted index can be bucketed AND sorted on it; Spark cannot
    * bucket on an array column, and a scalar key is what a bucketed
    * sort-merge self-join co-locates on with zero Exchange. */
  private[graft] def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"),
        explode(expr("transform(sequence(0, 15), b -> " +
          "struct(b AS band, slice(sig, b*4+1, 4) AS bk))")).as("bb"))
      .select(col("doc_id"), col("sig"), expr(
        "concat(bb.band, ':', array_join(transform(bb.bk, x -> cast(x AS string)), ','))")
        .as("bkey"))

  /** Freshness key of the whole-corpus index rows: the content
    * fingerprint of the two columns every document-derived build reads. */
  private[llm] def corpusFingerprint(s: SparkSession, d: String): String =
    Tables.contentFp(s, d, "documents", DocCols)

  private val DocCols = Seq("doc_id", "text")

  /** The deterministic "existing corpus" split every delta-ingest gate
    * stands in on: documents with source = BaseSource are the
    * already-ingested corpus; everything else is the arriving batch. */
  private[llm] val BaseSource = "src0"
  private val BaseScope = s"$CorpusScope where source = $BaseSource"

  private val isBase = col("source") === BaseSource

  private def baseDocs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents").filter(isBase)

  /** [[corpusFingerprint]] over the BASE split only, tagged so it can
    * never collide with a whole-corpus fingerprint — the freshness key
    * of the base-split index family below. */
  private[llm] def baseFingerprint(s: SparkSession, d: String): String =
    s"base:$BaseSource|" + Tables.contentFp(s, d, "documents", DocCols, isBase)

  // a constant (inlined), so rows declared above this line may use it
  private final val CorpusScope = "documents (doc_id, text)"

  /** One document-derived index as its whole-corpus row plus its
    * BASE-SPLIT twin (r16). The twin appends `_base` to name and table,
    * keys on [[baseFingerprint]], and runs `f` over the base documents —
    * or, for a stat table, over `parent`'s base twin. The base family is
    * what production holds at ingest time (the arriving batch is by
    * definition not yet indexed), so its df stop-lists and size tables
    * ARE the guards the delta gates read, with no O(corpus) aggregate
    * per batch. */
  private def withBase(name: String, table: String, schema: String,
      bucketCol: String, parent: Option[(IndexSpec, IndexSpec)] = None)(
      f: DataFrame => DataFrame): (IndexSpec, IndexSpec) = {
    def row(sfx: String, scope: String, fp: (SparkSession, String) => String,
        docs: (SparkSession, String) => DataFrame, from: Option[IndexSpec]) =
      IndexSpec(name + sfx, table + sfx, schema, bucketCol, IndexSpec.Buckets,
        scope, fp, (s, d) => f(from.fold(docs(s, d))(_(s, d))))
    (row("", CorpusScope, corpusFingerprint, Tables.load(_, _, "documents"),
        parent.map(_._1)),
      row("_base", BaseScope, baseFingerprint, baseDocs, parent.map(_._2)))
  }

  /** Persisted shingle inverted index — the distinct word-3-gram
    * posting list (doc_id, gram), bucketed on gram (late round 9). The
    * tokenize + explode + distinct is the corpus-dependent half of
    * dedup_jaccard/dedup_containment — at the adversarial sf1 replica
    * those queries spend 31–40 s inline, almost all of it re-deriving
    * this table. */
  val (shingleIndex, shingleIndexBase) = withBase("shingle", "shingle_idx",
    "doc_id BIGINT, gram STRING", "gram")(shinglesOf)

  /** Persisted per-gram document frequencies — the stop-list stat of
    * [[shingleIndex]] (r15): the df-cap guard needs df per gram, and
    * re-aggregating the posting list on every ingest batch is a second
    * full corpus scan per batch. Aggregated from the PERSISTED
    * gram-bucketed index, not the text: a co-located count with no
    * re-tokenize, consistent with the index by construction. */
  val (shingleDf, shingleDfBase) = withBase("shingle_df", "shingle_df",
    "gram STRING, df BIGINT", "gram", Some((shingleIndex, shingleIndexBase)))(
    _.groupBy("gram").agg(count(lit(1)).as("df")))

  /** Persisted per-doc distinct-shingle COUNTS — the Jaccard
    * denominator (r15): re-aggregating the gram-bucketed posting list by
    * doc_id is a corpus-sized Exchange on every ingest batch, exactly
    * the shuffle the O(delta) serve claim forbids; here a candidate join
    * is a bucket-co-located doc_id lookup. */
  val (shingleSizes, shingleSizesBase) = withBase("shingle_sizes",
    "shingle_sizes", "doc_id BIGINT, n BIGINT", "doc_id",
    Some((shingleIndex, shingleIndexBase)))(
    _.groupBy("doc_id").agg(count(lit(1)).as("n")))

  /** Persisted winnowing-fingerprint index — [[winnowFps]] bucketed on
    * fp (late round 9). The posexplode + per-doc-window pipeline is the
    * expensive half of dedup_substring and depends only on the corpus. */
  val (winnowIndex, winnowIndexBase) = withBase("winnow", "winnow_idx",
    "doc_id BIGINT, fp BIGINT", "fp")(winnowFps)

  /** Per-fingerprint document frequencies — the winnow family's twin of
    * [[shingleDf]]. */
  val (winnowDf, winnowDfBase) = withBase("winnow_df", "winnow_df",
    "fp BIGINT, df BIGINT", "fp", Some((winnowIndex, winnowIndexBase)))(
    _.groupBy("fp").agg(count(lit(1)).as("df")))

  /** Persisted MinHash band index (SURVEY §9's "persisted as a bucketed
    * table in production"). Signature computation (shingle → two md5
    * hashes → 64-permutation fold) is the expensive work of LSH dedup;
    * persisting the banded signatures bucketed+sorted on the band key
    * computes them once per corpus, and every candidate join is
    * bucket-co-located — ZERO Exchange, zero Sort (IndexedDedupSpec pins
    * the plan). The base twin is the table a production ingest probes
    * for near-dups; the delta gate computes only the batch's own
    * signatures. */
  val (minhashIndex, minhashIndexBase) = withBase("minhash", "minhash_idx",
    "doc_id BIGINT, sig ARRAY<BIGINT>, bkey STRING", "bkey")(
    docs => bandRows(minhashSigsOf(docs)))

  /** DISTINCT content hashes of the BASE corpus — the exact-dedup
    * membership set dedup_incremental anti-joins each arriving shard
    * against (r16), instead of re-hashing the base split per ingest. */
  val contentHashesBase: IndexSpec = IndexSpec("content_h_base",
    "content_h_base", "h STRING", "h", IndexSpec.Buckets, BaseScope,
    baseFingerprint,
    (s, d) => baseDocs(s, d).select(TextNorm.contentHash.as("h")).distinct())

  /** DISTINCT paragraph-chunk hashes of the BASE corpus — the
    * membership set dedup_paragraph_delta and the streaming
    * [[graft.streaming.StreamOps]].chunkProbeFor probe with a
    * bucket-co-located h-equality join (r16), instead of a per-batch
    * `chunkIndex ⋈ src0 → DISTINCT h` aggregate. */
  val chunkHashesBase: IndexSpec = IndexSpec("chunk_h_base", "chunk_h_base",
    "h BIGINT", "h", IndexSpec.Buckets, BaseScope, baseFingerprint,
    (s, d) => paragraphChunks(baseDocs(s, d)).select("h").distinct())

  /** Candidate pairs served FROM the persisted index — same semantics as
    * [[minhashPairs]] (the scalar bkey join is injective in (band, bk)),
    * but the signature pipeline is gone from the per-query plan and the
    * self-join is bucket-co-located. hint("merge") pins the sort-merge
    * join so the bucketed layout is what actually runs even at gate
    * scales where the planner would broadcast one side. */
  def indexedPairs(idx: DataFrame, est: Double): DataFrame = {
    val minMatch = math.ceil(est * 64).toLong
    idx.as("a").hint("merge")
      .join(idx.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_match"))
      .distinct()
      .filter(col("n_match") >= minMatch)
      .orderBy("id1", "id2")
  }

  /** [[minhashPairs]] SERVED from the persisted band index — identical
    * rows (IndexedDedupSpec proves set-equality; the shared oracle
    * proves it per-gate), but the signature pipeline is paid once per
    * corpus instead of once per consumer. The cluster family
    * (dedup_clusters / dedup_keep_best / dedup_eval) consumes this;
    * dedup_minhash stays on the inline path BY DESIGN so one gate
    * always exercises the from-scratch pipeline the index builds with. */
  def servedPairs(s: SparkSession, d: String, est: Double): DataFrame =
    indexedPairs(minhashIndex(s, d), est)

  /** MinHash-LSH candidate pairs whose signatures agree on at least
    * ceil(est·64) positions (estimated Jaccard ≥ `est`). Exposed for the
    * recall spec. */
  def minhashPairs(s: SparkSession, d: String, est: Double): DataFrame = {
    // sig NOT materialized — AQE reuses the identical self-join-side
    // exchanges at runtime; an eager cut A/B'd flat at both
    // 8 and 32 cores (OPTIMIZATION_r16.md)
    val sig = minhashSigs(s, d)
    // band key = the 4 signature values themselves (array equality join):
    // hashing them again would only re-bucket exact-equal keys, and the
    // raw key is what the oracle can reproduce portably.
    // r17 (guide §2.3 / §8 "shuffle keys, not payloads"): the band rows
    // crossing the self-join Exchange carry ONLY (doc_id, band, bk) —
    // previously each of the 16 band rows per doc also dragged the full
    // 64-long signature (~540 B/row) through the shuffle just so n_match
    // could be computed inline. Candidates are decided on the slim rows,
    // de-duplicated, and the two signatures are attached ONCE per
    // surviving pair by doc-keyed joins. n_match is a function of the
    // pair, so distinct-before == distinct-after: identical output.
    val bands = sig.select(col("doc_id"),
        explode(expr("transform(sequence(0, 15), b -> " +
          "struct(b AS band, slice(sig, b*4+1, 4) AS bk))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bk"))
    val minMatch = math.ceil(est * 64).toLong
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("id1"), col("sig").as("s1")), "id1")
      .join(sig.select(col("doc_id").as("id2"), col("sig").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        expr("size(filter(zip_with(s1, s2, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_match"))
      .filter(col("n_match") >= minMatch)
      .orderBy("id1", "id2")
  }
}
