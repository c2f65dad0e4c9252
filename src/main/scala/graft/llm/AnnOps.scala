package graft.llm

import graft.{Memo, QueryDef, Tables}
import graft.sources.IndexSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * - ann_cosine_topk — brute-force exact top-k: the query set is tiny and
  *   broadcast; the big side is scanned once, scored with codegen'd
  *   higher-order array expressions (no UDF), and reduced per query by a
  *   per-query window (parallel across queries). At 100 TB of vectors
  *   this is the one-full-scan baseline every ANN variant is measured
  *   against.
  * - ann_ivf_topk — the scale path: an IVF-style coarse quantizer
  *   assigns every vector to its nearest centroid ONCE (O(nK) scan,
  *   shuffle on centroid id); queries probe only their nprobe nearest
  *   buckets, so the per-query work drops from O(n) to O(n·nprobe/K).
  *   Centroids are Lloyd-refined ([[quantizer]]) with K = ⌈√n⌉ —
  *   cells average √n members, the constant-cell-size regime the
  *   SemDeDup paper (Abbas et al. 2023) runs at production scale —
  *   and the whole iterative training is DECIMAL-exact, so every
  *   downstream gate still hash-compares against an unrolled DuckDB
  *   replay. LlmSpec asserts recall vs the exact baseline.
  */
object AnnOps {

  private val MinK = 16 // IVF centroid floor (K = max(MinK, ⌈√n⌉))
  private[graft] val LloydIters = 2 // centroid refinement rounds (oracle-unrolled)
  private val TrainCap = 16384L // Lloyd trains on ≤ ~this many sampled vectors
  private val CAND = 50 // ann_rerank prefilter pool per query
  private val TOPK = 5
  private val NQUERY = 10
  private[llm] val LshBands = 8 // RP-LSH bands (rows in the banding matrix)
  private val SemDedupEps = 0.4 // semdedup near-dup cosine threshold
  private[llm] val SemCellCap = 100000L // semdedup per-cell size guard
  private[llm] val EmbBlockCap = 100000L // dedup_embedding per-label block guard
  private[llm] val BANDBITS = 8 // FLOOR bits per LSH band (see bandBitsFor)
  private[llm] val LshOcc = 128L // target mean bucket occupancy per band

  /** Per-(band, bucket) occupancy guard on the SRP-LSH self-join
    * (round-13 verdict item 1 — the last uncapped pair family).
    * [[bandBitsFor]] bounds the MEAN occupancy at ≤ [[LshOcc]], but
    * sign-random-projection buckets skew badly on anisotropic
    * embedding corpora (a dominant direction concentrates a constant
    * fraction of vectors into few sign patterns), and AQE's skew split
    * cannot help a single hot KEY in a self-join. An over-cap
    * (band, bk) bucket is dropped WHOLE — the EmbBlockCap /
    * SemCellCap / FuzzyBlockCap convention — bounding any one bucket's
    * contribution to the candidate stream at C(cap, 2) ≈ 33.5M pairs
    * (24 B each — streams through one task). Recall loss is acceptable
    * by construction: a bucket that hot carries no selectivity (its
    * members agree on nb sign bits mostly by mass, not similarity),
    * and the other LshBands−1 bands still vote for every genuine
    * near-dup pair. Dormant at every gate SF (FuzzyBlockCap
    * discipline — measured max occupancy via tools/lsh_candidates.py:
    * 11 / 11 / 34 / 340 / 1000 at sf0.001/0.01/0.1/1/10, an 8×
    * margin at sf10; BASELINE.md round-14 skew table), proven firing
    * by CapFiringSpec's planted hot direction. The gate oracle
    * replays the identical occupancy filter. Reference anchor:
    * kmr_shuffle_leveling_pair_count (src/kmrmoreops.c:1047-1122)
    * exists precisely because equal keys must not overwhelm one
    * worker. */
  private[llm] val LshBucketCap = 8192L

  /** Bits per SRP band SCALE WITH THE CORPUS (round-12 verdict item 1):
    * a fixed B-bit band has only 2^B bucket values, so bucket occupancy
    * grows linearly with n and the intra-bucket candidate stream is
    * Θ(n²/2^B) regardless of similarity structure — the same
    * data-independent quadratic the reference's `kmr_match` equality
    * kernel (src/kmrmoreops.c:695-728) avoids by keeping its key
    * selective. Policy (mirroring kFor's K = ⌈√n⌉): bits =
    * max(8, ⌈log₂⌈n / LshOcc⌉⌉), so mean bucket occupancy per band stays
    * ≤ LshOcc and the candidate stream is O(n · LshOcc · bands) — LINEAR
    * in the corpus. NPLANES = LshBands × bits; planes stay md5-derived
    * BY INDEX, so widening only appends planes and the DuckDB oracle
    * replays the whole pipeline from its own count(*). Below
    * n ≤ LshOcc·2^8 = 32768 this is exactly the historic 8/8 split —
    * every gate corpus through sf1 (20k vectors) is bit-identical to
    * rounds ≤ 12; sf10 (200k) gets 11-bit bands. The ceil-log2 is EXACT
    * INTEGER math (numberOfLeadingZeros here, length(bin(m-1)) in the
    * oracle — BitWidthSpec pins the two formulas equal), deliberately
    * avoiding float log2 whose ulp at power-of-two boundaries could
    * diverge between JVM and DuckDB. */
  private[llm] def bandBitsFor(n: Long): Int = {
    val m = (math.max(n, 1L) + LshOcc - 1) / LshOcc
    val c = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(BANDBITS, c)
  }

  /** K grows with the corpus so cells stay ≈ √n: the intra-cell pair
    * join is O(Σ cell²) ≈ O(n^1.5) instead of O(n²/const), and the
    * centroid table stays a bounded O(√n · dim) driver/broadcast carry
    * (≈ 16 MB at 10⁹ vectors × 64 dims). */
  private def kFor(n: Long): Int =
    math.max(MinK, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Probe a constant FRACTION of the cells (K/4, floor 4) — per-query
    * candidate work stays ≈ n/4 regardless of corpus size. */
  private def nprobeFor(k: Int): Int = math.max(4, k / 4)

  /** Native codegen'd dot product (graft.functions.DotProductD): one
    * tight primitive loop, ascending-index accumulation — bit-identical
    * to a sequential fold and to DuckDB's list_dot_product. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProductD.dotD(a, b)

  /** (vec_id, e: array<double>, nrm) with deterministic double math. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    val e = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    Tables.load(s, d, "embeddings")
      .select(col("vec_id"), e.as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
  }

  /** Cosine with an undefined-for-zero-norm guard: a zero (or null)
    * vector has no direction, so its similarity is NULL — filtered by
    * every >= threshold and ranked last — instead of an ANSI
    * DIVIDE_BY_ZERO that kills the job (HostileEmbeddingsSpec pins
    * this). Oracles mirror with nullif on the denominator. */
  private def cosCol(q: String, v: String, qn: String, vn: String): Column = {
    val den = col(qn) * col(vn)
    when(den === 0, lit(null)).otherwise(dot(col(q), col(v)) / den)
  }

  /** Shared DuckDB CTE prefix replaying the Lloyd-refined IVF build
    * bit-for-bit (see [[quantizer]]/[[ivfAssign]]): vn (normed
    * vectors) → kk (K = max($MinK, ⌈√n⌉)) → c0 (first-K init) → per-
    * iteration cosine-argmax assignment + DECIMAL(28,12) component
    * means (keep-previous for empty cells) → `cents` (final
    * centroids) → `assigned` (final assignment). Like the
    * kmeans_clusters oracle it assumes well-formed fixed-dim vectors;
    * the engine's hostile-input branches never fire on such input. */
  private def ivfCtes: String = {
    def assign(out: String, cin: String, src: String) =
      s"""$out AS (
          SELECT a.vec_id AS vec_id,
            (min(struct_pack(nc := -coalesce(
               list_dot_product(c.ce, a.e)/nullif(c.cnrm*a.nrm, 0),
               CAST('-infinity' AS DOUBLE)), cid := c.cid))).cid AS cid
          FROM $src a, $cin c GROUP BY a.vec_id)"""
    // Training (init, assignment rounds, mean updates) runs over the
    // deterministic `tr` stride sample; K and the FINAL assignment use
    // the full corpus — mirroring quantizer exactly.
    val iters = (1 to LloydIters).map { i =>
      // The mean update pads MISSING positions exactly like the Lloyd
      // kernel, Iterative.lloyd (ADVICE r11): a component null for every
      // member of a cell (a try_cast'd NaN) keeps the previous centroid
      // coordinate, and the centroid dim is max(prev dim, highest
      // observed pos + 1) with past-prev positions zero-filled — a bare
      // list(m ORDER BY pos) would silently emit a SHORTER,
      // position-shifted centroid and surface as a confusing hash
      // mismatch instead. On well-formed vectors (every gate corpus) g/u
      // reduce to the plain per-position means.
      s"""${assign(s"a$i", s"c${i - 1}", "tr")},
         s$i AS (
           SELECT t.cid, generate_subscripts(v.e, 1) - 1 AS pos,
             TRY_CAST(unnest(v.e) AS DECIMAL(28,12)) AS q
           FROM a$i t JOIN tr v USING (vec_id)),
         m$i AS (
           SELECT cid, pos, CAST(sum(q) AS DOUBLE) / count(q) AS m
           FROM s$i GROUP BY cid, pos HAVING count(q) > 0),
         g$i AS (
           SELECT c.cid, c.ce AS pce,
             unnest(range(0, greatest(len(c.ce), d.mx + 1))) AS p
           FROM c${i - 1} c
           JOIN (SELECT cid, max(pos) AS mx FROM m$i GROUP BY cid) d USING (cid)),
         u$i AS (
           SELECT g.cid, list(coalesce(m.m, g.pce[g.p + 1], 0.0) ORDER BY g.p) AS ce
           FROM g$i g LEFT JOIN m$i m ON m.cid = g.cid AND m.pos = g.p
           GROUP BY g.cid),
         c$i AS (
           SELECT c.cid, coalesce(u.ce, c.ce) AS ce,
             sqrt(list_dot_product(coalesce(u.ce, c.ce), coalesce(u.ce, c.ce))) AS cnrm
           FROM c${i - 1} c LEFT JOIN u$i u USING (cid))"""
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
       mm AS (SELECT greatest(1, count(*) // $TrainCap) AS m FROM vn),
       tr AS (SELECT * FROM vn WHERE vec_id % (SELECT m FROM mm) = 0),
       kk AS (SELECT greatest($MinK, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k FROM vn),
       c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM tr
              QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       $iters,
       cents AS (SELECT cid, ce, cnrm FROM c$LloydIters),
       ${assign("fin", "cents", "vn")},
       assigned AS (SELECT f.vec_id, v.e, v.nrm, f.cid
                    FROM fin f JOIN vn v USING (vec_id))"""
  }

  /** Shared DuckDB oracle for ann_ivf_topk AND ann_ivf_indexed — both
    * must produce the identical ranking whether the assignment is inline
    * or served from the persisted index. */
  private def ivfOracle: String =
    s"""WITH $ivfCtes,
        q AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM vn WHERE vec_id < $NQUERY),
        np AS (SELECT greatest(4, count(*) // 4) AS np FROM cents),
        probes AS (
          SELECT qid, qe, qnrm, cid FROM (
            SELECT q.qid, q.qe, q.qnrm, c.cid,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY list_dot_product(c.ce, q.qe)/nullif(c.cnrm*q.qnrm, 0) DESC, c.cid) AS prk
            FROM q, cents c) t WHERE prk <= (SELECT np FROM np)),
        cand AS (
          SELECT p.qid, a.vec_id, list_dot_product(p.qe, a.e)/nullif(p.qnrm*a.nrm, 0) AS cos
          FROM assigned a JOIN probes p ON a.cid = p.cid
          WHERE a.vec_id <> p.qid),
        ranked AS (SELECT qid, vec_id, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM cand)
        SELECT qid, vec_id, round(cos, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= $TOPK ORDER BY qid, rk"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef("ann_cosine_topk", (s, d) => bruteForceTopk(s, d), Some(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < $NQUERY),
          scored AS (
            SELECT qid, vec_id,
              list_dot_product(qe, e) /
                nullif(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)), 0) AS cos
            FROM q, v WHERE qid <> vec_id),
          ranked AS (
            SELECT qid, vec_id, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
            FROM scored)
          SELECT qid, vec_id, round(cos, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
          FROM ranked WHERE rk <= $TOPK ORDER BY qid, rk""")),

    // Deterministic end-to-end (centroid stub = first K vectors; every
    // float op is a sequential-order dot/product both engines share), so
    // the whole IVF pipeline — assignment, probe, bucket join, re-rank —
    // is DuckDB-oracled, not just rows-checked.
    QueryDef("ann_ivf_topk", (s, d) => ivfTopk(s, d), Some(ivfOracle)),

    // ---- The SAME IVF search served from the PERSISTED index
    // ([[ivfIndex]]): centroids + assignment written once per corpus,
    // every query thereafter reads only the two index tables — the
    // O(nK) assignment scan is gone from the per-query plan
    // (IvfIndexSpec pins that). Identical output, shared oracle, so a
    // stale or torn index fails the hash gate loudly.
    QueryDef("ann_ivf_indexed", (s, d) => ivfTopkIndexed(s, d), Some(ivfOracle)),

    // ---- Int8 symmetric quantization of the embedding column — the
    // compression step a 100 TB vector store runs before ANN (4× smaller
    // vectors, SIMD-friendly int dot products downstream). Map-only scan:
    // per-vector scale = max |x|, q_i = round(x_i·127/scale). The gate
    // checks scale and the exact integer L1 mass of each quantized
    // vector; every float op is per-row and order-fixed, so DuckDB
    // replays it bit-for-bit.
    QueryDef("embed_quantize", (s, d) => {
      val v = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      v.select(col("vec_id"), col("e"),
          expr("aggregate(e, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))").as("scale"))
        .filter(col("scale") > 0)
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          // coalesce inside the fold: a NaN component (null after
          // try_cast) contributes 0, matching DuckDB's null-skipping
          // list_sum — a null-propagating fold would diverge on exactly
          // the corrupt inputs the try_cast tolerates
          expr("CAST(aggregate(transform(e, x -> abs(try_cast(round((x*127)/scale, 0) AS BIGINT))), " +
            "CAST(0 AS BIGINT), (a, b) -> a + coalesce(b, CAST(0 AS BIGINT))) AS BIGINT)").as("l1_q"))
        .orderBy("vec_id")
    }, Some(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v)
         SELECT vec_id, round(scale, 6) AS scale_r,
           CAST(coalesce(list_sum(list_transform(e, x -> abs(TRY_CAST(round((x*127)/scale, 0) AS BIGINT)))), 0) AS BIGINT) AS l1_q
         FROM sc WHERE scale > 0 ORDER BY vec_id""")),

    // ---- Per-label embedding centroids in EXACT integer micro-units:
    // the mean-pool / class-prototype primitive (label prototypes,
    // cluster summaries, distillation targets). Components quantize to
    // BIGINT micro-units BEFORE the shuffle (float→double is exact and
    // round() is engine-portable — the embed_quantize precedent), so
    // the per-(label, dim) sums are order-independent integers: the
    // same trick that made kmeans/matmul oracle-able. posexplode fans
    // each vector into 64 (label, dim, q) rows that partial-aggregate
    // map-side; only O(labels × dims) partials cross the wire. The mean
    // divides with TRUNCATION toward zero on both engines: Spark's
    // `div` truncates, and so does DuckDB's integer `//` (measured here
    // on the negative sums — a floor-division assumption was off by one
    // on every negative mean).
    QueryDef("label_centroids", (s, d) => {
      Tables.load(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos").cast("long").as("dim"),
          expr("try_cast(round(CAST(col AS DOUBLE) * 1000000, 0) AS BIGINT)").as("q"))
        .groupBy("label", "dim")
        .agg(count(col("q")).as("n_vecs"), sum("q").as("sum_micro"))
        .select(col("label"), col("dim"), col("n_vecs"), col("sum_micro"),
          expr("sum_micro div n_vecs").as("mean_micro"))
        .orderBy("label", "dim")
    }, Some(
      // generate_subscripts tracks the REAL per-row array length exactly
      // like posexplode — a hardcoded range(0, 64) would silently desync
      // on short/ragged vectors or a dims change (and divide by zero on
      // the phantom rows).
      "WITH x AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, " +
      "TRY_CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS q " +
      "FROM embeddings) " +
      "SELECT label, CAST(dim AS BIGINT) AS dim, count(q) AS n_vecs, " +
      "CAST(sum(q) AS BIGINT) AS sum_micro, " +
      "CAST(sum(q) AS BIGINT) // count(q) AS mean_micro " +
      "FROM x GROUP BY label, dim ORDER BY label, dim")),

    // ---- Embedding-cosine near-dup with metadata BLOCKING: candidate
    // pairs come from an equality self-join on the blocking key (label),
    // so the quadratic cost is per-block, not corpus-wide — the classic
    // scalable dedup-blocking pattern. [[EmbBlockCap]] drops an over-cap
    // label block WHOLE (a monolingual crawl where one label holds most
    // of the corpus would otherwise be O(block²) ≈ O(n²) — the same
    // degenerate-block guard as SemCellCap/FuzzyBlockCap; CapFiringSpec
    // proves the capped semantics). For corpora without a usable
    // blocking key, ann_ivf_topk's bucketing is the candidate generator.
    QueryDef("dedup_embedding", (s, d) => {
      val v = vecs(s, d).join(
        Tables.load(s, d, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      embeddingPairsOn(v, EmbBlockCap)
    }, Some(
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         ok AS (SELECT label FROM v GROUP BY label HAVING count(*) <= $EmbBlockCap),
         pairs AS (
           SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.e, b.e) /
               nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0) AS cos
           FROM v a JOIN ok USING (label) JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT CAST(label AS BIGINT) AS label, id1, id2, round(cos, 6) AS cos_sim
         FROM pairs WHERE cos >= 0.4 ORDER BY id1, id2""")),

    // ---- Embedding near-dup WITHOUT a blocking key: sign-random-
    // projection LSH (SRP / "SimHash for vectors"). 8 bands of
    // bandBitsFor(n) md5-derived sign bits each (8×8 up to 32k
    // vectors — the historic shape — widening with the corpus so
    // bucket occupancy stays ≤ LshOcc and the candidate stream is
    // LINEAR in n, not Θ(n²/2⁸)); candidates come from an equality
    // self-join on (band, bucket) — the same banding shape as
    // dedup_minhash — and the DISTINCT candidate pairs are re-ranked
    // by exact cosine. Scale shape: only (vec_id, band, bucket)
    // signatures shuffle (9 longs/vector, map-side partials collapse
    // the bit-rows per vector before the wire); full vectors re-join
    // BY ID for the surviving pairs only. The O(bands·bits)-row plane
    // table is the one deliberate broadcast. Plane components are
    // integers in [-1000, 1000] derived from md5, and the plane dot
    // rides the same ascending-index fold as every cosine here, so
    // DuckDB replays the whole pipeline — bit-width choice, buckets,
    // candidates, re-rank — bit-for-bit from its own count(*).
    QueryDef("dedup_embedding_lsh", (s, d) => {
      val v = vecs(s, d)
      val n = embCount(s, d)
      val cand = lshCandidates(s, v, bandBitsFor(n), n = n)
      val va = v.select(col("vec_id").as("id1"), col("e").as("e1"), col("nrm").as("n1"))
      val vb = v.select(col("vec_id").as("id2"), col("e").as("e2"), col("nrm").as("n2"))
      // The re-rank joins BROADCAST the vector table (O(n) rows): with
      // default SMJ the second join sorts the candidate stream WITH e1
      // attached — at sf10 that is ~600M pairs × 520 B ≈ 320 GB of sort
      // spill (measured: ENOSPC) — whereas broadcast-hash lets the wide
      // pair stream pipeline through both lookups and the cosine filter
      // in one stage with zero sorts. Valid only while the vector table
      // fits an executor; beyond broadcastable n the production variant
      // is `dedup_embedding_lsh_indexed` below — identical output,
      // shared oracle.
      cand.join(broadcast(va), "id1").join(broadcast(vb), "id2")
        .withColumn("cos", cosCol("e1", "e2", "n1", "n2"))
        .filter(col("cos") >= 0.4)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("id1", "id2")
    }, Some(lshOracle)),

    // ---- The 100 TB form of the SRP-LSH re-rank (round-11 verdict
    // item 1b): reads ONLY the PERSISTED vec_id-bucketed vector store
    // ([[vecStore]]) — no corpus scan, NO broadcast of the O(n) vector
    // table — and scores INSIDE the (band, bucket) join stage, then
    // deduplicates the slim scored stream (score-then-dedupe). Probing
    // a candidate PAIR list by id — the first cut of this query — is
    // not the scale shape: with B-bit bands the candidate stream is
    // O(n²/2^B) pairs, and any by-id attach of the second vector sorts
    // or shuffles that stream WITH a vector payload (~600M pairs ×
    // 520 B ≈ 320 GB at sf10 — measured ENOSPC, the same failure the
    // broadcast twin documents for SMJ). Here the vectors ride the
    // band rows instead (8 rows/vector, one bucket-co-located vec_id
    // join against the store — THE bucketing payoff), the cosine is
    // computed and thresholded in-stage, and only the surviving
    // (id1, id2, cos) triples — 24 B each, cos functionally pair-
    // determined — reach the DISTINCT. Identical output to
    // dedup_embedding_lsh: both hash against the same DuckDB replay.
    QueryDef("dedup_embedding_lsh_indexed", (s, d) => {
      val store = vecStore(s, d)
      // Bit width from the STORE's count — same value as the corpus
      // count (the store mirrors it, fingerprint-fresh), keeping this
      // path corpus-scan-free; a footer/metadata-only count.
      // Same occupancy cap as the inline twin, applied to the SAME
      // bucket rows BEFORE the store join (the twins stay identical) —
      // but served from the PERSISTED hot list ([[lshHot]], r15): the
      // per-query O(n·bands) occupancy census leaves the plan; the
      // normally-empty stop list broadcasts into an anti-join. The
      // n ≤ cap skip stays (a band holds only n rows, so the filter is
      // a provable no-op — small corpora pay zero; CapFiringSpec's
      // planted direction exercises the served arm).
      val nStore = store.count()
      val bucketRows = lshBuckets(s, store, bandBitsFor(nStore))
      val withVec =
        (if (nStore <= LshBucketCap) bucketRows
         else cappedByHot(bucketRows, lshHot(s, d)))
        .join(store, "vec_id")
      val a = withVec.select(col("vec_id").as("id1"), col("band"), col("bk"),
        col("e").as("e1"), col("nrm").as("n1"))
      val b = withVec.select(col("vec_id").as("id2"), col("band"), col("bk"),
        col("e").as("e2"), col("nrm").as("n2"))
      a.join(b, Seq("band", "bk"))
        .filter(col("id1") < col("id2"))
        .withColumn("cos", cosCol("e1", "e2", "n1", "n2"))
        .filter(col("cos") >= 0.4)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos_sim"))
        .distinct()
        .orderBy("id1", "id2")
    }, Some(lshOracle)),

    // ---- Steady-state embedding ingest for the SRP-LSH family (r14):
    // the delta shape every sibling dedup family already has (minhash
    // dedup_delta, paragraph delta, semdedup_delta). "Newly arriving"
    // vectors (the vec_id % 8 == 7 shard — the deterministic stand-in
    // for an ingest batch) probe the PERSISTED band index
    // ([[lshIndex]]) for near-dups against the EXISTING corpus:
    // per-ingest cost is O(delta · bands · occupancy) — the delta
    // vectors' 8 band keys equality-join the bk-bucketed index
    // (delta-vs-delta pairs excluded: in-batch dups are the pair
    // family's job once the batch lands), the surviving candidate ids
    // probe the vec_id-bucketed [[vecStore]] for the exact-cosine
    // re-rank, and the per-delta aggregate is the semdedup_delta
    // argmax (highest cosine, ties → lowest id; map-side partials).
    // No corpus scan, no signature recompute, and the SAME
    // [[LshBucketCap]] occupancy guard on the base side (census over
    // the base rows; skipped provably when n ≤ cap) — a hot ingest
    // key cannot go quadratic either. DuckDB replays buckets, the
    // cap, the probe, and the argmax exactly.
    QueryDef("dedup_embedding_lsh_delta", (s, d) => {
      val bands = lshIndex(s, d)
      val n = embCount(s, d)
      val base = cappedLshBuckets(
        bands.filter(col("vec_id") % 8 =!= 7), LshBucketCap, n)
      val delta = bands.filter(col("vec_id") % 8 === 7)
        .select(col("vec_id").as("delta_id"), col("band"), col("bk"))
      val cand = delta
        .join(base.select(col("vec_id").as("base_id"), col("band"), col("bk")),
          Seq("band", "bk"))
        .select("delta_id", "base_id").distinct()
      val store = vecStore(s, d)
      nearDups(cand
        .join(store.select(col("vec_id").as("delta_id"), col("e").as("de"),
          col("nrm").as("dn")), "delta_id")
        .join(store.select(col("vec_id").as("base_id"), col("e").as("be"),
          col("nrm").as("bn")), "base_id"), 0.4)
    }, Some(
      s"""WITH $lshBucketsSql,
          base AS (SELECT vec_id, band, bk FROM (
              SELECT vec_id, band, bk,
                count(*) OVER (PARTITION BY band, bk) AS occ
              FROM buckets0 WHERE vec_id % 8 <> 7) t
            WHERE occ <= $LshBucketCap),
          delta AS (SELECT vec_id AS delta_id, band, bk
            FROM buckets0 WHERE vec_id % 8 = 7),
          cand AS (SELECT DISTINCT delta_id, b.vec_id AS base_id
            FROM delta d JOIN base b ON d.band = b.band AND d.bk = b.bk),
          vv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
          pairs AS (SELECT delta_id, base_id,
              list_dot_product(a.e, b.e)/nullif(a.nrm*b.nrm, 0) AS cos
            FROM cand JOIN vv a ON a.vec_id = delta_id
                      JOIN vv b ON b.vec_id = base_id)
          SELECT delta_id, CAST(count(*) AS BIGINT) AS n_near,
            (min(struct_pack(nc := -cos, id := base_id))).id AS best_id,
            TRY_CAST(round(max(cos) * 1000000, 0) AS BIGINT) AS max_cos_micro
          FROM pairs WHERE cos >= 0.4
          GROUP BY delta_id ORDER BY delta_id""")),

    // ---- SRP-LSH occupancy telemetry (r14): per-band bucket census —
    // bucket count, max occupancy, row conservation, and how many
    // buckets sit OVER LshBucketCap — over the PRE-cap bucket rows.
    // This is the observability the r13 skew finding needed: a
    // production operator sizes (or re-sizes) the cap from exactly
    // this table, and n_over_cap > 0 is the loud early warning that
    // the cap is about to fire on the next corpus. O(bands) output
    // rows; the census is two hash aggregates (map-side partials —
    // only (band, bk, count) partials shuffle) over the PERSISTED
    // band index ([[lshIndex]], r15 verdict item 3): no O(n·planes)
    // signature recompute, and the telemetry describes EXACTLY the
    // table the delta ingest path probes — same rows by construction
    // (the index persists the pre-cap lshBuckets output, width-synced
    // via the fingerprint). DuckDB replays the identical pre-cap
    // census from its own count(*).
    QueryDef("lsh_bucket_stats", (s, d) => {
      val occ = lshIndex(s, d)
        .groupBy("band", "bk").agg(count(lit(1)).as("occ"))
      occ.groupBy("band")
        .agg(count(lit(1)).as("n_buckets"),
          max("occ").as("max_occ"),
          sum("occ").as("n_rows"),
          sum(when(col("occ") > LshBucketCap, 1L).otherwise(0L)).as("n_over_cap"))
        .orderBy("band")
    }, Some(
      s"""WITH $lshBucketsSql,
          occ AS (SELECT band, bk, CAST(count(*) AS BIGINT) AS occ
            FROM buckets0 GROUP BY band, bk)
          SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
            max(occ) AS max_occ, CAST(sum(occ) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN occ > $LshBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
          FROM occ GROUP BY band ORDER BY band""")),

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // dedup by k-means-cell blocking — cluster the embedding space,
    // compute pairwise cosine ONLY within each cell, and evict, for
    // every near-dup pair, the member whose cosine to its cell centroid
    // is HIGHER (the paper's keep-low-centroid-similarity rule; vec_id
    // breaks exact ties so the decision is total). Blocking reuses the
    // PERSISTED IVF index ([[ivfIndex]]): the per-query plan reads the
    // bucketed assignment table — no embeddings scan, no O(nK) assign.
    // Scale shape: the only join keys are cid (bucket-co-located); K =
    // ⌈√n⌉ Lloyd-refined cells keep the intra-cell pair cost at
    // O(n^1.5) (the paper's constant-cell-size regime — 50k clusters
    // on LAION), and [[SemCellCap]] drops a degenerate over-cap cell
    // WHOLE (CapFiringSpec proves the capped semantics). Every float
    // op is the shared ascending-index dot and the centroid training
    // is DECIMAL-exact, so DuckDB replays training, assignment,
    // centroid-similarity, pair cosine, and the eviction rule exactly.
    QueryDef("semdedup", (s, d) => semDedup(s, d), Some(
      s"""WITH $ivfCtes,
          ok AS (SELECT cid FROM assigned GROUP BY cid HAVING count(*) <= $SemCellCap),
          m AS (
            SELECT s.cid, s.vec_id, s.e, s.nrm,
              COALESCE(list_dot_product(c.ce, s.e)/nullif(c.cnrm*s.nrm, 0),
                       CAST('-infinity' AS DOUBLE)) AS ccos
            FROM assigned s JOIN ok USING (cid) JOIN cents c USING (cid)),
          pairs AS (
            SELECT a.cid, a.vec_id AS ida, b.vec_id AS idb, a.ccos AS ca, b.ccos AS cb,
              list_dot_product(a.e, b.e)/nullif(a.nrm*b.nrm, 0) AS cos
            FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id),
          ev AS (
            SELECT cid,
              CASE WHEN ca > cb OR (ca = cb AND ida > idb) THEN ida ELSE idb END AS evict_id,
              cos
            FROM pairs WHERE cos >= $SemDedupEps)
          SELECT cid, evict_id, CAST(count(*) AS BIGINT) AS n_dup_pairs,
            TRY_CAST(round(max(cos) * 1000000, 0) AS BIGINT) AS max_cos_micro
          FROM ev GROUP BY cid, evict_id ORDER BY cid, evict_id""")),

    // ---- Steady-state embedding-space ingest (the dedup_delta shape
    // for vectors, round-10 verdict item 8): "newly arriving" vectors
    // (the vec_id % 8 == 7 shard — the deterministic stand-in for an
    // ingest batch) probe the PERSISTED IVF cells for near-dups against
    // the EXISTING corpus. Per-ingest cost is O(delta · cell) — the
    // cid-equality join is bucket-co-located on the assignment index,
    // candidates come only from the delta vectors' own cells, and
    // delta-vs-delta pairs are excluded (in-batch dups are semdedup's
    // job once the batch lands) — so embedding dedup gets the same
    // O(delta) incremental path the MinHash family has. Reads ONLY the
    // index tables; every float op is the shared ascending-index dot,
    // so DuckDB replays cells, probe, cosine and the argmax exactly.
    QueryDef("semdedup_delta", (s, d) => {
      val (assigned, _) = ivfIndex(s, d)
      val delta = assigned.filter(col("vec_id") % 8 === 7)
        .select(col("cid"), col("vec_id").as("delta_id"),
          col("e").as("de"), col("nrm").as("dn"))
      val base = assigned.filter(col("vec_id") % 8 =!= 7)
        .select(col("cid"), col("vec_id").as("base_id"),
          col("e").as("be"), col("nrm").as("bn"))
      nearDups(delta.join(base, Seq("cid")), SemDedupEps)
    }, Some(
      s"""WITH $ivfCtes,
          delta AS (SELECT cid, vec_id AS delta_id, e AS de, nrm AS dn
                    FROM assigned WHERE vec_id % 8 = 7),
          base AS (SELECT cid, vec_id AS base_id, e AS be, nrm AS bn
                   FROM assigned WHERE vec_id % 8 <> 7),
          pairs AS (
            SELECT delta_id, base_id,
              list_dot_product(de, be)/nullif(dn*bn, 0) AS cos
            FROM delta JOIN base USING (cid))
          SELECT delta_id, CAST(count(*) AS BIGINT) AS n_near,
            (min(struct_pack(nc := -cos, id := base_id))).id AS best_id,
            TRY_CAST(round(max(cos) * 1000000, 0) AS BIGINT) AS max_cos_micro
          FROM pairs WHERE cos >= $SemDedupEps
          GROUP BY delta_id ORDER BY delta_id""")),

    // ---- Quantized prefilter + exact re-rank (the production two-stage
    // retrieval): stage 1 scans INT8 vectors (4× the memory bandwidth of
    // float32, SIMD-able integer dot products) and keeps the top-50
    // candidates per query by quantized inner product — an all-integer
    // score, so the candidate cut is bit-deterministic on any engine —
    // stage 2 re-ranks only those 50 with the exact float cosine. At
    // 100 TB the full-precision vectors are touched for 50 rows per
    // query instead of every row; the compressed scan is the only full
    // pass. Completes the ANN family: brute (exact baseline), IVF
    // (bucket pruning), SRP-LSH (hash blocking), quantized re-rank
    // (compressed-domain scan).
    QueryDef("ann_rerank", (s, d) => {
      val sc = vecs(s, d)
        .withColumn("scale",
          expr("aggregate(e, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
        .filter(col("scale") > 0)
        // coalesce(…, 0): a NaN component quantizes to 0 on both engines
        // (embed_quantize's convention) so integer dots never go null
        .withColumn("q", expr("transform(e, x -> " +
          "coalesce(try_cast(round((x*127)/scale, 0) AS BIGINT), CAST(0 AS BIGINT)))"))
      val qset = sc.filter(col("vec_id") < NQUERY)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qnrm"), col("q").as("qq"))
      // only (qid, vec_id, qdot) — 3 longs — enters the prefilter's
      // ranking shuffle; the float vectors rejoin AFTER the top-CAND
      // cut, by broadcast (queries) and id-equality (candidates)
      val wPre = Window.partitionBy("qid").orderBy(desc("qdot"), col("vec_id"))
      val cand = sc.select(col("vec_id"), col("q"))
        .crossJoin(broadcast(qset.select(col("qid"), col("qq"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), expr(
          "aggregate(zip_with(q, qq, (a, b) -> a*b), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("qdot"))
        .withColumn("prk", row_number().over(wPre))
        .filter(col("prk") <= CAND)
        .select("qid", "vec_id")
      topK(cand
        .join(broadcast(qset.select(col("qid"), col("qe"), col("qnrm"))), "qid")
        .join(vecs(s, d), "vec_id"))
    }, Some(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          sc0 AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          sc AS (SELECT vec_id, e,
              list_transform(e, x -> coalesce(TRY_CAST(round((x*127)/scale, 0) AS BIGINT), 0)) AS q
            FROM sc0 WHERE scale > 0),
          qset AS (SELECT vec_id AS qid, e AS qe, q AS qq FROM sc WHERE vec_id < $NQUERY),
          pre AS (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid
                ORDER BY list_dot_product(qq, q) DESC, vec_id) AS prk
            FROM qset, sc WHERE vec_id <> qid),
          cand AS (SELECT qid, vec_id FROM pre WHERE prk <= $CAND),
          rr AS (SELECT c.qid, c.vec_id,
              list_dot_product(a.e, b.e) /
                nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0) AS cos
            FROM cand c JOIN v a ON a.vec_id = c.qid JOIN v b ON b.vec_id = c.vec_id),
          ranked AS (SELECT qid, vec_id, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
            FROM rr)
          SELECT qid, vec_id, round(cos, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
          FROM ranked WHERE rk <= $TOPK ORDER BY qid, rk"""))
  )

  /** The [[TOPK]] best of scored candidates per query, as every ANN
    * gate emits them: (qid, vec_id, cos_sim, rk), ranked by the cosine
    * of (qe, qnrm) and (e, nrm), then by vec_id. */
  private def topK(cand: DataFrame): DataFrame =
    cand.withColumn("cos", cosCol("qe", "e", "qnrm", "nrm"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))).cast("long"))
      .filter(col("rk") <= TOPK)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos_sim"), col("rk"))
      .orderBy("qid", "rk")

  /** Per delta vector, its near-dups among candidate (delta, base)
    * pairs — (delta_id, de, dn) against (base_id, be, bn) — with cosine
    * ≥ `eps`: how many, the nearest EXISTING copy (highest cosine, ties
    * → lowest id: the ivfAssign argmax-by-struct trick, map-side
    * partials) and its cosine in micro units. */
  private def nearDups(pairs: DataFrame, eps: Double): DataFrame =
    pairs.withColumn("cos", cosCol("de", "be", "dn", "bn"))
      .filter(col("cos") >= eps)
      .groupBy("delta_id")
      .agg(count(lit(1)).as("n_near"),
        min(struct(negate(col("cos")), col("base_id"))).as("m"),
        expr("try_cast(round(max(cos) * 1000000, 0) AS BIGINT)").as("max_cos_micro"))
      .select(col("delta_id"), col("n_near"), col("m.base_id").as("best_id"), col("max_cos_micro"))
      .orderBy("delta_id")

  /** Exact brute-force cosine top-k for the NQUERY probe vectors. */
  def bruteForceTopk(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val q = v.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    topK(v.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid")))
  }

  /** IVF: coarse-quantize all vectors to K = ⌈√n⌉ Lloyd-refined
    * buckets, probe nprobe buckets per query, exact re-rank inside the
    * probed buckets only. Centroids come from the session cache
    * ([[trainedCents]]; round-11 item 1c) and the O(nK) assignment from
    * [[cachedAssign]] (round-12 item 3) — a warm session pays the scan
    * once; a cold one pays it once per corpus. This is the inline
    * correctness twin; the production path (ann_ivf_indexed) reads the
    * persisted assignment and pays nothing per query. */
  def ivfTopk(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val cs = trainedCents(s, d, v)
    ivfServe(cachedAssign(s, d, v, cs), centDf(s, cs), nprobeFor(cs.length))
  }

  /** Memo for the inline twin's O(nK) ASSIGNMENT (round-12 verdict
    * item 3), stamped like [[quantizers]] so it can never disagree with the
    * quantizer it derives from. The value is an O(n) DataFrame, so it
    * stays DISTRIBUTED via persist(MEMORY_AND_DISK), never a driver
    * carry, and a dropped entry is unpersisted so a many-corpus session
    * can't pin executor storage. Keyed by session as well: a persisted
    * frame serves only the session that cached it (one from a stopped
    * session fails in the next). Assignment is deterministic given the
    * centroids, so a hit is bit-identical to recomputation. The
    * PRODUCTION answer to this cost remains the persisted index
    * (ann_ivf_indexed); this memo just stops the correctness twin from
    * paying the scan per invocation on a warm session. */
  private val assigns = new Memo[(SparkSession, String), DataFrame](4,
    Memo.released[DataFrame](_.sparkSession)(_.unpersist()))

  private def cachedAssign(s: SparkSession, d: String, v: DataFrame,
      cs: Array[(Long, Array[Double])]): DataFrame =
    assigns((s, d), AlgoTag + embFingerprint(s, d))(
      ivfAssign(v, centDf(s, cs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Memo for the Lloyd-trained quantizer, stamped by [[AlgoTag]] + the
    * corpus fingerprint — the exact version the persisted IVF index
    * carries, so memo and index can never disagree about which
    * quantizer is current. Training is deterministic (DECIMAL-exact
    * sums, first-K init), so a hit is bit-identical to retraining and
    * every oracle replay still matches. */
  private val quantizers = new Memo[String, Array[(Long, Array[Double])]](8)

  private def trainedCents(s: SparkSession, d: String, v: DataFrame): Array[(Long, Array[Double])] =
    quantizers(d, AlgoTag + embFingerprint(s, d))(quantizer(v))

  /** Training-sample stride: keep every m-th vec_id so Lloyd sees
    * ≈ [[TrainCap]] vectors. Floor division, floor 1 — mirrored by the
    * oracle's `greatest(1, count(*) // cap)` exactly (LlmSpec pins the
    * boundaries; engine/oracle parity with the stride FIRING was
    * validated against DuckDB on a synthetic 40k-vector corpus). */
  private[llm] def trainStride(n: Long): Long = math.max(1L, n / TrainCap)

  /** Lloyd-refined spherical centroids (the IVF/SemDeDup coarse
    * quantizer): [[graft.algos.Iterative.lloyd]] under cosine argmax,
    * K = ⌈√n⌉ seeds (the first K vectors by id), [[LloydIters]] rounds.
    * Its decimal-exact means make the centroids, and every gate
    * downstream of them, identical across partitionings and engines;
    * [[ivfCtes]] is the unrolled DuckDB replay. Driver carry is the
    * bounded O(K·dim) centroid set per round (≈ 16 MB at 10⁹ vectors). */
  private[graft] def quantizer(v: DataFrame): Array[(Long, Array[Double])] = {
    // Train on a size-capped deterministic vec_id stride (round-11
    // verdict item 3): at 100 TB the full-corpus O(nK) training pass
    // per Lloyd round dominates the index build, and a quantizer only
    // needs a representative sample — K (and the final assignment)
    // still come from the FULL corpus. m is derived from n alone and
    // the oracle replays the same `vec_id % m = 0` stride, so trained
    // centroids stay engine-identical. Dormant (m = 1) below
    // TrainCap vectors — the stride-plan/sample_stride machinery.
    val n = v.count()
    val m = trainStride(n)
    val sample = if (m == 1L) v else v.filter(col("vec_id") % m === 0)
    graft.algos.Iterative.lloyd(sample.select(col("vec_id").as("id"), col("e")), kFor(n),
      LloydIters, graft.algos.Iterative.NegCos)._1
  }

  /** Driver-held centroids as a (cid, ce, cnrm) DataFrame; the norm
    * folds ascending on the driver — bit-identical to sqrt(dot(ce, ce))
    * and to the oracle's list_dot_product. */
  private[graft] def centDf(s: SparkSession, cs: Array[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    cs.toSeq.map { case (cid, ce) =>
      (cid, ce.toSeq, math.sqrt(ce.foldLeft(0.0)((a, x) => a + x * x)))
    }.toDF("cid", "ce", "cnrm")
  }

  /** One O(nK) assignment pass → every vector gets its nearest bucket.
    * argmax-by-struct aggregate, NOT a per-vector window: the broadcast
    * crossJoin keeps a vector's K candidate rows in one task, so the
    * map-side partial min collapses them before the shuffle — n tiny
    * rows cross the wire instead of a n×K shuffle-and-sort.
    * min(struct(-cos, cid)) == "highest cosine, then lowest cid", the
    * exact order the window variant (and the oracle) ranks by. A NULL
    * cosine (zero-norm centroid or vector) coalesces to -Infinity so it
    * ranks LAST like the oracle's DESC — a struct with a null first
    * field would otherwise sort FIRST and a degenerate centroid would
    * capture the whole corpus. */
  private[graft] def ivfAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("ccos",
        coalesce(cosCol("ce", "e", "cnrm", "nrm"), lit(Double.NegativeInfinity)))
      .groupBy("vec_id")
      .agg(first("e").as("e"), first("nrm").as("nrm"),
        min(struct(negate(col("ccos")), col("cid"))).as("m"))
      .select(col("vec_id"), col("e"), col("nrm"), col("m.cid").as("cid"))

  /** Probe + re-rank over an (already-built) assignment: each query
    * probes its NPROBE nearest centroids; candidates = vectors in probed
    * buckets (equality join on cid — bucket-shuffled, never all-pairs),
    * exact cosine re-rank. Query vectors are read FROM the assignment
    * (it carries e/nrm), so a serve-path caller touches no corpus scan. */
  private def ivfServe(assigned: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val q = assigned.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val wProbe = Window.partitionBy("qid").orderBy(desc("pcos"), col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("pcos", cosCol("ce", "qe", "cnrm", "qnrm"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("qid"), col("qe"), col("qnrm"), col("cid"))
    topK(assigned.join(probes, "cid").filter(col("vec_id") =!= col("qid")))
  }

  /** Cheap embeddings freshness fingerprint (count, id sum, total
    * element count) for the persisted IVF index — same contract as
    * Dedup's corpus fingerprint. */
  private def embFingerprint(s: SparkSession, d: String): String =
    Tables.fingerprint(s, d, "embeddings", "embeddings") {
      val r = Tables.load(s, d, "embeddings").agg(
        count(lit(1)).cast("long"),
        coalesce(sum("vec_id"), lit(0L)),
        coalesce(sum(size(col("embedding"))).cast("long"), lit(0L))).head()
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}"
    }

  /** Corpus size for the SRP bit-width choice — memoized per corpus
    * stamp (Tables.cachedCount; a production catalog supplies this for
    * free). */
  private def embCount(s: SparkSession, d: String): Long =
    Tables.cachedCount(s, d, "embeddings")

  /** SRP-LSH candidate pairs over any (vec_id, e, nrm) table:
    * LshBands × [[bandBitsFor]] md5-derived integer hyperplanes give
    * every vector that many sign bits → LshBands bands of nb bits;
    * candidates come from an equality self-join on (band, bucket) —
    * the same banding shape as dedup_minhash, with the band key kept
    * SELECTIVE as n grows (bandBitsFor). Scale shape: only
    * (vec_id, band, bucket) signatures shuffle (LshBands+1 longs per
    * vector, map-side partials collapse the bit-rows before the wire).
    * The O(bands·bits)-row plane table is the one deliberate broadcast.
    * Plane components are integers in [-1000, 1000] derived from md5,
    * and the plane dot rides the same ascending-index fold as every
    * cosine here, so DuckDB replays buckets and candidates bit-for-bit
    * — including the bit-width choice, which it re-derives from its
    * own count(*). */
  /** (vec_id, band, bk) signature rows — the front half of
    * [[lshCandidates]], also the probe key set of the score-in-bucket
    * indexed variant. `nb` = bits per band ([[bandBitsFor]] of the
    * corpus size — caller supplies it so the inline and indexed twins
    * derive it from the same count). */
  /** The SRP hyperplanes for a given bit width: (j, 64 components),
    * hyperplane j component i = md5('rp|j|i') % 2001 - 1000 — the
    * deterministic, engine-portable plane family every SRP path (batch,
    * indexed, delta, streaming literal) derives from. */
  private[llm] def planesDf(s: SparkSession, nb: Int): DataFrame =
    s.range(LshBands.toLong * nb).select(col("id").as("j"), expr(
      "transform(sequence(0, 63), i -> CAST(" +
      "CAST(conv(substring(md5(concat('rp|', CAST(id AS STRING), '|', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT)" +
      " % 2001 - 1000 AS DOUBLE))").as("p"))

  private def lshBuckets(s: SparkSession, v: DataFrame, nb: Int): DataFrame = {
    val planes = planesDf(s, nb)
    v.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("j"),
        when(dot(col("e"), col("p")) >= 0, 1L).otherwise(0L).as("bit0"))
      .select(col("vec_id"), expr(s"j div $nb").as("band"),
        expr(s"shiftleft(bit0, CAST(j % $nb AS INT))").as("bit"))
      .groupBy("vec_id", "band")
      .agg(sum("bit").as("bk"))
  }

  /** Drop over-cap (band, bk) buckets WHOLE — see [[LshBucketCap]].
    * The hot list is PROVABLY tiny (≤ n·bands/cap rows — buckets hot
    * enough to fire are rare by definition), so it broadcasts and the
    * anti-join costs nothing on the co-partitioned bucket rows; the
    * occupancy census itself is a map-side-combined count. (An
    * OK-list join — the EmbBlockCap shape — would broadcast O(n/occ)
    * rows, which does NOT stay bounded at corpus scale; anti-joining
    * the exceptional set is the 100 TB form.) */
  /** `n` (when known, ≥ 0) lets the census be SKIPPED for n ≤ cap —
    * a band holds exactly n rows total, so no (band, bk) bucket can
    * possibly exceed the cap and the filter is a provable no-op
    * (identical rows, zero plan cost). Small gate corpora take this
    * branch; the census arm is exercised from sf1 up and by
    * CapFiringSpec. */
  /** The cap as an anti-join against an ALREADY-KNOWN hot list (the
    * persisted [[lshHot]] table): identical semantics to
    * [[cappedLshBuckets]] when the list is fresh for these bucket rows,
    * with the occupancy census gone from the per-query plan. */
  private[llm] def cappedByHot(buckets: DataFrame, hot: DataFrame): DataFrame =
    buckets.join(broadcast(hot), Seq("band", "bk"), "left_anti")

  private[llm] def cappedLshBuckets(buckets: DataFrame, cap: Long,
      n: Long = -1L): DataFrame = {
    if (n >= 0 && n <= cap) return buckets
    val hot = buckets.groupBy("band", "bk").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select("band", "bk")
    buckets.join(broadcast(hot), Seq("band", "bk"), "left_anti")
  }

  /** Test bridge (LshIndexSpec): the raw bucket rows. */
  private[llm] def lshBucketsForTest(s: SparkSession, v: DataFrame,
      nb: Int): DataFrame = lshBuckets(s, v, nb)

  private[llm] def lshCandidates(s: SparkSession, v: DataFrame, nb: Int,
      bucketCap: Long = LshBucketCap, n: Long = -1L): DataFrame = {
    val buckets = cappedLshBuckets(lshBuckets(s, v, nb), bucketCap, n)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
  }

  /** Shared DuckDB replay for the SRP-LSH pipeline — both the broadcast
    * re-rank (`dedup_embedding_lsh`) and the bucketed-store re-rank
    * (`dedup_embedding_lsh_indexed`) hash-compare against this. */
  /** DuckDB replay of the UNCAPPED bucket construction (v → bit-width
    * → planes → sign bits → buckets0) — shared by [[lshOracle]] and
    * the `lsh_bucket_stats` gate, which must observe PRE-cap
    * occupancy (a stats gate that read the capped rows would hide the
    * very skew it exists to surface). */
  private def lshBucketsSql: String = {
    val md5k = (e: String) =>
      "CAST(list_sum(list_transform(range(1,16), k -> " +
      s"strpos('123456789abcdef', substr(md5($e), k, 1))::BIGINT << (4*(15-k)))) AS BIGINT)"
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        bw AS (SELECT greatest($BANDBITS, CASE
            WHEN (greatest(count(*),1) + ${LshOcc - 1})//$LshOcc <= 1 THEN 0
            ELSE length(bin((greatest(count(*),1) + ${LshOcc - 1})//$LshOcc - 1)) END) AS nb
          FROM v),
        planes AS (SELECT j, list_transform(range(0,64), i ->
          CAST(${md5k("'rp|'||j||'|'||i")} % 2001 - 1000 AS DOUBLE)) AS p
          FROM (SELECT unnest(range(0, $LshBands * nb)) AS j FROM bw) t),
        bits AS (SELECT v.vec_id, p.j,
          CASE WHEN list_dot_product(v.e, p.p) >= 0 THEN 1 ELSE 0 END AS bit
          FROM v, planes p),
        buckets0 AS (SELECT vec_id, j//bw.nb AS band,
          CAST(sum(CAST(bit AS BIGINT) << (j%bw.nb)) AS BIGINT) AS bk
          FROM bits, bw GROUP BY vec_id, j//bw.nb)"""
  }

  private def lshOracle: String = {
    s"""WITH $lshBucketsSql,
        buckets AS (SELECT vec_id, band, bk FROM (
            SELECT vec_id, band, bk,
              count(*) OVER (PARTITION BY band, bk) AS occ
            FROM buckets0) t
          WHERE occ <= $LshBucketCap),
        cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
          FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id),
        pairs AS (SELECT id1, id2,
          list_dot_product(a.e, b.e) /
            nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0) AS cos
          FROM cand JOIN v a ON a.vec_id = id1 JOIN v b ON b.vec_id = id2)
        SELECT id1, id2, round(cos, 6) AS cos_sim
        FROM pairs WHERE cos >= 0.4 ORDER BY id1, id2"""
  }

  /** The PERSISTED vector store: (vec_id, e, nrm) bucketed by vec_id —
    * the production lookup table every pair-id re-rank probes instead
    * of broadcasting the corpus (round-11 verdict item 1b). The bucketed
    * vector rows use 8, not [[IndexSpec.Buckets]]: the layout they were
    * added with, outside the sf1 join tail the 32-bucket retune
    * targeted (a change rebuilds every served copy). */
  val vecStore: IndexSpec = IndexSpec("vec_store", "vec_store",
    "vec_id BIGINT, e ARRAY<DOUBLE>, nrm DOUBLE", "vec_id", 8, "embeddings",
    (s, d) => "vecstore1|" + embFingerprint(s, d), vecs)

  /** The PERSISTED SRP band index (r14): (vec_id, band, bk) for the
    * FULL corpus, bucketed by bk — the O(delta)-probe side of the
    * steady-state ingest path (`dedup_embedding_lsh_delta`): an ingest
    * batch computes only its OWN band keys and equality-joins this
    * table. The bit width rides the fingerprint: corpus growth that
    * crosses a [[bandBitsFor]] boundary rebuilds the index rather than
    * serving stale-width buckets (which would silently miss every
    * cross-width collision). */
  val lshIndex: IndexSpec = IndexSpec("lsh_bands", "lsh_bands",
    "vec_id BIGINT, band BIGINT, bk BIGINT", "bk", 8, "embeddings, band width",
    (s, d) => s"lshband1|nb=${bandBitsFor(embCount(s, d))}|" + embFingerprint(s, d),
    (s, d) => lshBuckets(s, vecs(s, d), bandBitsFor(embCount(s, d))))

  /** Persisted over-cap (band, bk) hot list — the occupancy-cap stop
    * list of [[lshIndex]] (same fingerprint + width + cap in the key),
    * normally EMPTY (the cap is a tail guard; max measured occupancy is
    * 1000 at sf10 vs cap 8192). Serving it turns the whole-corpus capped
    * paths' per-query O(n·bands) occupancy census into a tiny-table read
    * + broadcast anti-join; the hot list is provably ≤ n·bands/cap rows,
    * so the broadcast is always safe. Unbucketed (0): it is read whole.
    * (The DELTA gate keeps its split census: its stand-in corpus is the
    * index minus the arriving batch, and base-side occupancy is not
    * derivable from the whole-corpus list.) */
  val lshHot: IndexSpec = IndexSpec("lsh_hot", "lsh_hot",
    "band BIGINT, bk BIGINT", "bk", 0, "embeddings, band width, cap",
    (s, d) => s"lshhot1|cap=$LshBucketCap|nb=${bandBitsFor(embCount(s, d))}|" +
      embFingerprint(s, d),
    (s, d) => lshIndex(s, d).groupBy("band", "bk").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > LshBucketCap)
      .select("band", "bk"))

  /** Serve-side inputs for the STREAMING SRP probe
    * (graft.streaming.StreamOps.lshProbe), packaged for both the spec
    * and the Python (py4j) surface: (capped base band rows, vec store,
    * plane literals ordered by j, bits per band). The base side uses
    * the SAME deterministic corpus split as the batch
    * `dedup_embedding_lsh_delta` gate (vec_id % 8 != 7, occupancy cap
    * over the persisted [[lshIndex]] rows), so a stream of the % 8 == 7
    * vectors is an EXACT twin of that gate's pre-aggregate pair set —
    * the replayable anchor. Production callers feed [[lshIndex]]
    * unfiltered (their arriving vectors are genuinely new). The planes
    * are a driver-held literal (LshBands · nb rows of 64 doubles —
    * ~10 KB; the [[graft.streaming.StreamOps.vectorProbe]] centroid
    * pattern) collected from the SAME Spark expression the index was
    * built with, so bits cannot drift. */
  def lshStreamInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[Seq[Double]], Int) = {
    val n = embCount(s, d)
    val nb = bandBitsFor(n)
    val base = cappedLshBuckets(
      lshIndex(s, d).filter(col("vec_id") % 8 =!= 7), LshBucketCap, n)
    val planes = planesDf(s, nb).orderBy("j")
      .collect().map(_.getSeq[Double](1)).toSeq
    (base, vecStore(s, d), planes, nb)
  }

  /** Versions the index CONTENTS, not just the corpus: a quantizer
    * change (stub→Lloyd, K policy, iteration count) must rebuild even
    * though the corpus fingerprint is unchanged, or a pre-change index
    * on disk silently serves centroids the oracle no longer replays. */
  private val AlgoTag = s"lloyd$LloydIters|sqrtK|stride$TrainCap|"

  /** The PERSISTED IVF index (round-8 verdict item 2): the centroids
    * and the vec→cid assignment, so the one-off O(nK) assignment scan
    * leaves the per-query plan. The centroid table is unbucketed (0):
    * K = ⌈√n⌉ rows, always broadcast. It shares the session-cached
    * quantizer with ann_ivf_topk — a rebuild right after the inline twin
    * trained (or vice versa) runs Lloyd once, not twice. */
  val ivfCentroids: IndexSpec = IndexSpec("ivf_cents", "ivf_cents",
    "cid BIGINT, ce ARRAY<DOUBLE>, cnrm DOUBLE", "cid", 0,
    "embeddings, quantizer", (s, d) => AlgoTag + embFingerprint(s, d),
    (s, d) => centDf(s, trainedCents(s, d, vecs(s, d))))

  /** The IVF assignment, bucketed on cid (8, as [[vecStore]]); its
    * build reads the served [[ivfCentroids]] table, so Lloyd training
    * runs once per rebuild, never once per table. */
  val ivfAssignment: IndexSpec = IndexSpec("ivf_assign", "ivf_assign",
    "vec_id BIGINT, e ARRAY<DOUBLE>, nrm DOUBLE, cid BIGINT", "cid", 8,
    "embeddings, quantizer", (s, d) => AlgoTag + embFingerprint(s, d),
    (s, d) => ivfAssign(vecs(s, d), ivfCentroids(s, d)))

  /** (assignment, centroids), centroids served first. */
  def ivfIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cents = ivfCentroids(s, d)
    (ivfAssignment(s, d), cents)
  }

  /** [[ivfTopk]] served from the persisted index — identical output
    * (shared oracle), but the per-query plan reads ONLY the two index
    * tables: no embeddings scan, no assignment crossJoin. (The
    * centroid count read here is a tiny index-table scan, not a corpus
    * scan.) */
  def ivfTopkIndexed(s: SparkSession, d: String): DataFrame = {
    val (assigned, cents) = ivfIndex(s, d)
    val k = cents.count().toInt
    ivfServe(assigned, cents.select(col("cid"), col("ce"), col("cnrm")), nprobeFor(k))
  }

  /** SemDeDup over the persisted IVF cells (see the `semdedup` gate doc).
    * Reads ONLY the index tables; the centroid side is a broadcast of K
    * rows, the pair join is an equality self-join on cid. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val (assigned, cents) = ivfIndex(s, d)
    semDedupOn(assigned, cents, SemCellCap)
  }

  /** Label-blocked cosine pairs over an arbitrary (vec_id, e, nrm,
    * label) table, with the per-block size guard explicit so
    * CapFiringSpec can prove the capped semantics on a hand-built
    * fixture. An over-cap label block is dropped WHOLE — same
    * convention as [[semDedupOn]]'s cell cap and TextOps.FuzzyBlockCap;
    * the block census is an O(labels)-row aggregate broadcast back
    * onto the blocked self-join, no extra shuffle of the members. */
  private[llm] def embeddingPairsOn(v: DataFrame, blockCap: Long): DataFrame = {
    val ok = v.groupBy("label").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= blockCap).select("label")
    val vv = v.join(broadcast(ok), Seq("label"))
    val a = vv.select(col("vec_id").as("id1"), col("e").as("qe"),
      col("nrm").as("qnrm"), col("label"))
    val b = vv.select(col("vec_id").as("id2"), col("e").as("e"),
      col("nrm").as("nrm"), col("label"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosCol("qe", "e", "qnrm", "nrm"))
      .filter(col("cos") >= 0.4)
      .select(col("label").cast("long").as("label"), col("id1"), col("id2"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("id1", "id2")
  }

  /** The SemDeDup pipeline over an arbitrary (vec_id, e, nrm, cid)
    * assignment + (cid, ce, cnrm) centroid table, with the per-cell
    * size guard explicit so CapFiringSpec can prove the capped
    * semantics on a hand-built fixture. */
  private[llm] def semDedupOn(assigned: DataFrame, cents: DataFrame,
      cellCap: Long): DataFrame = {
    // Cell-size guard (the FuzzyBlockCap convention): a degenerate cell
    // — collapsed corpus, pathological centroid — would make the intra-
    // cell pair join O(cell²); an over-cap cell is dropped WHOLE and
    // the gate oracle replays the same HAVING guard. Dormant at the
    // test SFs (cells average ≈ √n members since K = ⌈√n⌉). The size
    // census is an O(K)-row aggregate broadcast back onto the
    // bucket-co-located assignment — no extra shuffle of the members.
    val ok = assigned.groupBy("cid").agg(count(lit(1)).as("csz"))
      .filter(col("csz") <= cellCap).select("cid")
    // cosine of every member to ITS centroid — the paper's keep/evict
    // ranking; NULL (zero-norm member) coalesces to -Inf = "always keep"
    // (a direction-less vector is never the redundant copy of anything).
    val m = assigned.join(broadcast(ok), "cid").join(broadcast(cents), "cid")
      .withColumn("ccos",
        coalesce(cosCol("ce", "e", "cnrm", "nrm"), lit(Double.NegativeInfinity)))
      .select(col("cid"), col("vec_id"), col("e"), col("nrm"), col("ccos"))
    val a = m.select(col("cid"), col("vec_id").as("ida"), col("e").as("ea"),
      col("nrm").as("na"), col("ccos").as("ca"))
    val b = m.select(col("cid"), col("vec_id").as("idb"), col("e").as("eb"),
      col("nrm").as("nb"), col("ccos").as("cb"))
    val pairs = a.join(b, Seq("cid"))
      .filter(col("ida") < col("idb"))
      .withColumn("cos", cosCol("ea", "eb", "na", "nb"))
      .filter(col("cos") >= SemDedupEps)
    pairs
      .select(col("cid"),
        when(col("ca") > col("cb") ||
             (col("ca") === col("cb") && col("ida") > col("idb")),
          col("ida")).otherwise(col("idb")).as("evict_id"),
        col("cos"))
      .groupBy("cid", "evict_id")
      // GateOutputSpec discipline: the max cosine ships as BIGINT
      // micro-units (round-then-cast on an identical double both engines
      // computed with the same ascending-index fold) — no raw float
      // column ever reaches the hash gate.
      .agg(count(lit(1)).as("n_dup_pairs"),
        expr("try_cast(round(max(cos) * 1000000, 0) AS BIGINT)").as("max_cos_micro"))
      .orderBy("cid", "evict_id")
  }
}
