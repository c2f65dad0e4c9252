package graft.llm

import graft.{QueryDef, Tables}
import graft.core.Truncate
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: corpus stats,
  * language identification, quality scoring, token counting, document
  * fingerprinting. All single-pass, shuffle only on the group keys, no
  * UDFs — every expression is a codegen'd built-in, and every query has
  * a DuckDB oracle mirroring the identical logic.
  */
object TextOps {

  import TextNorm.{toks, normSql}

  /** Marker lexicons for the n-gram/stopword language-ID heuristic
    * (tiny public stopword lists; ties broken in fixed lang order). */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "le"))

  /** Block-size guard for fuzzy_pairs — see the gate entry's comment.
    * 10000 is the production setting; observed max block is 1970 (sf1
    * replica), so at every tested SF the cap provably never fires. */
  val FuzzyBlockCap = 10000L

  val defs: Seq[QueryDef] = Seq(

    // ---- Corpus distribution per (lang, source): the basic profiling
    // pass over a crawl. The mean is emitted in exact integer
    // CENTI-chars ((100·Σ) div n), not round(avg,2): a double mean
    // whose true quotient sits on a .xx5 boundary rounds differently
    // per engine (Spark's round(double) goes through
    // BigDecimal.valueOf's shortest-decimal string and HALF_UP, DuckDB
    // rounds the binary double — observed at sf1: 320.53 vs 320.52 on
    // exactly 320.525), while integer division is bit-identical at any
    // scale — the same discipline every money aggregate here follows.
    QueryDef("text_stats", (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("lang"), col("source"), col("n_chars"), size(toks).as("n_toks"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          expr("(100 * sum(n_chars)) div count(*)").as("avg_chars_centi"),
          sum(col("n_toks").cast("long")).as("total_tokens"))
        .orderBy("lang", "source")
    }, Some(
      s"SELECT lang, source, count(*) AS n_docs, " +
      s"CAST((100 * sum(n_chars)) // count(*) AS BIGINT) AS avg_chars_centi, " +
      s"CAST(sum(len($normSql)) AS BIGINT) AS total_tokens " +
      "FROM documents GROUP BY lang, source ORDER BY lang, source")),

    // ---- Distinctive terms per language: TF-IDF-shaped ranking with a
    // LOG-FREE integer score, score = tf_lang · 10⁶ · N ÷ df (integer
    // division), so both engines compute bit-identical values — libm's
    // log() is not guaranteed identical across engines, integer ops are.
    // Shuffles only on (lang, term) and term; top-5 via a window
    // PARTITIONED by lang (parallel across languages at any scale).
    QueryDef("tfidf_lang", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, d, "documents")
      val n = docs.count()
      val terms = docs.select(col("doc_id"), col("lang"), explode(toks).as("term"))
        .filter(length(col("term")) > 0)
      val tf = terms.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
      val df_ = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("lang").orderBy(desc("score_q"), col("term"))
      tf.join(df_, "term")
        .withColumn("score_q", expr(s"tf * 1000000L * ${n}L div df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("lang", "term", "tf", "df", "score_q", "rk")
        .orderBy("lang", "rk")
    }, Some(
      s"""WITH terms AS (SELECT doc_id, lang, unnest($normSql) AS term
           FROM documents),
         t AS (SELECT * FROM terms WHERE term <> ''),
         tfx AS (SELECT lang, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfx AS (SELECT term, count(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM t) u GROUP BY 1),
         nx AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT lang, tfx.term AS term, tf, df,
             tf * 1000000 * (SELECT n FROM nx) // df AS score_q
           FROM tfx JOIN dfx ON tfx.term = dfx.term),
         ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
             ORDER BY score_q DESC, term) AS BIGINT) AS rk FROM scored)
         SELECT lang, term, tf, df, CAST(score_q AS BIGINT) AS score_q, rk
         FROM ranked WHERE rk <= 5 ORDER BY lang, rk""")),

    // ---- Language ID: count marker-stopword hits per language, take the
    // argmax with a fixed tie-break order. (The synthetic corpus shares
    // one vocabulary, so predictions are uniform — the gate checks the
    // deterministic pipeline, not model accuracy.)
    QueryDef("lang_id", (s, d) => {
      var df = Tables.load(s, d, "documents").select(col("doc_id"), col("lang"), toks.as("w"))
      for ((l, ws) <- markers) {
        val set = ws.map(x => s"'$x'").mkString(",")
        df = df.withColumn(s"c_$l", expr(s"size(filter(w, t -> t IN ($set)))"))
      }
      val pred = markers.map(_._1).dropRight(1).foldRight(lit(markers.last._1)) {
        case (l, rest) =>
          val later = markers.map(_._1).dropWhile(_ != l).drop(1)
          when(later.foldLeft(lit(true)) { (c, o) => c && col(s"c_$l") >= col(s"c_$o") }, l)
            .otherwise(rest)
      }
      df.withColumn("pred_lang", pred)
        .withColumn("is_match", col("pred_lang") === col("lang"))
        .select("doc_id", "pred_lang", "is_match")
        .orderBy("doc_id")
    }, Some {
      val counts = markers.map { case (l, ws) =>
        s"len(list_filter($normSql, t -> t IN (${ws.map(x => s"'$x'").mkString(",")}))) AS c_$l"
      }.mkString(", ")
      val langs = markers.map(_._1)
      val caseExpr = langs.dropRight(1).foldRight(s"'${langs.last}'") { case (l, rest) =>
        val later = langs.dropWhile(_ != l).drop(1)
        val cond = later.map(o => s"c_$l >= c_$o").mkString(" AND ")
        s"CASE WHEN $cond THEN '$l' ELSE $rest END"
      }
      s"WITH scored AS (SELECT doc_id, lang, $counts FROM documents) " +
      s"SELECT doc_id, $caseExpr AS pred_lang, ($caseExpr = lang) AS is_match " +
      "FROM scored ORDER BY doc_id"
    }),

    // ---- Quality scoring: length/lexical-diversity heuristics per doc.
    QueryDef("text_quality", (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .select(
          col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 4).as("ttr"),
          round(expr("aggregate(w, 0L, (a, t) -> a + length(t))").cast("double") / size(col("w")), 4)
            .as("avg_word_len"))
        .withColumn("quality",
          round(least(lit(1.0), col("n_tokens") / 50.0) * col("ttr"), 4))
        .orderBy("doc_id")
    }, Some(
      s"WITH t AS (SELECT doc_id, $normSql AS w FROM documents) " +
      "SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
      "round(CAST(len(list_distinct(w)) AS DOUBLE)/len(w), 4) AS ttr, " +
      "round(CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)/len(w), 4) AS avg_word_len, " +
      "round(least(1.0, CAST(len(w) AS DOUBLE)/50.0) * round(CAST(len(list_distinct(w)) AS DOUBLE)/len(w), 4), 4) AS quality " +
      "FROM t ORDER BY doc_id")),

    // ---- Token counting: whitespace tokens + a BPE-ish regex token
    // count (letter runs / digit runs / single punctuation), aggregated
    // per source.
    QueryDef("token_count", (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("source"), size(toks).cast("long").as("ws_toks"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("re_toks"))
        .groupBy("source")
        .agg(sum("ws_toks").as("ws_tokens"), sum("re_toks").as("re_tokens"))
        .orderBy("source")
    }, Some(
      s"SELECT source, CAST(sum(len($normSql)) AS BIGINT) AS ws_tokens, " +
      "CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS re_tokens " +
      "FROM documents GROUP BY source ORDER BY source")),

    // ---- Data mixing: deterministic stratified sampling by language
    // quota (the training-mixture op). The sampling decision is a pure
    // function of doc_id (Knuth multiplicative hash mod 100 vs the
    // stratum's quota), so it is reproducible, engine-independent,
    // cluster-size-independent — and exactly mirrored in the oracle,
    // unlike rand()-based sampleBy.
    QueryDef("sample_stratified", (s, d) => {
      // reduce mod a prime BEFORE the Knuth multiplier: 1000003 * 2^31.3
      // stays far under 2^63, so ANSI mode (and DuckDB BIGINT) can never
      // overflow no matter how large doc_id grows. The bucket must be
      // NON-NEGATIVE or `bucket < quota` silently keeps 100% of
      // negative-id docs — pmod here, (x % 100 + 100) % 100 in the
      // oracle, so quota semantics AND engine parity both hold for any
      // id sign.
      val bucket = pmod(col("doc_id") % 1000003L * 2654435761L, lit(100L))
      val quota = when(col("lang") === "en", 10)
        .when(col("lang") === "de", 50)
        .when(col("lang") === "es", 30)
        .when(col("lang") === "fr", 30)
        .otherwise(80)
      Tables.load(s, d, "documents")
        .filter(bucket < quota)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }, Some(
      "SELECT lang, count(*) AS n_sampled FROM documents " +
      "WHERE (((doc_id % 1000003) * 2654435761) % 100 + 100) % 100 < CASE lang " +
      "WHEN 'en' THEN 10 WHEN 'de' THEN 50 WHEN 'es' THEN 30 " +
      "WHEN 'fr' THEN 30 ELSE 80 END " +
      "GROUP BY lang ORDER BY lang")),

    // ---- Min-wise reservoir: EXACTLY k docs per language, uniform
    // without replacement — the complement of sample_stratified's
    // rate-based sampling (which can't promise a count). Keeping the k
    // smallest md5-hashes of the id IS a uniform k-sample (min-wise
    // hashing), is deterministic on every engine, and — unlike a true
    // reservoir — needs no sequential pass: phase 1 keeps k per (lang,
    // salt) inside bounded window partitions, so no monolingual group
    // ever sorts its full corpus slice; phase 2 ranks the <= 16k
    // survivors per language. Same two-phase skeleton as topk_per_group
    // — this is how "give me 10k sample docs per language" runs on
    // 100 TB without a giant per-group sort.
    QueryDef("reservoir_sample", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 20
      val hashed = Tables.load(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          Dedup.md5Long(concat(lit("rsvp:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("salt", pmod(col("doc_id"), lit(16L)))
      val w1 = Window.partitionBy("lang", "salt").orderBy("h", "doc_id")
      val survivors = hashed
        .withColumn("rn", row_number().over(w1)).filter(col("rn") <= k).drop("rn")
      val w2 = Window.partitionBy("lang").orderBy("h", "doc_id")
      survivors
        .withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }, Some(
      "WITH h AS (SELECT lang, doc_id, " +
      Dedup.md5LongSql("'rsvp:' || doc_id") + " AS h FROM documents), " +
      "r AS (SELECT lang, doc_id, " +
      "row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM h) " +
      "SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id")),

    // ---- BM25 top-k retrieval for a 3-term query — the search-side
    // primitive of a RAG/data-curation stack. One map-only scan computes
    // per-doc term frequencies (HOF filter over the token array; text
    // never shuffles); ONE aggregate pass yields all global stats
    // (N, Σdl, per-term df via array_contains) as a single row that
    // broadcasts back (the scalar-subquery shape, whitelisted like
    // mix_weights); top-k is TakeOrderedAndProject. Scoring uses the
    // log-free rational-idf BM25 variant, idf = (N - df + ½)/(df + ½)
    // (same df-monotonicity as Robertson's log form): every op in the
    // score is IEEE +,-,*,/ in ONE fixed parenthesization, so both
    // engines produce bit-identical doubles — a log() would differ in
    // the last ulp between libm and the JVM. k1 = 1.2, b = 0.75.
    QueryDef("bm25_topk", (s, d) => {
      val terms = Seq("spark", "merge", "window")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), TextNorm.normText.as("nt"))
        .filter(col("nt").isNotNull && length(col("nt")) > 0)
        .select(col("doc_id"), split(col("nt"), " ").as("w"))
        .withColumn("dl", size(col("w")).cast("long"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"),
        sum(when(array_contains(col("w"), terms(0)), 1L).otherwise(0L)).as("df1"),
        sum(when(array_contains(col("w"), terms(1)), 1L).otherwise(0L)).as("df2"),
        sum(when(array_contains(col("w"), terms(2)), 1L).otherwise(0L)).as("df3"))
      val tf = docs.select(col("doc_id"), col("dl"),
          expr(s"cast(size(filter(w, x -> x = '${terms(0)}')) AS LONG)").as("tf1"),
          expr(s"cast(size(filter(w, x -> x = '${terms(1)}')) AS LONG)").as("tf2"),
          expr(s"cast(size(filter(w, x -> x = '${terms(2)}')) AS LONG)").as("tf3"))
        .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      def term(tfc: String, dfc: String): String = bm25Term(tfc, dfc)
      tf.crossJoin(broadcast(stats))
        .withColumn("score", expr(
          s"round(${term("tf1", "df1")} + ${term("tf2", "df2")} + ${term("tf3", "df3")}, 6)"))
        .select(col("doc_id"), col("dl"), col("tf1"), col("tf2"), col("tf3"), col("score"))
        .orderBy(desc("score"), col("doc_id")).limit(20)
    }, Some {
      val nt = TextNorm.normTextSql
      def t(tfc: String, dfc: String) = bm25Term(tfc, dfc)
      s"WITH n AS (SELECT doc_id, $nt AS nt FROM documents " +
      s"WHERE $nt IS NOT NULL AND length($nt) > 0), " +
      "d AS (SELECT doc_id, string_split(nt, ' ') AS w FROM n), " +
      "dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, " +
      "CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf1, " +
      "CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf2, " +
      "CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf3 FROM d), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, " +
      "CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1, " +
      "CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2, " +
      "CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3 FROM dd) " +
      "SELECT doc_id, dl, tf1, tf2, tf3, " +
      s"round(${t("tf1", "df1")} + ${t("tf2", "df2")} + ${t("tf3", "df3")}, 6) AS score " +
      "FROM dd, st WHERE tf1 + tf2 + tf3 > 0 " +
      "ORDER BY score DESC, doc_id LIMIT 20"
    }),

    // ---- Top-k per group, skew-proof: the naive row_number() OVER
    // (PARTITION BY lang) funnels an entire hot language through ONE
    // task — the exact shape that dies on a 100 TB monolingual-heavy
    // corpus. Two-phase instead: a deterministic salt splits each group
    // 16 ways, phase 1 takes the local top-k inside each (lang, salt)
    // slice (bounded partitions), phase 2 ranks only the <= 16k
    // survivors per lang. The result is the true global top-k (any
    // global top-k row is top-k within its slice), so the oracle is the
    // plain single-window SQL — the salt never leaks into the answer.
    QueryDef("topk_per_group", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 3
      val docs = Tables.load(s, d, "documents").select("doc_id", "lang", "n_chars")
      val salted = docs.withColumn("salt", pmod(col("doc_id"), lit(16L)))
      val w1 = Window.partitionBy("lang", "salt")
        .orderBy(desc("n_chars"), col("doc_id"))
      val local = salted
        .withColumn("rn", row_number().over(w1)).filter(col("rn") <= k)
      val w2 = Window.partitionBy("lang")
        .orderBy(desc("n_chars"), col("doc_id"))
      local.select("doc_id", "lang", "n_chars")
        .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
        .orderBy(col("lang"), col("rank"))
    }, Some(
      "SELECT doc_id, lang, n_chars, CAST(rank AS INTEGER) AS rank FROM (" +
      "SELECT doc_id, lang, n_chars, " +
      "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank " +
      "FROM documents) WHERE rank <= 3 ORDER BY lang, rank")),

    // ---- Fuzzy matching: edit-distance near-dup over BLOCKED candidate
    // pairs — blocking key = first token, so the quadratic levenshtein
    // work is per-block, never corpus-wide (same scale shape as
    // dedup_embedding's label blocking). Distance on the 32-char prefix.
    // Cost is O(Σ block²): the round-9 sf1 sweep measured block sizes
    // growing 10× (197 → 1970 docs) and elapsed 46× on the resulting
    // ~100× pair growth — sublinear in the driver, but unbounded. The
    // block cap is the dedup_jaccard stop-gram guard transplanted: a
    // block bigger than FuzzyBlockCap means the blocking key itself
    // carries no discriminative signal (a stop-word first token), and
    // at 100 TB one hot token would otherwise go quadratic. Observed
    // max block ≤ 1970 at every tested SF (incl. sf1), so the cap
    // provably never fires at test scale and the oracle (which replays
    // the same guard) stays hash-identical to the uncapped form.
    QueryDef("fuzzy_pairs", (s, d) => {
      // materialized once (an eager cut): the block-cap aggregate and
      // BOTH pair-join sides consume this projection, and the
      // normalization regex is the expensive part — unmaterialized, it
      // ran 4× per query
      val docs = Truncate(Tables.load(s, d, "documents")
        .select(col("doc_id"),
          substring(TextNorm.normText, 1, 32).as("prefix"),
          TextNorm.toks.getItem(0).as("blk")))
      val keep = docs.groupBy("blk").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= FuzzyBlockCap).select("blk")
      val kept = docs.join(keep, "blk")
      // The quadratic levenshtein work happens in the pair-join stage,
      // whose parallelism is otherwise the (tiny) scan/checkpoint
      // partitioning — measured 6 tasks on 32 cores at sf0.1, one task
      // holding all block-pair distances. Repartition the probe side by
      // the blocking key so the per-block quadratic compute spreads
      // across the shuffle fan-out (blocks are independent; the cap
      // bounds the largest one, so no single task goes quadratic at any
      // scale). The partition count is EXPLICIT (defaultParallelism —
      // cores locally, cluster cores at scale): AQE coalesces a keyless-
      // count repartition of a few MB back to ~2 partitions, silently
      // re-serializing the compute-bound stage byte-sizing cannot see.
      // Pure re-distribution — rows unchanged.
      val a = kept.repartition(
          s.sparkContext.defaultParallelism, col("blk"))
        .select(col("blk"), col("doc_id").as("id1"), col("prefix").as("p1"))
      val b = kept.select(col("blk"), col("doc_id").as("id2"), col("prefix").as("p2"))
      a.join(b, Seq("blk"))
        .filter(col("id1") < col("id2"))
        // threshold-bounded levenshtein early-exits above the bound
        // (returns -1), exact below it — same kept pairs, ~k× less work
        .withColumn("edit_dist", levenshtein(col("p1"), col("p2"), 8).cast("long"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") <= 8)
        .select("id1", "id2", "edit_dist")
        .orderBy("id1", "id2")
    }, Some(
      s"""WITH t AS (SELECT doc_id,
            substring(${TextNorm.normTextSql}, 1, 32) AS prefix,
            ($normSql)[1] AS blk FROM documents),
          keep AS (SELECT blk FROM t GROUP BY blk HAVING count(*) <= $FuzzyBlockCap),
          tk AS (SELECT t.* FROM t JOIN keep USING (blk))
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
          FROM tk a JOIN tk b ON a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.prefix, b.prefix) <= 8
          ORDER BY id1, id2""")),

    // ---- Statistical LM quality score (CCNet/KenLM-style, integer
    // form): a document whose bigrams are common in the corpus reads
    // like the corpus; one full of rare bigrams is noise (or novelty).
    // Phase 1 builds the global bigram frequency table (groupBy — the
    // "LM training" pass); phase 2 re-joins each document's bigrams to
    // it (inverted-index equality join on the gram, the contamination/
    // dedup shape) and averages. Scale: both shuffles are keyed by the
    // gram; text never moves; map-side partials collapse repeated grams
    // per task. Integer milli-average (1000·sum div n) keeps the score
    // portable — a float log-prob would not be cross-engine exact.
    QueryDef("lm_bigram_score", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 2)
      // materialized once (an eager cut): the frequency aggregate AND
      // the re-join both consume the bigram stream, and Catalyst inlines
      // the subtree — unmaterialized, the corpus was tokenized + exploded
      // twice per query
      val bg = Truncate(docs.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("gram")))
      val cnt = bg.groupBy("gram").agg(count(lit(1)).as("df"))
      bg.join(cnt, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("df").as("sum_freq"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
          expr("(1000 * sum_freq) div n_bigrams").as("avg_freq_milli"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $normSql AS w FROM documents),
          bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
            i -> w[i]||' '||w[i+1])) AS gram FROM t WHERE len(w) >= 2),
          cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM bg GROUP BY gram)
          SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            CAST(sum(df) AS BIGINT) AS sum_freq,
            (1000 * CAST(sum(df) AS BIGINT)) // count(*) AS avg_freq_milli
          FROM bg JOIN cnt USING (gram)
          GROUP BY bg.doc_id ORDER BY doc_id""")),

    // ---- Document fingerprint: minimum sha256 over word 5-gram
    // shingles — a 1-permutation MinHash with a cryptographic hash, so
    // both engines agree exactly. Scale shape: per-row shingling +
    // min-aggregate, shuffle only (doc_id → fingerprint).
    QueryDef("doc_fingerprint", (s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-5), i -> " +
          "concat(w[i],' ',w[i+1],' ',w[i+2],' ',w[i+3],' ',w[i+4]))")).as("gram"))
        .groupBy("doc_id")
        .agg(min(sha2(col("gram"), 256)).as("fingerprint"))
        .orderBy("doc_id")
    }, Some(
      s"WITH toks AS (SELECT doc_id, $normSql AS w FROM documents), " +
      "grams AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-3), " +
      "i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS gram " +
      "FROM toks WHERE len(w) >= 5) " +
      "SELECT doc_id, min(sha256(gram)) AS fingerprint FROM grams " +
      "GROUP BY doc_id ORDER BY doc_id")),

    // ---- Global top-K n-grams: the corpus-vocabulary pass (stopword
    // mining, tokenizer-merge candidates). Bigram generation is per-row,
    // the count is one map-side-partial hash aggregate keyed by the
    // gram, and the top-25 with a total (count DESC, gram) order
    // compiles to TakeOrderedAndProject — per-partition heaps + a
    // driver merge of K rows, never a global sort of the vocabulary
    // (which at 100 TB is billions of distinct grams).
    QueryDef("ngram_topk", (s, d) => {
      Tables.load(s, d, "documents")
        .select(toks.as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("gram"))
        .limit(25)
    }, Some(
      s"WITH t AS (SELECT $normSql AS w FROM documents), " +
      "bg AS (SELECT unnest(list_transform(range(1, len(w)), " +
      "i -> w[i]||' '||w[i+1])) AS gram FROM t WHERE len(w) >= 2) " +
      "SELECT gram, count(*) AS n FROM bg GROUP BY gram " +
      "ORDER BY n DESC, gram LIMIT 25")),

    // ---- Source diversity per language: Gini–Simpson index in exact
    // ppm — 10⁶·(1 − Σᵢ pᵢ²) — the "is this slice dominated by one
    // crawl source?" diagnostic a mixing pipeline checks before
    // weighting (entropy would need log; Gini is the standard
    // log-free diversity measure and stays in integers). Two hash
    // aggregates: (lang, source) counts, then per-lang moments; the
    // square sum rides DECIMAL/HUGEINT so 10¹² docs per source cannot
    // overflow, and the single integer division makes the gate
    // float-free.
    QueryDef("source_diversity", (s, d) => {
      val counts = Tables.load(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("c"))
      counts.groupBy("lang").agg(
          sum("c").as("n_docs"),
          count(lit(1)).as("n_sources"),
          sum(expr("cast(cast(c AS DECIMAL(18,0)) * cast(c AS DECIMAL(18,0)) AS DECIMAL(38,0))")).as("ssq"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          expr("1000000 - cast((cast(1000000 AS DECIMAL(38,0)) * ssq) div " +
            "(cast(n_docs AS DECIMAL(19,0)) * cast(n_docs AS DECIMAL(19,0))) AS LONG)")
            .as("gini_ppm"))
        .orderBy("lang")
    }, Some(
      "WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c " +
      "FROM documents GROUP BY 1, 2) " +
      "SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs, " +
      "CAST(count(*) AS BIGINT) AS n_sources, " +
      "1000000 - CAST((CAST(1000000 AS HUGEINT) * sum(CAST(c AS HUGEINT) * c)) // " +
      "(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT)) AS BIGINT) AS gini_ppm " +
      "FROM c GROUP BY lang ORDER BY lang")),

    // ---- PMI collocations: bigrams whose parts co-occur far more than
    // independence predicts — the phrase-mining / tokenizer-merge-rule
    // primitive. PMI is computed WITHOUT log as an exact integer odds
    // ratio in ppm: 10^6 · N·c(xy) / (c(x)·c(y)), DECIMAL(38,0)
    // arithmetic then one integer division — same ranking as log-PMI
    // (log is monotone), zero float ops, overflow-safe past 10^12
    // tokens. Unigram/bigram counts are plain hash aggregates; the
    // bigram→unigram joins key on the token (vocabulary-sized, AQE may
    // broadcast); the global token count is a one-row broadcast
    // (whitelisted scalar shape); min-count >= 5 applies the standard
    // sparse-PMI guard before ranking; top-25 is TakeOrderedAndProject.
    QueryDef("collocations", (s, d) => {
      val docs = Tables.load(s, d, "documents").select(toks.as("w"))
      val uni = docs.select(explode(col("w")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val ntok = uni.agg(sum("c").as("n_tok"))
      val bgc = docs.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))")).as("p"))
        .select(col("p.w1"), col("p.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      bgc
        .join(uni.select(col("tok").as("w1"), col("c").as("cx")), "w1")
        .join(uni.select(col("tok").as("w2"), col("c").as("cy")), "w2")
        .crossJoin(broadcast(ntok))
        .withColumn("pmi_ppm", expr(
          "cast((cast(1000000 AS DECIMAL(38,0)) * cast(n_tok AS DECIMAL(38,0)) * cast(cxy AS DECIMAL(38,0))) " +
          "div (cast(cx AS DECIMAL(38,0)) * cast(cy AS DECIMAL(38,0))) AS LONG)"))
        .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"), col("pmi_ppm"))
        .orderBy(desc("pmi_ppm"), col("w1"), col("w2")).limit(25)
    }, Some(
      s"WITH t AS (SELECT $normSql AS w FROM documents), " +
      "uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM " +
      "(SELECT unnest(w) AS tok FROM t) WHERE length(tok) > 0 GROUP BY tok), " +
      "nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uc), " +
      "bg AS (SELECT unnest(list_transform(range(1, len(w)), " +
      "i -> w[i]||' '||w[i+1])) AS gram FROM t WHERE len(w) >= 2), " +
      "bgc AS (SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2, " +
      "CAST(count(*) AS BIGINT) AS cxy FROM bg GROUP BY 1, 2 HAVING count(*) >= 5) " +
      "SELECT bgc.w1, bgc.w2, bgc.cxy, ux.c AS cx, uy.c AS cy, " +
      "CAST((CAST(1000000 AS HUGEINT) * CAST(n_tok AS HUGEINT) * CAST(cxy AS HUGEINT)) " +
      "// (CAST(ux.c AS HUGEINT) * CAST(uy.c AS HUGEINT)) AS BIGINT) AS pmi_ppm " +
      "FROM bgc JOIN uc ux ON bgc.w1 = ux.tok JOIN uc uy ON bgc.w2 = uy.tok, nt " +
      "ORDER BY pmi_ppm DESC, w1, w2 LIMIT 25")),

    // ---- Sketch-path counterpart of ngram_topk for tokens: one-pass
    // Misra-Gries heavy hitters (native TypedImperativeAggregate,
    // graft.functions.FreqItemsAgg) — 256 counters per partial instead
    // of a billions-of-keys vocabulary shuffle; partials merge with the
    // Agarwal et al. rule, so this is the profile pass that still works
    // when the vocabulary itself doesn't fit anywhere. The SURVIVOR SET
    // depends on partition merge order, so the item list itself cannot
    // be hash-oracled — instead the gate emits the sketch's PROVABLE
    // CERTIFICATE, checked against exact SQL: every token with true
    // count > N/257 must appear (n_missing = 0), and every reported
    // count must satisfy true - N/257 <= reported <= true
    // (n_violations = 0). All comparisons are exact integer forms
    // (c*257 > n), so the certificate is engine-exact; SketchSpec
    // additionally pins the top-k listing shape on adversarial data.
    QueryDef("approx_topk", (s, d) => {
      val toks2 = Tables.load(s, d, "documents")
        .select(explode(toks).as("tok"))
        .filter(length(col("tok")) > 0)
      val sketch = toks2
        .agg(graft.functions.FreqItemsAgg.freqItems(col("tok"), 256).as("sketch"))
        .select(explode(col("sketch")).as("e"))
        .select(col("e.item").as("tok"), col("e.min_count").as("reported"))
      val exact = toks2.groupBy("tok").agg(count(lit(1)).as("exact"))
      val tot = toks2.agg(count(lit(1)).as("n"))
      exact.join(sketch, Seq("tok"), "left_outer")
        .crossJoin(broadcast(tot))
        .agg(
          max(col("n")).as("n_tokens"),
          sum(when(col("exact") * 257 > col("n"), 1L).otherwise(0L)).as("n_heavy"),
          sum(when(col("exact") * 257 > col("n") && col("reported").isNull, 1L)
            .otherwise(0L)).as("n_missing"),
          sum(when(col("reported").isNotNull &&
            (col("reported") > col("exact") ||
              (col("exact") - col("reported")) * 257 > col("n")), 1L)
            .otherwise(0L)).as("n_violations"))
    }, Some(
      s"WITH t AS (SELECT unnest($normSql) AS tok FROM documents), " +
      "t2 AS (SELECT tok FROM t WHERE len(tok) > 0), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2), " +
      "ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t2 GROUP BY tok) " +
      "SELECT (SELECT n FROM tot) AS n_tokens, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM ex, tot WHERE c * 257 > n) AS n_heavy, " +
      "CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_violations")),

    // ---- OOV rate: per-document out-of-vocabulary fraction against
    // the corpus's own top-1000 vocabulary — the tokenizer-coverage /
    // domain-shift signal (a doc whose tokens mostly miss the head
    // vocabulary is boilerplate, code, or another language; fertility
    // and OOV are the first checks before committing a tokenizer).
    // Two phases, both scale-shaped: the vocabulary is a global top-k
    // under a TOTAL order (count desc, token — engine-independent at
    // the rank-1000 tie) via TakeOrderedAndProject, then broadcast
    // (O(k) rows) against the token stream, so the only real shuffle
    // is the doc_id count aggregate with map-side combine. Integer ppm
    // keeps the gate float-free.
    QueryDef("oov_rate", (s, d) => {
      val toks2 = Tables.load(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
      val vocab = toks2.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("inv"))
      toks2.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          expr("(1000000 * n_oov) div n_toks").as("oov_ppm"))
        .orderBy("doc_id")
    }, Some(
      s"WITH t AS (SELECT doc_id, unnest($normSql) AS tok FROM documents), " +
      "vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM t " +
      "GROUP BY tok ORDER BY c DESC, tok LIMIT 1000)) " +
      "SELECT t.doc_id, count(*) AS n_toks, " +
      "CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "(1000000 * CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS oov_ppm " +
      "FROM t LEFT JOIN vocab v ON t.tok = v.tok " +
      "GROUP BY t.doc_id ORDER BY t.doc_id")),

    // ---- Lexical diversity: per-document type-token ratio in exact ppm
    // — the classic degenerate-text signal (template spam and keyword
    // stuffing score low; natural prose high; the MTLD/TTR family of
    // quality filters). Pure map-side projection over the shared
    // TextNorm tokenizer: distinct count is array_distinct INSIDE the
    // row (no shuffle — the per-doc vocabulary is bounded by doc
    // length), integer ppm keeps the gate float-free. At 100 TB this is
    // a scan-only pass like text_stats/rep_tokens.
    QueryDef("lexical_diversity", (s, d) => {
      // text IS NOT NULL on BOTH sides: Spark's size() on a NULL array
      // is -1 (legacy sizeOfNull), which would compute a nonsense
      // ttr_ppm = 1000000 while DuckDB's len() propagates NULL — a
      // silent engine divergence on NULL-text rows.
      Tables.load(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          size(array_distinct(toks)).cast("long").as("n_types"))
        .withColumn("ttr_ppm", expr("(1000000 * n_types) div n_toks"))
        .orderBy("doc_id")
    }, Some(
      s"SELECT doc_id, CAST(len($normSql) AS BIGINT) AS n_toks, " +
      s"CAST(len(list_distinct($normSql)) AS BIGINT) AS n_types, " +
      s"(1000000 * len(list_distinct($normSql))) // len($normSql) AS ttr_ppm " +
      "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"))
  )

  /** One BM25 term as a SQL string valid in BOTH dialects (plain CAST +
    * arithmetic parses identically in Spark SQL and DuckDB): rational
    * idf × saturated tf, k1 = 1.2, b = 0.75. A single shared generator
    * so parenthesization — and hence the IEEE evaluation order that
    * makes the score bit-exact — can never drift between engines.
    * Expects columns n_docs, sum_dl, dl in scope. */
  private def bm25Term(tf: String, df: String): String =
    s"(((CAST(n_docs AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5)) * " +
    s"((CAST($tf AS DOUBLE) * 2.2) / (CAST($tf AS DOUBLE) + 1.2 * " +
    s"(0.25 + 0.75 * ((CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))))))"
}
