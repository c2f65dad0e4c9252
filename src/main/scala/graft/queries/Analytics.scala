package graft.queries

import graft.{QueryDef, Tables}
import graft.core.Truncate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General-analytics staples beyond the reference's TPC-H slice: exact
  * percentiles, partitioned window functions (lag / cumulative /
  * moving), ROLLUP subtotals, and SQL set operators. All shuffles key on
  * the natural partition column (event_type / user_id / grouping key) —
  * window partitions are user-scoped, never global.
  *
  * Exactness notes: percentiles run over integer cents at quartile
  * points, where linear interpolation is exactly representable in
  * binary, so Spark's `percentile` and DuckDB's `quantile_cont` agree
  * bit-for-bit; window sums are integer; moving averages divide integer
  * sums by counts (single deterministic fp op).
  */
object Analytics {

  private val cents = Tables.cents

  val defs: Seq[QueryDef] = Seq(

    QueryDef("quantiles", (s, d) => {
      Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .groupBy("event_type")
        .agg(
          percentile(col("c"), lit(0.25)).as("p25_cents"),
          percentile(col("c"), lit(0.5)).as("p50_cents"),
          percentile(col("c"), lit(0.75)).as("p75_cents"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some(
      "SELECT event_type, " +
      "quantile_cont(" + graft.Tables.centsSql + ", 0.25) AS p25_cents, " +
      "quantile_cont(" + graft.Tables.centsSql + ", 0.5) AS p50_cents, " +
      "quantile_cont(" + graft.Tables.centsSql + ", 0.75) AS p75_cents, " +
      "count(*) AS n FROM events GROUP BY event_type ORDER BY event_type")),

    // ---- Approximate quantiles: the sketch path (GK/KLL-style summary,
    // constant memory per group) vs `quantiles`' exact sort-based path.
    // The sketch value itself is merge-order-dependent, so the gate
    // emits its RANK CERTIFICATE instead: percentile_approx(accuracy
    // 1000) guarantees the returned element's rank is within n/1000 of
    // the target, so #{c < p50} <= n/2 + n/500 + 1 and #{c <= p50} >=
    // n/2 - n/500 - 1 (2x margin) must BOTH hold — checked with exact
    // integer counts, constant 1 for the oracle. n is exact SQL.
    QueryDef("approx_quantiles", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull)
      val ap = e.groupBy("event_type")
        .agg(percentile_approx(col("c"), lit(0.5), lit(1000)).as("p50"),
          count(lit(1)).as("n"))
      e.join(broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"),
          sum(when(col("c") < col("p50"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("c") <= col("p50"), 1L).otherwise(0L)).as("n_le"))
        .select(col("event_type"), col("n"),
          when(col("n_lt") <= col("n") / 2 + col("n") / 500 + 1 &&
               col("n_le") >= col("n") / 2 - col("n") / 500 - 1, 1L)
            .otherwise(0L).as("rank_ok"))
        .orderBy("event_type")
    }, Some(
      "SELECT event_type, count(*) AS n, CAST(1 AS BIGINT) AS rank_ok " +
      "FROM events WHERE " + graft.Tables.centsSql + " IS NOT NULL " +
      "GROUP BY event_type ORDER BY event_type")),

    QueryDef("window_analytics", (s, d) => {
      // µs resolution on both sides: DuckDB TIMESTAMP truncates the
      // parquet nanos, so the window order and output use ts_us
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.load(s, d, "events")
        .select(col("user_id"), graft.Tables.tsUs.as("ts_us"),
          col("event_id"), cents.as("c"))
        .select(
          col("user_id"), col("ts_us"), col("event_id"),
          lag("event_id", 1).over(w).as("prev_event"),
          sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_cents"),
          round(
            sum("c").over(w.rowsBetween(-2, Window.currentRow)).cast("double") /
              count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)), 4)
            .as("mov3_cents"))
        .orderBy("user_id", "ts_us", "event_id")
    }, Some(
      "SELECT user_id, epoch_us(ts) AS ts_us, event_id, " +
      "lag(event_id, 1) OVER w AS prev_event, " +
      "CAST(sum(" + graft.Tables.centsSql + ") OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents, " +
      "round(CAST(sum(" + graft.Tables.centsSql + ") OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / " +
      "count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov3_cents " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) " +
      "ORDER BY user_id, ts_us, event_id")),

    QueryDef("rollup_stats", (s, d) => {
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          graft.Tables.qtyCents.as("qc"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("qc").as("qty_cents"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, Some(
      "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      "CAST(sum(" + graft.Tables.qtyCentsSql + ") AS BIGINT) AS qty_cents " +
      "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    // ---- CUBE grouping sets (all 4 marginal combinations in one pass —
    // Catalyst's Expand operator; one shuffle for every grouping set).
    // grouping() flags disambiguate a NULL data value from a subtotal row.
    QueryDef("cube_docs", (s, d) => {
      Tables.load(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy(col("g_lang"), col("g_source"),
          asc_nulls_first("lang"), asc_nulls_first("source"))
    }, Some(
      "SELECT lang, source, CAST(grouping(lang) AS BIGINT) AS g_lang, " +
      "CAST(grouping(source) AS BIGINT) AS g_source, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY CUBE (lang, source) " +
      "ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST")),

    // ---- Gap-based sessionization in batch: session id = running count
    // of gap-exceeded flags per user (the SQL-expressible mirror of
    // StreamOps.sessionize; 30-minute gap). One user-partitioned window
    // pass + one aggregate.
    QueryDef("sessionize_batch", (s, d) => {
      val gapUs = 30L * 60L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.load(s, d, "events")
        .select(col("user_id"), graft.Tables.tsUs.as("ts_us"), col("event_id"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("sess_no",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_no")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        .orderBy("user_id", "sess_no")
    }, Some(
      "WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, " +
      "CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
      "s AS (SELECT user_id, ts_us, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no FROM t) " +
      "SELECT user_id, sess_no, count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us " +
      "FROM s GROUP BY user_id, sess_no ORDER BY user_id, sess_no")),

    // ---- Pivot: one row per user, event-type counts as columns (fixed
    // pivot values — the scalable form; dynamic pivot would need a
    // driver-side distinct first).
    QueryDef("pivot_events", (s, d) => {
      Tables.load(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }, Some(
      "SELECT user_id, " +
      "count(*) FILTER (event_type = 'click') AS click, " +
      "count(*) FILTER (event_type = 'error') AS error, " +
      "count(*) FILTER (event_type = 'purchase') AS purchase, " +
      "count(*) FILTER (event_type = 'signup') AS signup, " +
      "count(*) FILTER (event_type = 'view') AS view " +
      "FROM events GROUP BY user_id ORDER BY user_id")),

    QueryDef("set_except", (s, d) => {
      val o = Tables.load(s, d, "orders")
      val withF = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val all = o.select(col("o_custkey"))
      all.except(withF) // customers who ordered but never with status F
        .orderBy("o_custkey")
    }, Some(
      "SELECT o_custkey FROM orders EXCEPT SELECT o_custkey FROM orders " +
      "WHERE o_orderstatus = 'F' ORDER BY o_custkey")),

    // ---- Set intersection (completes the family with concat_union and
    // set_except): customers who placed BOTH a finished and an open
    // order — plans as a left-semi join on the distinct key sets.
    QueryDef("set_intersect", (s, d) => {
      val o = Tables.load(s, d, "orders")
      val withF = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val withO = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      withF.intersect(withO)
        .orderBy("o_custkey")
    }, Some(
      "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
      "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
      "ORDER BY o_custkey")),

    // ---- Explicit GROUPING SETS (completes the cube/rollup family with
    // the custom-set form): (type, day), (type), () — a report that
    // wants per-day detail and per-type totals but NOT the per-day
    // marginal a full cube would also pay for. One Expand + one shuffle,
    // same as cube; the set list just prunes the replication factor from
    // 4 to 3 — at 100 TB the skipped grouping set is a whole shuffle's
    // worth of data not materialized.
    QueryDef("grouping_sets", (s, d) => {
      val day = expr("ts div 86400000000000").as("day_no") // nanos → days
      Tables.load(s, d, "events")
        .select(col("event_type"), day, cents.as("c"))
        .groupingSets(
          Seq(Seq(col("event_type"), col("day_no")), Seq(col("event_type")), Seq.empty),
          col("event_type"), col("day_no"))
        .agg(
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("day_no")).cast("long").as("g_day"),
          count(lit(1)).as("n"),
          sum("c").as("sum_cents"))
        .orderBy(col("g_type"), col("g_day"),
          asc_nulls_first("event_type"), asc_nulls_first("day_no"))
    }, Some(
      "SELECT event_type, epoch_us(ts) // 86400000000 AS day_no, " +
      "CAST(grouping(event_type) AS BIGINT) AS g_type, " +
      "CAST(grouping(day_no) AS BIGINT) AS g_day, count(*) AS n, " +
      "CAST(sum(" + graft.Tables.centsSql + ") AS BIGINT) AS sum_cents " +
      "FROM events GROUP BY GROUPING SETS ((event_type, day_no), (event_type), ()) " +
      "ORDER BY g_type, g_day, event_type NULLS FIRST, day_no NULLS FIRST")),

    // ---- Exact distribution moments per group: n, sum, min, max in
    // BIGINT and the sum of squares accumulated in DECIMAL(38,0) —
    // decimal addition is order-independent (the matmul_gram technique),
    // so the second moment is hash-exact across engines and
    // partitionings where a double sum would not be. The FINAL output is
    // narrowed to BIGINT: raw DECIMAL(38,0) in gate output renders
    // engine/formatter-sensitively and broke the r5 driver hash.
    // int64 headroom: cents <= ~1e7 at any SF (value <= ~1e5 dollars),
    // so cents^2 <= 1e14 and the per-type sum stays < 9.2e18 up to
    // ~9e4 rows-per-type x sf1000; the DECIMAL accumulator itself never
    // overflows, and the final narrowing is try_cast, so past the bound
    // the column degrades to NULL instead of wrapping or throwing —
    // HostileEventsSpec pins both the degradation (1e15 value) and
    // exactness just inside the bound.
    // Variance/stddev derive client-side as (n·sumsq − sum²)/n² with
    // zero additional passes. One map-side-partial hash aggregate; 5
    // groups out.
    QueryDef("stats_moments", (s, d) => {
      val sq = expr(
        "cast(try_cast(round(value * 100, 0) AS DECIMAL(18,0)) * " +
        "try_cast(round(value * 100, 0) AS DECIMAL(18,0)) AS DECIMAL(38,0))")
      Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"), sq.as("sq"))
        .groupBy("event_type")
        .agg(
          count(col("c")).as("n"),
          sum("c").as("sum_cents"),
          min("c").as("min_cents"),
          max("c").as("max_cents"),
          expr("try_cast(sum(sq) AS BIGINT)").as("sumsq_cents"))
        .orderBy("event_type")
    }, Some(
      "SELECT event_type, count(" + graft.Tables.centsSql + ") AS n, " +
      "CAST(sum(" + graft.Tables.centsSql + ") AS BIGINT) AS sum_cents, " +
      "min(" + graft.Tables.centsSql + ") AS min_cents, " +
      "max(" + graft.Tables.centsSql + ") AS max_cents, " +
      "TRY_CAST(sum(CAST(TRY_CAST(round(value*100,0) AS DECIMAL(18,0)) * " +
      "TRY_CAST(round(value*100,0) AS DECIMAL(18,0)) AS DECIMAL(38,0))) " +
      "AS BIGINT) AS sumsq_cents " +
      "FROM events GROUP BY event_type ORDER BY event_type")),

    // ---- Deterministic per-group mode: modal cents value with a total
    // (count DESC, value ASC) tiebreak — built-in mode() has no defined
    // tie order on either engine, so this is two hash aggregates
    // instead: value counts, then a lexicographic struct-max argmax
    // (the dedup_keep_best shape). No window, no sort — both shuffles
    // key on the group (or group+value), so a hot group splits across
    // its values in phase 1 rather than funneling one task.
    QueryDef("mode_per_group", (s, d) => {
      val counted = Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull)
        .groupBy("event_type", "c")
        .agg(count(lit(1)).as("cnt"))
      counted
        .groupBy("event_type")
        .agg(max(struct(col("cnt"), (-col("c")).as("negc"))).as("m"))
        .select(col("event_type"),
          (-col("m.negc")).as("mode_cents"), col("m.cnt").as("mode_n"))
        .orderBy("event_type")
    }, Some(
      "WITH cn AS (SELECT event_type, " + graft.Tables.centsSql + " AS c, " +
      "count(*) AS cnt FROM events WHERE " + graft.Tables.centsSql +
      " IS NOT NULL GROUP BY 1, 2), " +
      "r AS (SELECT event_type, c, cnt, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY cnt DESC, c ASC) AS rk FROM cn) " +
      "SELECT event_type, c AS mode_cents, CAST(cnt AS BIGINT) AS mode_n " +
      "FROM r WHERE rk = 1 ORDER BY event_type")),

    // ---- Array aggregation surface (collect_list / sort_array / slice /
    // array_join): the k smallest doc ids per language as a CSV string.
    // Skew-proof min-k: phase 1 takes the local min-k inside each
    // (lang, salt) slice — the topk_per_group two-phase shape — so the
    // collect_list only ever sees <= 16k survivor rows per language,
    // never the full group (an unbounded per-group collect is the array
    // op that OOMs at corpus scale). The salt never changes the answer,
    // so the oracle aggregates the raw table.
    QueryDef("collect_topids", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 5
      val salted = Tables.load(s, d, "documents").select("doc_id", "lang")
        .withColumn("salt", pmod(col("doc_id"), lit(16L)))
      val w1 = Window.partitionBy("lang", "salt").orderBy("doc_id")
      val local = salted
        .withColumn("rn", row_number().over(w1)).filter(col("rn") <= k)
      local.groupBy("lang")
        .agg(expr(s"array_join(transform(slice(sort_array(collect_list(doc_id)), 1, $k), " +
          "x -> cast(x AS STRING)), ',')").as("min_ids"))
        .orderBy("lang")
    }, Some(
      "SELECT lang, array_to_string(list_sort(list(doc_id))[1:5], ',') AS min_ids " +
      "FROM documents GROUP BY lang ORDER BY lang")),

    // ---- Z-score anomaly counting: how many events sit more than 3
    // standard deviations from their type's mean — the streaming-
    // monitor staple, done in two passes: exact integer/DECIMAL moment
    // components (the stats_moments sums), broadcast back onto the
    // events (O(groups) rows — a one-row-per-type build side), then a
    // per-row z computed by ONE fixed-order double expression, so both
    // engines evaluate identical doubles and the >3 cut is
    // engine-exact. Only integer counts leave the final aggregate.
    QueryDef("anomaly_zscore", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull)
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("cnt"),
        sum("c").as("sc"),
        sum(expr("cast(cast(c AS DECIMAL(18,0)) * cast(c AS DECIMAL(18,0)) AS DECIMAL(38,0))")).as("sq"))
      e.join(broadcast(stats), "event_type")
        .withColumn("mean", col("sc").cast("double") / col("cnt").cast("double"))
        .withColumn("varr",
          (col("cnt").cast("double") * col("sq").cast("double") -
            col("sc").cast("double") * col("sc").cast("double")) /
          (col("cnt").cast("double") * col("cnt").cast("double")))
        .withColumn("z",
          (col("c").cast("double") - col("mean")) / sqrt(nullif(col("varr"), lit(0.0))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy("event_type")
    }, Some(
      "WITH e AS (SELECT event_type, " + graft.Tables.centsSql + " AS c " +
      "FROM events WHERE " + graft.Tables.centsSql + " IS NOT NULL), " +
      "st AS (SELECT event_type, count(*) AS cnt, sum(c) AS sc, " +
      "sum(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sq " +
      "FROM e GROUP BY event_type), " +
      "j AS (SELECT e.event_type, e.c, " +
      "CAST(st.sc AS DOUBLE) / CAST(st.cnt AS DOUBLE) AS mean, " +
      "(CAST(st.cnt AS DOUBLE) * CAST(st.sq AS DOUBLE) - " +
      "CAST(st.sc AS DOUBLE) * CAST(st.sc AS DOUBLE)) / " +
      "(CAST(st.cnt AS DOUBLE) * CAST(st.cnt AS DOUBLE)) AS varr " +
      "FROM e JOIN st USING (event_type)) " +
      "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CASE WHEN abs((CAST(c AS DOUBLE) - mean) / sqrt(nullif(varr, 0))) > 3.0 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies " +
      "FROM j GROUP BY event_type ORDER BY event_type")),

    // ---- Spearman rank correlation between document length (chars)
    // and token count, per language — the monotone-association check a
    // data-quality dashboard runs. Ranks are row_number with a total
    // (value, doc_id) tiebreak, so both rank vectors are exact
    // permutations of 1..n and the usual Spearman identity holds with
    // den_x = den_y; every component (sxy, sx, sxx) accumulates as an
    // exact DECIMAL(38,0) sum (order-independent), then narrows to
    // BIGINT in the output — raw DECIMAL(38,0) rendering proved engine/
    // formatter-sensitive under the driver comparator (r5 hash fail).
    // int64 headroom: sxy <= n^3, so the narrowing holds to n ~ 2e6
    // rows per language (far above any per-language slice at gated SFs;
    // try_cast degrades to NULL past the bound instead of wrapping or
    // throwing; beyond that keep the decimal internal and emit hi/lo
    // words). rho
    // is ONE fixed-order double expression over those exact integers,
    // emitted as fixed-point rho_micro BIGINT (the tfidf_lang /
    // pagerank_exact technique) so no raw double or decimal reaches the
    // gate hash. Per-group ranking is a
    // window per lang; group count is O(langs), each partition is the
    // corpus slice (the `ranking` operator's two-phase design is the
    // fallback if one group dominates).
    QueryDef("rank_corr", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.load(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          size(graft.llm.TextNorm.toks).cast("long").as("n_toks"))
      // asc = NULLS FIRST in Spark but NULLS LAST in DuckDB — the oracle
      // says NULLS FIRST explicitly so a null-text row (null n_toks)
      // ranks identically on both engines instead of shifting every
      // other rank in its language by one
      val wx = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val wy = Window.partitionBy("lang").orderBy("n_toks", "doc_id")
      val ranked = t
        .withColumn("rx", row_number().over(wx).cast("long"))
        .withColumn("ry", row_number().over(wy).cast("long"))
      val agg = ranked.groupBy("lang").agg(
        count(lit(1)).as("n"),
        expr("try_cast(sum(cast(cast(rx AS DECIMAL(18,0)) * cast(ry AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS BIGINT)").as("sxy"),
        expr("try_cast(sum(cast(rx AS DECIMAL(38,0))) AS BIGINT)").as("sx"),
        expr("try_cast(sum(cast(cast(rx AS DECIMAL(18,0)) * cast(rx AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS BIGINT)").as("sxx"))
      agg.select(col("lang"), col("n"), col("sxy"), col("sx"), col("sxx"),
          round(
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
            nullif(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"), lit(0.0)) * lit(1000000.0), 0)
            .cast("long").as("rho_micro"))
        .orderBy("lang")
    }, Some(
      s"""WITH t AS (SELECT lang, doc_id, n_chars,
           CAST(len(${graft.llm.TextNorm.normSql}) AS BIGINT) AS n_toks FROM documents),
         r AS (SELECT lang,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars NULLS FIRST, doc_id) AS rx,
           row_number() OVER (PARTITION BY lang ORDER BY n_toks NULLS FIRST, doc_id) AS ry
           FROM t),
         a AS (SELECT lang, count(*) AS n,
           TRY_CAST(sum(CAST(CAST(rx AS DECIMAL(18,0)) * CAST(ry AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS BIGINT) AS sxy,
           TRY_CAST(sum(CAST(rx AS DECIMAL(38,0))) AS BIGINT) AS sx,
           TRY_CAST(sum(CAST(CAST(rx AS DECIMAL(18,0)) * CAST(rx AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS BIGINT) AS sxx
           FROM r GROUP BY lang)
         SELECT lang, n, sxy, sx, sxx,
           CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) * 1000000.0, 0) AS BIGINT) AS rho_micro
         FROM a ORDER BY lang""")),

    // ---- Robust statistics at scale: exact per-group median + MAD
    // (median absolute deviation) via the HISTOGRAM method. A naive
    // exact median sorts every group (one giant window per event_type —
    // the monolingual-skew trap); instead we aggregate to a (type,
    // cents) frequency table first. The histogram is bounded by the
    // VALUE DOMAIN (~56k distinct cents here), not the row count, so
    // the cumulative window runs over a few thousand rows per type no
    // matter the SF — the same technique holds at 100 TB as long as the
    // measure is bounded-domain (money, latencies, scores all are).
    // Median = low median (smallest c with cum >= ceil(n/2)), an
    // integer selection with zero float ops; MAD repeats the trick on
    // |c - median| — computed from the SAME cached histogram (dv
    // frequencies are sums of c-frequencies, so the raw events are
    // scanned exactly once; r5 scanned them twice and the driver bench
    // showed 10.7 s). The persisted state is the (type, cents, f)
    // table: bounded by the value domain (~56k distinct cents x
    // #types), independent of row count — safe to cache at any SF.
    QueryDef("median_mad", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull)
      Truncate.over(e.groupBy("event_type", "c").agg(count(lit(1)).as("f"))) { hist =>
        val tot = hist.groupBy("event_type").agg(sum("f").as("n"))
        val wc = Window.partitionBy("event_type").orderBy("c")
        val med = hist.withColumn("cum", sum("f").over(wc))
          .join(broadcast(tot), "event_type")
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("event_type").agg(min("c").as("median_cents"))
        val dhist = hist.join(broadcast(med), "event_type")
          .groupBy(col("event_type"), abs(col("c") - col("median_cents")).as("dv"))
          .agg(sum("f").as("f"))
        val wd = Window.partitionBy("event_type").orderBy("dv")
        val mad = dhist.withColumn("cum", sum("f").over(wd))
          .join(broadcast(tot), "event_type")
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("event_type").agg(min("dv").as("mad_cents"))
        tot.join(med, "event_type").join(mad, "event_type")
          .select(col("event_type"), col("n"), col("median_cents"), col("mad_cents"))
          .orderBy("event_type")
      }
    }, Some(
      "WITH e AS (SELECT event_type, " + graft.Tables.centsSql + " AS c " +
      "FROM events WHERE " + graft.Tables.centsSql + " IS NOT NULL), " +
      "h AS (SELECT event_type, c, count(*) AS f FROM e GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(f) AS BIGINT) AS n FROM h GROUP BY 1), " +
      "cm AS (SELECT event_type, c, CAST(sum(f) OVER " +
      "(PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum FROM h), " +
      "med AS (SELECT event_type, min(c) AS median_cents FROM cm JOIN t USING (event_type) " +
      "WHERE cum >= (n + 1) // 2 GROUP BY event_type), " +
      "dv AS (SELECT e.event_type, abs(e.c - med.median_cents) AS dv " +
      "FROM e JOIN med USING (event_type)), " +
      "dh AS (SELECT event_type, dv, count(*) AS f FROM dv GROUP BY 1, 2), " +
      "dc AS (SELECT event_type, dv, CAST(sum(f) OVER " +
      "(PARTITION BY event_type ORDER BY dv) AS BIGINT) AS cum FROM dh), " +
      "mad AS (SELECT event_type, min(dv) AS mad_cents FROM dc JOIN t USING (event_type) " +
      "WHERE cum >= (n + 1) // 2 GROUP BY event_type) " +
      "SELECT event_type, n, median_cents, mad_cents " +
      "FROM t JOIN med USING (event_type) JOIN mad USING (event_type) " +
      "ORDER BY event_type")),

    // ---- Equi-depth binning: exact decile thresholds per group from
    // the same bounded-domain cumulative histogram as median_mad (the
    // p=0.5 special case generalized to a threshold LATERAL over nine
    // probabilities). Each threshold is percentile_disc semantics —
    // smallest c with cum >= ceil(p·n) — an integer selection, so the
    // feature-binning cut points a training pipeline persists are
    // bit-identical on every engine and at any parallelism. One
    // histogram aggregate + one window + a 9-way explode of the tiny
    // cumulative table; never a per-group sort of raw rows.
    QueryDef("equidepth_bins", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull)
      val hist = e.groupBy("event_type", "c").agg(count(lit(1)).as("f"))
      val tot = hist.groupBy("event_type").agg(sum("f").as("n"))
      val wc = Window.partitionBy("event_type").orderBy("c")
      hist.withColumn("cum", sum("f").over(wc))
        .join(broadcast(tot), "event_type")
        .select(col("event_type"), col("c"), col("cum"), col("n"),
          explode(expr("sequence(1L, 9L)")).as("decile"))
        .filter(col("cum") * 10 >= col("decile") * col("n"))
        .groupBy("event_type", "decile")
        .agg(min("c").as("threshold_cents"))
        .orderBy("event_type", "decile")
    }, Some(
      "WITH e AS (SELECT event_type, " + graft.Tables.centsSql + " AS c " +
      "FROM events WHERE " + graft.Tables.centsSql + " IS NOT NULL), " +
      "h AS (SELECT event_type, c, count(*) AS f FROM e GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(f) AS BIGINT) AS n FROM h GROUP BY 1), " +
      "cm AS (SELECT event_type, c, CAST(sum(f) OVER " +
      "(PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum FROM h), " +
      // unnest must live in its OWN cte: DuckDB's binder hits an
      // internal error when the unnest column feeds a later GROUP BY
      // through a windowed CTE join (reproduced on 1.x) — a standalone
      // deciles relation cross-joined in sidesteps it
      "ds AS (SELECT unnest(generate_series(1, 9)) AS decile), " +
      "x AS (SELECT cm.event_type, cm.c, cm.cum, t.n, ds.decile " +
      "FROM cm JOIN t USING (event_type) CROSS JOIN ds) " +
      "SELECT event_type, CAST(decile AS BIGINT) AS decile, " +
      "min(c) AS threshold_cents FROM x " +
      "WHERE cum * 10 >= decile * n GROUP BY event_type, decile " +
      "ORDER BY event_type, decile")),

    // ---- 2-D skyline (pareto frontier): parts not dominated on
    // (cheaper, bigger) by any other part. The classic formulation is a
    // quadratic NOT EXISTS self-join — the DuckDB oracle states it that
    // way, as an INDEPENDENT formulation of the semantics. The engine
    // path is the scale-sound one: aggregate to min-price-per-size
    // first (the p_size domain is ~50 values — bounded by the domain,
    // not the row count), run the strict suffix-min test on that tiny
    // table with one window, then join the surviving (size, price)
    // pairs back by key equality. Ties on both dimensions are kept
    // (non-strict dominance), matching the NOT EXISTS semantics.
    QueryDef("skyline_parts", (s, d) => {
      val p = Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_name"), col("p_size").cast("long").as("p_size"),
          expr("try_cast(round(p_retailprice * 100, 0) AS LONG)").as("price_cents"))
        .filter(col("price_cents").isNotNull && col("p_size").isNotNull)
      val minp = p.groupBy("p_size").agg(min("price_cents").as("mp"))
      // window over the AGGREGATED table: <= |size domain| rows total,
      // so the unpartitioned frame is O(50), never O(rows)
      val wAbove = Window.orderBy(desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = minp
        .withColumn("best_above", min("mp").over(wAbove))
        .filter(col("best_above").isNull || col("mp") < col("best_above"))
        .select(col("p_size").as("fs_size"), col("mp"))
      p.join(broadcast(frontier),
          col("p_size") === col("fs_size") && col("price_cents") === col("mp"))
        .select(col("p_partkey"), col("p_name"), col("p_size"), col("price_cents"))
        .orderBy("p_size", "p_partkey")
    }, Some(
      "WITH p AS (SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size, " +
      "TRY_CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents FROM part " +
      "WHERE TRY_CAST(round(p_retailprice * 100, 0) AS BIGINT) IS NOT NULL " +
      "AND p_size IS NOT NULL) " +
      "SELECT b.p_partkey, b.p_name, b.p_size, b.price_cents FROM p b " +
      "WHERE NOT EXISTS (SELECT 1 FROM p a WHERE a.p_size >= b.p_size " +
      "AND a.price_cents <= b.price_cents " +
      "AND (a.p_size > b.p_size OR a.price_cents < b.price_cents)) " +
      "ORDER BY b.p_size, b.p_partkey")),

    // ---- Time-series gap fill with forward fill (LOCF): the
    // dashboard/feature-store staple. Per (user, hour): the measure of
    // the LAST valid event in that hour (max_by on the unique (user,
    // ts) key — NaN measures dropped up front so both engines agree on
    // what "valid" means); then each user's hour range densified with
    // sequence()/generate_series and holes carried forward with
    // last(..., ignoreNulls) over the user's hour order. The grid is
    // per-user (tens of rows per user-month), the window partitions by
    // user — millions of small partitions at 100 TB, no global
    // anything. Output aggregates to one row per user (hours, observed
    // hours, filled-hour count, exact integer sum of the filled
    // series), so the gate compares O(users) rows.
    QueryDef("gap_fill", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("user_id"), col("ts"),
          expr("ts div 3600000000000").as("h"), cents.as("c"))
        .filter(col("c").isNotNull)
      val hourly = e.groupBy("user_id", "h").agg(max_by(col("c"), col("ts")).as("c"))
      val grid = hourly.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
      val wFill = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left_outer")
        .withColumn("filled", last(col("c"), ignoreNulls = true).over(wFill))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_observed"),
          sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_filled"),
          sum("filled").as("sum_filled_cents"))
        .orderBy("user_id")
    }, Some(
      "WITH e AS (SELECT user_id, ts, epoch_ns(ts) // 3600000000000 AS h, " +
      graft.Tables.centsSql + " AS c FROM events " +
      "WHERE " + graft.Tables.centsSql + " IS NOT NULL), " +
      "hv AS (SELECT user_id, h, arg_max(c, ts) AS c FROM e GROUP BY 1, 2), " +
      "b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hv GROUP BY 1), " +
      "grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM b), " +
      "f AS (SELECT g.user_id, g.h, hv.c, " +
      "last_value(hv.c IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled " +
      "FROM grid g LEFT JOIN hv ON g.user_id = hv.user_id AND g.h = hv.h) " +
      "SELECT user_id, count(*) AS n_hours, " +
      "CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed, " +
      "CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled, " +
      "CAST(sum(filled) AS BIGINT) AS sum_filled_cents " +
      "FROM f GROUP BY user_id ORDER BY user_id")),

    // ---- Pearson correlation between two metric series (hourly click
    // vs purchase revenue) — the metrics-dashboard staple, computed the
    // engine-exact way: align on the hour bucket with conditional sums
    // (one aggregate — no self-join), accumulate all five moment
    // components as order-independent integer/DECIMAL sums, then derive
    // r as ONE fixed-order double expression (+,-,*,/,sqrt are all
    // correctly-rounded IEEE ops, so both engines produce the identical
    // double). Native corr() on either engine sums floats in partition
    // order — unusable for a cross-engine hash gate.
    QueryDef("corr_hourly", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(expr("ts div 3600000000000").as("h"), col("event_type"), cents.as("c"))
        .filter(col("c").isNotNull && col("event_type").isin("click", "purchase"))
      val hourly = e.groupBy("h").agg(
        sum(when(col("event_type") === "click", col("c")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", col("c")).otherwise(0L)).as("y"))
      val m = hourly.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(cast(x AS DECIMAL(18,0)) * cast(y AS DECIMAL(18,0)) AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("cast(cast(x AS DECIMAL(18,0)) * cast(x AS DECIMAL(18,0)) AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("cast(cast(y AS DECIMAL(18,0)) * cast(y AS DECIMAL(18,0)) AS DECIMAL(38,0))")).as("syy"))
      m.select(col("n"), col("sx"), col("sy"),
        round(expr(
          "(cast(n AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) / " +
          "(sqrt(cast(n AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)) * " +
          "sqrt(cast(n AS DOUBLE) * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE)))"), 6)
          .as("r"))
    }, Some(
      "WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS h, event_type, " +
      graft.Tables.centsSql + " AS c FROM events " +
      "WHERE " + graft.Tables.centsSql + " IS NOT NULL " +
      "AND event_type IN ('click', 'purchase')), " +
      "hourly AS (SELECT h, " +
      "CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS x, " +
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS y " +
      "FROM e GROUP BY h), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy, " +
      "CAST(sum(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx, " +
      "CAST(sum(CAST(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy " +
      "FROM hourly) " +
      "SELECT n, sx, sy, " +
      "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r " +
      "FROM m"))
  ) ++ Seq(

    // ---- Data-quality constraint audit (the Deequ/great-expectations
    // shape): one summary row per declared constraint — completeness
    // (NULL/NaN), domain ranges, primary-key uniqueness, referential
    // integrity — so a 100 TB ingest can gate promotion on `WHERE
    // n_violations > 0`. Scan-side checks fold into ONE conditional
    // aggregate per table (a single pass, map-side combined) and unpivot
    // via stack(); uniqueness is a key-grouped count; referential checks
    // are left-anti joins (never EXISTS-per-row). NaN membership is
    // tested with explicit isnan() on both engines, so no check depends
    // on either engine's NaN ordering. The driver's generated lineitem
    // genuinely contains duplicate (l_orderkey, l_linenumber) pairs, so
    // dup_pk reports real violations at every SF.
    QueryDef("dq_audit", (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val ord = Tables.load(s, d, "orders")
      val liScan = li.agg(
        coalesce(sum(when(col("l_quantity").isNull || isnan(col("l_quantity")), 1L)
          .otherwise(0L)), lit(0L)).as("null_or_nan_qty"),
        coalesce(sum(when(!isnan(col("l_quantity")) && col("l_quantity") <= 0, 1L)
          .otherwise(0L)), lit(0L)).as("nonpositive_qty"),
        coalesce(sum(when(isnan(col("l_discount")) ||
          col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)), lit(0L)).as("discount_range"))
        .selectExpr("stack(3, " +
          "'lineitem_null_or_nan_qty', null_or_nan_qty, " +
          "'lineitem_nonpositive_qty', nonpositive_qty, " +
          "'lineitem_discount_range', discount_range) AS (check_name, n_violations)")
      val dupPk = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_dup_pk").as("check_name"), col("n_violations"))
      val orphanLi = li.select("l_orderkey")
        .join(ord.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_orphan_orderkey").as("check_name"), col("n_violations"))
      val ordScan = ord.agg(
        coalesce(sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)), lit(0L))
          .as("null_date"))
        .selectExpr("stack(1, 'orders_null_date', null_date) AS (check_name, n_violations)")
      val orphanOrd = ord.select("o_custkey")
        .join(Tables.load(s, d, "customer").select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_orphan_custkey").as("check_name"), col("n_violations"))
      liScan.unionByName(dupPk).unionByName(orphanLi)
        .unionByName(ordScan).unionByName(orphanOrd)
        .orderBy("check_name")
    }, Some(
      "SELECT * FROM (" +
      "SELECT 'lineitem_null_or_nan_qty' AS check_name, " +
      "CAST(COALESCE(sum(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations FROM lineitem " +
      "UNION ALL SELECT 'lineitem_nonpositive_qty', " +
      "CAST(COALESCE(sum(CASE WHEN NOT isnan(l_quantity) AND l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem " +
      "UNION ALL SELECT 'lineitem_discount_range', " +
      "CAST(COALESCE(sum(CASE WHEN isnan(l_discount) OR l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem " +
      "UNION ALL SELECT 'lineitem_dup_pk', CAST(count(*) AS BIGINT) FROM " +
      "(SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1) " +
      "UNION ALL SELECT 'lineitem_orphan_orderkey', CAST(count(*) AS BIGINT) FROM lineitem l " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) " +
      "UNION ALL SELECT 'orders_null_date', " +
      "CAST(COALESCE(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders " +
      "UNION ALL SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT) FROM orders o " +
      "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)" +
      ") ORDER BY check_name"))
  )
}
