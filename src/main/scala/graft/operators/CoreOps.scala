package graft.operators

import graft.{QueryDef, Tables}
import graft.core.{KVS, Truncate}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Spark realizations of KMR's core + derived operator inventory
  * (SURVEY.md §2.1/§2.2), each exposed as a driver-checkable query.
  *
  * - wordcount        — kmr_map/shuffle/reduce canonical pipeline
  *                      (ex/wordcount.c:14-94)
  * - ranking          — kmr_ranking global contiguous index
  *                      (src/kmrmoreops.c:742-805)
  * - scan_prefix      — kmr_scan_on_values non-inclusive prefix scan
  *                      (src/kmrmoreops.c:931-972) on KVS's one scan kernel
  * - count_keys       — kmr_count_keys (src/kmrmoreops.c:1008-1024)
  * - minmax           — kmr_minmax2_fn-style aggregate (src/kmrmoreops.c:357-378)
  * - match_join       — kmr_match equi-join kernel (src/kmrmoreops.c:695-728)
  * - choose_first     — kmr_choose_first_part order-preserving limit
  *                      (src/kmrmoreops.c:1144-1163)
  * - sample_stride    — kmr_map_skipping / kmr_sample_kv stride sampling
  *                      (src/kmrbase.c:1191-1330, src/kmrmoreops.c:309-327)
  * - distribute_count — kmr_distribute re-balance + count conservation
  *                      (src/kmrmoreops.c:807-865)
  * - replicate_bcast  — kmr_replicate as a broadcast dim join
  *                      (src/kmrbase.c:2239-2350)
  * - sort_global      — kmr_sort sampling sort ≈ range-partitioned orderBy
  *                      (src/kmrmoreops.c:468-536)
  * - graysort         — ex/graysort.c: binary-key (memcmp-ordered) sort
  *                      of generated 100-byte records, sf-scaled
  * - histogram_ranks  — kmr_histogram_count_by_ranks partition stats
  *                      (src/kmrmoreops.c:1568-1629; no SQL oracle —
  *                      partitioning is not visible to DuckDB)
  */
object CoreOps {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("wordcount", (s, d) => {
      Tables.load(s, d, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("word"))
    }, Some(
      "SELECT word, count(*) AS cnt FROM (" +
      "SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word FROM documents) t " +
      "WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word")),

    QueryDef("ranking", (s, d) => {
      // Global 0-based contiguous rank in (n_chars desc, doc_id) order —
      // two-phase, no single-task stage: range-partition on the sort key,
      // sort within partitions, then zipWithIndex (per-partition counts →
      // driver offsets → per-partition index), exactly KMR's exclusive
      // prefix-counts-across-ranks design (src/kmrmoreops.c:742-805).
      rankByOrder(
        Tables.load(s, d, "documents").select(col("doc_id"), col("n_chars")),
        Seq(desc("n_chars"), col("doc_id")), "rank")
        .orderBy("rank")
    }, Some(
      "SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank " +
      "FROM documents ORDER BY rank")),

    QueryDef("scan_prefix", (s, d) => {
      // Non-inclusive prefix sum of event value (in exact integer cents)
      // in event_id order — kmr_scan_on_values semantics. Implemented
      // scalably: range-partition + per-partition partial sums + O(P)
      // driver-side carry (exactly KMR's rank-carry on rank0,
      // kmr_scan_across_ranks_sequentially src/kmrmoreops.c:871-929).
      val e = Tables.load(s, d, "events")
        .select(col("event_id"), graft.Tables.cents.as("cents"))
      prefixSumLong(s, e, "event_id", "cents", "prefix_cents")
        .select("event_id", "prefix_cents")
    }, Some(
      "SELECT event_id, CAST(coalesce(SUM(" + graft.Tables.centsSql + ") OVER (" +
      "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
      "AS prefix_cents FROM events ORDER BY event_id")),

    QueryDef("count_keys", (s, d) => {
      Tables.load(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }, Some(
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type")),

    QueryDef("minmax", (s, d) => {
      // sum computed in exact decimal so it is summation-order-independent
      // (distributed sums have no fixed order, unlike the reference's
      // single-threaded reduce).
      Tables.load(s, d, "lineitem").agg(
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        round(sum(col("l_quantity").try_cast(DecimalType(18, 6))), 2)
          .cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))
    }, Some(
      "SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
      "CAST(round(sum(TRY_CAST(l_quantity AS DECIMAL(18,6))),2) AS DOUBLE) AS sum_qty, " +
      "count(*) AS cnt FROM lineitem")),

    QueryDef("match_join", (s, d) => {
      // kmr_match: per matching key, the cross product of value lists —
      // exactly inner-join multiplicity.
      Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey", "c_name")
    }, Some(
      "SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY o_orderkey, c_name")),

    QueryDef("choose_first", (s, d) => {
      Tables.load(s, d, "events")
        .select("event_id", "event_type")
        .orderBy("event_id")
        .limit(50)
    }, Some(
      "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 50")),

    QueryDef("sample_stride", (s, d) => {
      Tables.load(s, d, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id")),

    QueryDef("distribute_count", (s, d) => {
      // kmr_distribute: even re-balance; observable effect = count
      // conservation (the balance itself is asserted in CoreOpsSpec).
      Tables.load(s, d, "events").repartition(32)
        .agg(count(lit(1)).as("cnt"))
    }, Some("SELECT count(*) AS cnt FROM events")),

    QueryDef("replicate_bcast", (s, d) => {
      Tables.load(s, d, "supplier")
        .join(broadcast(Tables.load(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    }, Some(
      "SELECT s_suppkey, s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
      "ORDER BY s_suppkey")),

    QueryDef("sort_global", (s, d) => {
      // kmr_sort_large sampling sort ≡ Spark RangePartitioner orderBy.
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(1000)
    }, Some(
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000")),

    QueryDef("stride_plan", (s, d) => {
      // kmr_map_skipping via the custom StrideSample plan node
      // (graft.plans): every 10th document of the doc_id order starting
      // at 2, as a first-class Catalyst operator.
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
      graft.plans.StrideSample.sample(docs, from = 2, stride = 10)
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, n_chars FROM (" +
      "SELECT doc_id, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rn " +
      "FROM documents) t WHERE rn >= 2 AND (rn - 2) % 10 = 0 ORDER BY doc_id")),

    QueryDef("graysort", (s, d) => {
      // GraySort-shaped benchmark (ex/graysort.c): n 100-byte records with
      // 10-byte binary keys (generated, deterministic), globally sorted
      // by unsigned-bytewise key order — Spark's RangePartitioner IS
      // kmr_sort_large's sampling sort, and BinaryType ordering is memcmp
      // (asserted in KVSSpec). n is derived from the events row count
      // (= 10·|events|, i.e. sf·10M) so the bench measures sort
      // throughput, not generator startup, and the oracle can derive the
      // same n from the same table. Output: the first 100 keys with
      // their ranks — SQL-oracled because sha256 hex is engine-portable
      // and fixed-width lowercase-hex order == memcmp byte order.
      val n = math.max(10000L, Tables.load(s, d, "events").count() * 10)
      val recs = s.range(n).select(
        unhex(substring(sha2(col("id").cast("string"), 256), 1, 20)).as("key"),
        concat(lpad(col("id").cast("string"), 10, "0"),
          repeat(lit("x"), 80)).cast("binary").as("payload"))
      // sort the FULL records (key + 90B payload) — projecting the key
      // out first would let column pruning drop the payload and the
      // bench would sort a tenth of the claimed bytes
      rankByOrder(recs, Seq(col("key")), "rank")
        .filter(col("rank") < 100)
        .select(hex(col("key")).as("key_hex"), col("rank"))
        .orderBy("rank")
    }, Some(
      "WITH ids AS (SELECT unnest(range(greatest(10000, (SELECT count(*) FROM events) * 10))) AS id), " +
      "keyed AS (SELECT upper(substr(sha256(CAST(id AS VARCHAR)), 1, 20)) AS key_hex FROM ids) " +
      "SELECT key_hex, CAST(row_number() OVER (ORDER BY key_hex) - 1 AS BIGINT) AS rank " +
      "FROM keyed ORDER BY key_hex LIMIT 100")),

    QueryDef("histogram_ranks", (s, d) => {
      // kmr_histogram_count_by_ranks under key_as_rank placement: the
      // application pins each record to rank (event_id mod 32) via the
      // KVS placeByKey partitioner, then counts elements per PHYSICAL
      // partition (spark_partition_id). Because placement is explicit,
      // the per-rank histogram is data-determined and SQL-oracle-able —
      // the oracle recomputes it as event_id % 32 with no partitioning.
      import s.implicits._
      val kvs = graft.core.KVS(Tables.load(s, d, "events")
        .select(col("event_id").cast("long"), lit(1L))
        .as[(Long, Long)])
        .placeByKey(32)(k => (k % 32).toInt)
      kvs.ds.toDF("event_id", "one")
        .groupBy(spark_partition_id().cast("long").as("rank"))
        .agg(count(lit(1)).as("cnt"))
        .agg(
          count(lit(1)).as("n_ranks"),
          min("cnt").as("min_cnt"),
          max("cnt").as("max_cnt"),
          round(avg("cnt"), 2).as("avg_cnt"))
    }, Some(
      "SELECT CAST(count(*) AS BIGINT) AS n_ranks, min(cnt) AS min_cnt, max(cnt) AS max_cnt, " +
      "round(avg(cnt), 2) AS avg_cnt FROM (" +
      "SELECT event_id % 32 AS rank, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1) t"))
  )

  /** Distributed non-inclusive prefix sum over a unique total order, on
    * the two-phase scan kernel [[KVS.scan]]: range-partitioned and sorted
    * within partitions, so the partition-order concatenation is the
    * global order; a null value counts as 0. With `keepVal` the value
    * rides along, saving the caller a re-scan and join. The sorted frame
    * is cached so both phases see identical partitioning. */
  def prefixSumLong(spark: SparkSession, df: DataFrame, orderCol: String,
      valCol: String, outCol: String, keepVal: Boolean = false): DataFrame = {
    val parts = spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)
    val schema = StructType(
      StructField(orderCol, LongType, nullable = false) +:
        (if (keepVal) Seq(StructField(valCol, LongType, nullable = false)) else Nil) :+
        StructField(outCol, LongType, nullable = false))
    Truncate.over(df
        .repartitionByRange(parts, col(orderCol))
        .sortWithinPartitions(orderCol)
        .select(col(orderCol).cast("long"), coalesce(col(valCol), lit(0L)).cast("long"))) { sorted =>
      val rows = KVS.scan(sorted.rdd, 0L)(_.getLong(1), _ + _) { (r, pre) =>
        if (keepVal) Row(r.getLong(0), r.getLong(1), pre) else Row(r.getLong(0), pre)
      }
      spark.createDataFrame(rows, schema)
        .orderBy(orderCol) // deterministic row order for the oracle gate
    }
  }

  /** Global 0-based contiguous index in the given sort order — KMR's
    * kmr_ranking (src/kmrmoreops.c:742-805) done the scalable way:
    * range-repartition on the sort key (sampling — same as Spark orderBy),
    * sort within partitions, then RDD zipWithIndex, whose implementation
    * is exactly the two-phase count-then-offset design. No single-task
    * stage at any point. */
  def rankByOrder(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)
    val sorted = df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(rankCol, LongType, nullable = false))
    val rows = sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(rows, schema)
  }
}
