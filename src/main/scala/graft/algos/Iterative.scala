package graft.algos

import graft.{QueryDef, Tables}
import graft.functions.DotProductD.dotD
import graft.sources.IndexSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative / linear-algebra workloads from the reference example suite
  * (ex/pagerank.c, ex/kmeans-kmr.c, ex/phoenix-matrix-multiply.c),
  * re-expressed as DataFrame iteration with explicit persist/unpersist
  * and periodic lineage truncation — the Spark idiom for KMR's
  * loop-of-map-reduce jobs.
  */
object Iterative {

  /** The shared, persisted intermediates both PageRank variants consume:
    * node set (with its count), degree-annotated edges, and the static
    * no-in-edge node ids. Building this once and feeding it to both the
    * double and fixed-point pipelines means the (possibly expensive)
    * caller edge plan — a join + distinct in the gate — is evaluated
    * exactly once per session instead of once per variant. */
  final case class PreparedGraph(nodes: DataFrame, n: Long,
      edgesDeg: DataFrame, noInIds: DataFrame,
      shared: Seq[DataFrame] = Nil) {
    def unpersist(): Unit = {
      nodes.unpersist(false); edgesDeg.unpersist(false); noInIds.unpersist(false)
      shared.foreach(_.unpersist(false))
    }
  }

  /** Trade-graph edge build (customer → supplier via orders⋈lineitem,
    * ex/pagerank.c's link-list input re-derived from the TPC-H tables) —
    * shared by the two pagerank gates. */
  private[graft] def tradeEdgesBuild(s: SparkSession, d: String): DataFrame = {
    val o = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
    val l = Tables.load(s, d, "lineitem").select("l_orderkey", "l_suppkey")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"))
      .distinct()
  }

  // Fingerprint memoized per corpus version: each pagerank gate would
  // otherwise re-run two full-table aggregates per invocation.
  private[graft] def tradeEdgesFp(s: SparkSession, d: String): String =
    Tables.fingerprint(s, d, "tradeedges", "lineitem", "orders") {
      // sum(hash(k1,k2)) rather than sum(k1)+sum(k2): plain column sums
      // are permutation-blind (swapping o_custkey between two orders
      // preserves count and sum but changes the edge set), while a
      // per-ROW hash folds the key PAIRING into the aggregate, so any
      // reassignment moves it.
      val rl = Tables.load(s, d, "lineitem").agg(
        count(lit(1)).cast("long"),
        coalesce(sum(hash(col("l_orderkey"), col("l_suppkey")).cast("long")), lit(0L))).head()
      val ro = Tables.load(s, d, "orders").agg(
        count(lit(1)).cast("long"),
        coalesce(sum(hash(col("o_orderkey"), col("o_custkey")).cast("long")), lit(0L))).head()
      s"${rl.getLong(0)}|${rl.getLong(1)}|${ro.getLong(0)}|${ro.getLong(1)}"
    }

  /** [[tradeEdgesBuild]] with the out-degree annotated at build time —
    * the degree is a pure function of the edge set, so persisting it in
    * the table removes prepareGraph's per-gate degree groupBy+join over
    * the full edge set. Locally this is inside noise (the sf0.1 floor is
    * the superstep loop and job-scheduling overhead, measured unchanged
    * at ~4.6 s); the point is the 100 TB shape — one less full-edge-set
    * shuffle per consumer, paid once at index build instead. */
  private[graft] def tradeEdgesDegBuild(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdgesBuild(s, d)
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg"))
  }

  /** Durable trade-edge table (the [[Graph.coPairsTable]] shape, late
    * round 9): the orders⋈lineitem + distinct is the expensive half of
    * each pagerank gate (~4.5 s of 7 at sf0.1, more than the fused
    * superstep loop itself) and is identical across gates — so it is
    * written ONCE per corpus as a bucketed external table and served
    * from disk afterwards, even by a brand-new SparkSession on the same
    * warehouse. The fingerprint covers both source tables. Unlike the
    * O(2000) coPairs set, this table is SF-proportional, so it is NOT
    * localCheckpoint'ed into the block cache at build. The PageRank loop
    * still caches a copy per call ([[prepareGraphDegreed]]), coalesced
    * to the session's parallelism and so no longer bucketed: at sf0.01
    * its join broadcasts `ranks`, so the hash layout buys it nothing. At
    * sf0.1 the planner, estimating a lazily persisted generation at
    * ~1 TB, plans a sort-merge join that then shuffles the coalesced
    * edges in supersteps 2-5 (4 more jobs per call, still faster). */
  private[graft] val tradeEdges: IndexSpec = IndexSpec("tradeedges", "tradeedges",
    "src BIGINT, dst BIGINT, deg BIGINT", "src", IndexSpec.Buckets,
    "lineitem, orders", tradeEdgesFp, tradeEdgesDegBuild)

  /** Materialize the shared PageRank intermediates from a raw (src, dst)
    * edge frame. Every member is persisted and eagerly computed; call
    * [[PreparedGraph.unpersist]] once all consumers have materialized
    * their results (both variants end on an eager localCheckpoint, so
    * their outputs outlive the cache). */
  def prepareGraph(edges: DataFrame): PreparedGraph = {
    // The caller's edge plan may be arbitrarily expensive and is
    // referenced three times below (nodes union ×1, edgesDeg ×2) —
    // persist it so the upstream build runs exactly once.
    val e = edges.persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    val n = nodes.count()
    // Degree-annotated edges computed ONCE and persisted — each loop
    // body touches only (edgesDeg ⋈ ranks), never the raw edge build.
    val edgesDeg = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg"))
      .persist()
    edgesDeg.count()
    e.unpersist(false)
    // Nodes with no in-edges keep a constant rank forever — that set is
    // static, so it is computed ONCE and each variant unions its own
    // constant over these ids instead of re-deriving it with a
    // per-superstep left-outer join against the full node set.
    val noInIds = nodes
      .join(edgesDeg.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"))
      .persist()
    noInIds.count()
    PreparedGraph(nodes, n, edgesDeg, noInIds)
  }

  /** [[prepareGraph]] over an edge frame that ALREADY carries the
    * out-degree (the persisted trade-edge table) — skips the per-gate
    * degree groupBy+join over the full edge set; node set and no-in ids
    * are still derived here (cheap distincts). */
  def prepareGraphDegreed(edgesDeg0: DataFrame): PreparedGraph = {
    // At most one partition per shuffle partition (the session's core
    // count, see Sessions.build). The cache keeps a served table's
    // bucketed layout, so without the coalesce every superstep's map
    // stage would run one task per bucket (32) on any core count.
    val parts = edgesDeg0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val edgesDeg = edgesDeg0.select(col("src"), col("dst"), col("deg"))
      .coalesce(parts).persist()
    edgesDeg.count()
    // Node set AND the no-in-edge subset from ONE explode+aggregate pass
    // over the cached edges (r16 optimization round): the previous form
    // ran a union+distinct for nodes, a second dst-distinct, and an
    // anti-join for noInIds — two extra full-edge passes and three
    // driver-synchronized counts for the same two sets. `hasIn` is a
    // max() over endpoint markers, so noInIds = marks where hasIn = 0
    // is exactly "appears only as src" — the set the anti-join computed.
    // Both views read the one persisted `marks` cache (materialized by
    // the count below, BEFORE the supersteps read it through their union
    // branches — the eager-priming discipline the rejected count-trim
    // experiment in OPTIMIZATION_r16.md validated).
    val marks = edgesDeg.select(explode(array(
        struct(col("src").as("id"), lit(0).as("t")),
        struct(col("dst").as("id"), lit(1).as("t")))).as("m"))
      .groupBy(col("m.id").as("id"))
      .agg(max(col("m.t")).as("hasIn"))
      .persist()
    val n = marks.count()
    val nodes = marks.select(col("id"))
    val noInIds = marks.filter(col("hasIn") === 0).select(col("id"))
    PreparedGraph(nodes, n, edgesDeg, noInIds, shared = Seq(marks))
  }

  /** PageRank (ex/pagerank.c, damping 0.85): rank mass flows along edges
    * each superstep; per-iteration cost is one join + one aggregation,
    * both shuffled on node id. Ranks are persisted per iteration and the
    * previous generation unpersisted; lineage is truncated every few
    * rounds so the plan stays O(1) deep regardless of iteration count
    * (the 100-iteration-on-100TB safety property).
    * Simplified variant: dangling-node mass is not redistributed
    * (matches the reference's per-edge formulation). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val g = prepareGraph(edges)
    val out = pageRankOn(g, iters, damping)
    g.unpersist()
    out
  }

  /** [[pageRank]] over pre-built shared intermediates — the gate path:
    * one [[prepareGraph]] feeds this AND [[pageRankExactOn]]. */
  def pageRankOn(g: PreparedGraph, iters: Int, damping: Double = 0.85): DataFrame = {
    val n = g.n.toDouble
    // Contribution is rank * (1.0/deg); the weight is a narrow
    // projection over the persisted edgesDeg.
    supersteps(g, iters,
      edgeCols = Seq((lit(1.0) / col("deg")).as("w")),
      init = Seq(lit(1.0 / n).as("rank")),
      noIn = Seq(lit((1 - damping) / n).as("rank")),
      aggs = Seq(sum(col("rank") * col("w")).as("m")),
      update = Seq((lit((1 - damping) / n) + lit(damping) * col("m")).as("rank")))
  }

  /** Fixed-point PageRank: the same superstep structure as [[pageRank]]
    * but every rank is a BIGINT at scale 10^15 ("femto-rank"), per-edge
    * contributions are `r div deg`, and the damping update is
    * `base + (85*m) div 100` — integer sums are order-independent and
    * Spark's `div` agrees with DuckDB's `//` on non-negative operands,
    * so unlike the float variant this one is bit-reproducible across
    * engines and gets a full hash oracle (the unrolled-CTE replay,
    * [[pagerankOracleSql]] — the k-means oracle technique). The 10^15
    * scale keeps `init = SCALE div n` nonzero up to 10^15 nodes while
    * bounding every intermediate (85 * total mass ≈ 8.5e16) far inside
    * BIGINT. Rounding bias: each div discards <1 femto of mass, so
    * ranks drift low by at most iters*(deg+1) femtos — deterministic,
    * identical on both engines, and irrelevant at ppm precision. */
  def pageRankExact(edges: DataFrame, iters: Int): DataFrame = {
    val g = prepareGraph(edges)
    val out = pageRankExactOn(g, iters)
    g.unpersist()
    out
  }

  /** Femto-rank scale of [[pageRankExact]] and [[pageRankBothOn]]. */
  private final val Scale = 1000000000000000L

  /** [[pageRankExact]] over pre-built shared intermediates. */
  def pageRankExactOn(g: PreparedGraph, iters: Int): DataFrame = {
    val base = (15L * Scale) / (100L * g.n)
    supersteps(g, iters,
      edgeCols = Seq(col("deg")),
      init = Seq(lit(Scale / g.n).as("r")),
      noIn = Seq(lit(base).as("r")),
      aggs = Seq(sum(expr("r div deg")).as("m")),
      update = Seq((lit(base) + expr("(85 * m) div 100")).as("r")))
  }

  /** Fused twin-arithmetic PageRank: carries the double rank AND the
    * femto-fixed-point rank through ONE join + ONE aggregation per
    * superstep (late round 9 — previously the `pagerank` gate ran
    * [[pageRankOn]] and [[pageRankExactOn]] as two full pipelines over
    * the shared graph, doubling every superstep's shuffle). The two
    * arithmetics stay independent per-term — `sum(rank*w)` and
    * `sum(r div deg)` fold side by side in the same hash aggregate — so
    * the 1e-9 float-vs-fixed-point certificate is as meaningful as
    * before: it compares the arithmetic, not the execution. Damping is
    * fixed at 0.85 to match the integer path's `(85*m) div 100`.
    * IterativeSpec pins fused == separate on both columns. */
  def pageRankBothOn(g: PreparedGraph, iters: Int): DataFrame = {
    val nD = g.n.toDouble
    val base = (15L * Scale) / (100L * g.n)
    val baseD = 0.15 / nD
    supersteps(g, iters,
      edgeCols = Seq(col("deg"), (lit(1.0) / col("deg")).as("w")),
      init = Seq(lit(1.0 / nD).as("rank"), lit(Scale / g.n).as("r")),
      noIn = Seq(lit(baseD).as("rank"), lit(base).as("r")),
      aggs = Seq(sum(col("rank") * col("w")).as("m"), sum(expr("r div deg")).as("mi")),
      update = Seq((lit(baseD) + lit(0.85) * col("m")).as("rank"),
        (lit(base) + expr("(85 * mi) div 100")).as("r")))
  }

  /** The superstep loop all three PageRank variants run: each round joins
    * the edges (`src`, `dst` plus `edgeCols`) to the current ranks on
    * `src`, folds `aggs` per `dst`, applies `update`, and appends the
    * constant `noIn` ranks of the nodes without in-edges. Ranks start at
    * `init`. A variant passes only these columns; its arithmetic lives in
    * them.
    *
    * Generations are persisted LAZILY and materialized only at each
    * lineage-truncation point (every 5 rounds and the last): every
    * generation caches as it is first computed, so each is computed once
    * however many later rounds read it. It does not save jobs — under
    * adaptive execution each superstep still runs its own (16 jobs for 5
    * supersteps). */
  private def supersteps(g: PreparedGraph, iters: Int, edgeCols: Seq[Column],
      init: Seq[Column], noIn: Seq[Column], aggs: Seq[Column],
      update: Seq[Column]): DataFrame = {
    val edges = g.edgesDeg.select(col("src") +: col("dst") +: edgeCols: _*)
    val noInRanks = g.noInIds.select(col("id") +: noIn: _*)
    var ranks = g.nodes.select(col("id") +: init: _*).persist()
    val window = scala.collection.mutable.ArrayBuffer[DataFrame](ranks)
    for (i <- 1 to iters) {
      val next = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("id") +: update: _*)
        .union(noInRanks)
      ranks =
        if (i % 5 == 0 || i == iters) {
          // eager checkpoint runs the window's chain; afterwards the
          // intermediate generations are dead — drop their cache entries
          val m = next.localCheckpoint(true)
          window.foreach(_.unpersist(false))
          window.clear()
          window += m
          m
        } else { val p = next.persist(); window += p; p }
    }
    ranks
  }

  /** DuckDB oracle for [[pageRankExact]] over the trade graph: the
    * supersteps unrolled as CTE pairs (contribution sum, damped update),
    * replaying the engine's integer arithmetic exactly — `//` is floor
    * division, `div` truncates toward zero, and the two agree because
    * every operand is non-negative. */
  private def pagerankOracleSql(iters: Int): String = {
    val S = "1000000000000000"
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         SELECT ew.dst AS id, CAST(sum(r.r // ew.deg) AS BIGINT) AS m
         FROM ew JOIN r${i - 1} r ON ew.src = r.id GROUP BY ew.dst),
         r$i AS (
         SELECT n.id, CAST((SELECT (15 * $S) // (100 * count(*)) FROM nodes)
           + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
         FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH edges AS (
       SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
       r0 AS (SELECT id, CAST($S // (SELECT count(*) FROM nodes) AS BIGINT) AS r FROM nodes),
       $iterCtes
       SELECT id, r AS rank_fp FROM r$iters ORDER BY rank_fp DESC, id LIMIT 100"""
  }

  /** Lloyd's k-means (ex/kmeans-kmr.c, ex/phoenix-kmeans.c):
    * deterministic init (first k vectors by id); each iteration assigns
    * every vector to its nearest centroid (broadcast centroids, native
    * dot_d distance) and recomputes component-wise means via
    * posexplode + groupBy — all shuffles are O(n·dim) rows keyed by
    * (cluster, component). Returns (iteration, inertia) history plus
    * final assignment. */
  def kMeans(vecs: DataFrame, k: Int, iters: Int): (DataFrame, Seq[Double]) = {
    require(iters >= 1, s"kMeans needs at least one iteration, got $iters")
    // NOT repartitioned to cores (r17): the embeddings scan yields one
    // partition at bench SF, so the per-iteration distance stages run
    // nearly serial — but a same-window A/B of a conditional
    // repartition(cores, id) before the persist (19→300 tasks) measured
    // 2.95→2.92/3.21 across two windows: FLAT. The gate's floor is the
    // five driver-synchronized aggregate collects (Lloyd with
    // driver-resident centroids), not the narrow compute; at corpus
    // scale the scan is already wide. See OPTIMIZATION_r17.md.
    val v = vecs.select(col("id"), col("e"), dotD(col("e"), col("e")).as("sq")).persist()
    v.count()
    val dim = v.select(size(col("e"))).first().getInt(0)
    var centroids = v.orderBy("id").limit(k)
      .select(col("id").as("cid"), col("e").as("ce"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    // Assignment is SHUFFLE-FREE: k is small, so the k centroids ride
    // into the plan as literals and the nearest one is least() over k
    // (d2, cid) structs — a narrow codegen'd projection over the cached
    // vectors, no crossJoin row explosion, no per-id re-aggregation.
    // ‖c‖² is folded on the driver (same left-to-right summation as
    // dotD, so distances are bit-identical to the joined formulation).
    def assign(cs: Array[(Long, Array[Double])]): DataFrame = {
      val structs = cs.map { case (cid, ce) =>
        val ceCol = array(ce.map(lit).toIndexedSeq: _*)
        val cc = ce.foldLeft(0.0)((acc, x) => acc + x * x)
        struct((col("sq") - lit(2.0) * dotD(col("e"), ceCol) + lit(cc)).as("d2"),
          lit(cid).as("cid"))
      }
      val nearest = if (structs.length == 1) structs.head
        else least(structs.toIndexedSeq: _*)
      v.select(col("id"), col("e"), nearest.as("m"))
        .select(col("id"), col("e"), col("m.cid").as("cid"), col("m.d2").as("d2"))
    }

    val history = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val assigned = assign(centroids)
      // ONE flat aggregate per iteration: per-cluster count, inertia
      // contribution, and all component sums (map-side partial agg; the
      // shuffle is k rows × (dim+2) columns) — replaces the previous
      // posexplode + double groupBy + separate inertia job.
      // get() (not getItem): a vector shorter than dim contributes null
      // to the components it lacks — skipped by sum — instead of an ANSI
      // INVALID_ARRAY_INDEX that kills the job on one malformed row. Each
      // component carries its own non-null count as the mean denominator:
      // dividing a null-skipping sum by the full cluster size would bias
      // coordinates toward zero whenever short vectors are members.
      // Component sums run in exact DECIMAL (the matmul_gram technique):
      // decimal addition is order-independent, so the recomputed
      // centroids — and therefore the final assignment — are identical
      // across partitionings and engines, which is what lets the gate
      // hash-compare this iterative pipeline against DuckDB at all.
      // try_cast degrades NaN (and beyond-range magnitudes) to null, so
      // the per-component denominator must count the SAME try_cast
      // expression the sum consumed — counting raw non-null doubles
      // would divide by members the sum skipped (and NPE on an all-NaN
      // component whose sum is null but raw count is not).
      // (d2 stays a double sum: it only feeds the spec-level inertia
      // history, never the centroids or the gate output.)
      val aggCols = count(lit(1)).as("cnt") +: sum("d2").as("sd2") +:
        ((0 until dim).map(i =>
          sum(expr(s"try_cast(get(e, $i) AS DECIMAL(28,12))")).as(s"s$i")) ++
          (0 until dim).map(i =>
            count(expr(s"try_cast(get(e, $i) AS DECIMAL(28,12))")).as(s"c$i")))
      // stats row layout: cid(0), cnt(1), sd2(2), s0..s{dim-1} from 3,
      // c0..c{dim-1} from 3+dim
      val stats = assigned.groupBy("cid").agg(aggCols.head, aggCols.tail: _*).collect()
      history += stats.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2)).sum
      val prev = centroids.toMap
      val updated = stats.map { r =>
        val cid = r.getLong(0)
        // a component no member carries (count 0) keeps the previous
        // centroid's coordinate
        (cid, Array.tabulate(dim) { i =>
          val n = r.getLong(3 + dim + i)
          if (n == 0L)
            prev.get(cid).collect { case ce if ce.length > i => ce(i) }.getOrElse(0.0)
          // nearest-double of the exact decimal sum, THEN an IEEE double
          // division — both steps are engine-portable, unlike dividing
          // in decimal (engines disagree on quotient scale rules)
          else r.getDecimal(3 + i).doubleValue / n
        })
      }.toMap
      // a cluster that lost all members keeps its previous centroid
      // (Lloyd's convention) instead of silently vanishing below k
      centroids = centroids.map { case (cid, ce) => (cid, updated.getOrElse(cid, ce)) }
    }
    // Final assignment: returned LAZY. It derives only from the source
    // vectors and the literal final centroids, so consumers recompute it
    // with one narrow scan — and the loop's cache entry can be dropped
    // here, leaving no persisted RDD behind (an eager checkpoint would
    // itself persist the full assignment with no one to unpersist it —
    // the round-1 review's persist-leak lesson, both directions).
    val fin = assign(centroids)
    v.unpersist(false)
    (fin, history.result())
  }

  /** DuckDB oracle for [[kMeans]]: the 5 Lloyd iterations unrolled as
    * CTE stages, replaying the engine's arithmetic bit-for-bit —
    * distances via ascending-order dot products (list_dot_product ==
    * DotProductD), argmin with the same (d2, cid) struct tie-break as
    * least(), centroid means as exact DECIMAL(28,12) sums cast to
    * DOUBLE then IEEE-divided by the count (the same two portable steps
    * the driver-side update performs). Assumes well-formed fixed-dim
    * vectors (like the matmul_gram oracle); the engine's short-vector /
    * empty-cluster branches never fire on such input, so the replay is
    * exact. */
  private def kmeansOracleSql(k: Int, dim: Int, iters: Int): String = {
    def assign(out: String, cin: String) =
      s"""$out AS (
         SELECT v.id AS id,
           (min(struct_pack(d := v.sq - 2*list_dot_product(v.e, c.ce) + c.cc,
                            c := c.cid))).c AS cid
         FROM v, $cin c GROUP BY v.id)"""
    val iterCtes = (1 to iters).map { i =>
      s"""${assign(s"a$i", s"c${i - 1}")},
         s$i AS (
           SELECT a.cid AS cid, p.i AS pos,
             CAST(sum(TRY_CAST(v.e[p.i+1] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
           FROM a$i a JOIN v USING (id), range(0, $dim) p(i)
           GROUP BY 1, 2),
         c$i AS (
           SELECT cid, list(m ORDER BY pos) AS ce,
             list_dot_product(list(m ORDER BY pos), list(m ORDER BY pos)) AS cc
           FROM s$i GROUP BY cid)"""
    }.mkString(",\n")
    s"""WITH v AS (
       SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sq
       FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
       c0 AS (SELECT id AS cid, e AS ce, sq AS cc FROM v ORDER BY id LIMIT $k),
       $iterCtes,
       ${assign("fin", s"c$iters")}
       SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
       FROM fin GROUP BY cid ORDER BY cid"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- PageRank over the customer→supplier trade graph (who bought
    // from whom, via orders⋈lineitem). The double-arithmetic ranks are
    // partition-order-sensitive in their last bits, so the gate emits
    // the CERTIFICATE: n_nodes is exact SQL, and all_close pins every
    // node's double rank within 1e-9 of the femto-fixed-point exact
    // twin (pagerank_exact) — the integer pipeline truncates <= in_deg
    // femtos per superstep, so 1e-9 is a ~1000x margin. IterativeSpec
    // additionally validates against a sequential reference fold.
    QueryDef("pagerank", (s, d) => {
      // Edge set (WITH out-degrees) served from the durable bucketed
      // table (built once per corpus — see tradeEdges).
      // Both arithmetics ride ONE fused pipeline (one join + one agg per
      // superstep, late round 9 — the certificate compares the
      // arithmetic, not two executions); the run ends on an eager
      // localCheckpoint, so the shared graph cache can be dropped before
      // the certificate aggregate is materialized.
      val g = prepareGraphDegreed(tradeEdges(s, d))
      val both = pageRankBothOn(g, iters = 5)
      g.unpersist()
      both
        .agg(count(lit(1)).as("n_nodes"),
          when(max(abs(col("rank") - col("r").cast("double") / 1e15)) <= 1e-9, 1L)
            .otherwise(0L).as("all_close"))
    }, Some(
      "WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_nodes, CAST(1 AS BIGINT) AS all_close " +
      "FROM nodes")),

    // ---- Fixed-point PageRank over the same trade graph — the oracled
    // twin of `pagerank`: BIGINT femto-ranks make the whole 5-superstep
    // pipeline order-independent, so this one hash-compares against a
    // full DuckDB CTE replay (closing the "iterative float has no
    // oracle" gap the same way kmeans_clusters did).
    QueryDef("pagerank_exact", (s, d) => {
      val g = prepareGraphDegreed(tradeEdges(s, d))
      val out = pageRankExactOn(g, iters = 5)
      g.unpersist()
      out
        .select(col("id"), col("r").as("rank_fp"))
        .orderBy(desc("rank_fp"), col("id"))
        .limit(100)
    }, Some(pagerankOracleSql(5))),

    // ---- k-means over the embeddings (k=8, 5 iterations); emits the
    // final cluster sizes. DECIMAL component sums make every centroid —
    // and so the whole iterative pipeline — order-independent, which is
    // what lets an unrolled DuckDB replay hash-match it exactly.
    // IterativeSpec additionally asserts inertia monotonicity and
    // nearest-centroid consistency.
    QueryDef("kmeans_clusters", (s, d) => {
      // NULL/empty vectors carry no position — exclude them up front, or
      // centroid init NPEs when one lands in the first k rows
      // (HostileEmbeddingsSpec pins this)
      val v = Tables.load(s, d, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id").as("id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      val (assigned, _) = kMeans(v, k = 8, iters = 5)
      assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
        .orderBy("cid")
    }, Some(kmeansOracleSql(k = 8, dim = 64, iters = 5))),

    // ---- Gram matrix V'V of the first 100 embeddings — the matrix-
    // multiply kernel (ex/phoenix-matrix-multiply.c) as join+aggregate.
    // Products are summed in exact decimal so the distributed sum is
    // order-independent and oracle-comparable.
    QueryDef("matmul_gram", (s, d) => {
      val v = Tables.load(s, d, "embeddings")
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("col").as("x"))
      v.as("a").join(v.as("b"), "vec_id")
        .groupBy(col("a.pos").as("p1"), col("b.pos").as("p2"))
        // try_cast: a product beyond DECIMAL(28,12) (or NaN) degrades to
        // NULL instead of an ANSI NUMERIC_VALUE_OUT_OF_RANGE crash
        .agg(round(sum(expr("try_cast(a.x * b.x AS DECIMAL(28,12))")), 8)
          .cast("double").as("dot"))
        .orderBy("p1", "p2")
    }, Some(
      "WITH m AS (SELECT vec_id, i - 1 AS pos, CAST(embedding AS DOUBLE[])[i] AS x " +
      "FROM embeddings CROSS JOIN range(1, 65) r(i) WHERE vec_id < 100) " +
      "SELECT a.pos AS p1, b.pos AS p2, " +
      "CAST(round(sum(TRY_CAST(a.x * b.x AS DECIMAL(28,12))), 8) AS DOUBLE) AS dot " +
      "FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY 1, 2 ORDER BY p1, p2"))
  )
}
