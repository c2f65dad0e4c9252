package graft.algos

import graft.{Memo, QueryDef, Tables}
import graft.core.{Fold, Superstep}
import graft.core.Superstep.PreparedGraph
import graft.functions.DotProductD.dotD
import graft.sources.IndexSpec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal
import scala.collection.mutable
import scala.reflect.ClassTag

/** Iterative / linear-algebra workloads from the reference example suite
  * (ex/pagerank.c, ex/kmeans-kmr.c, ex/phoenix-matrix-multiply.c),
  * re-expressed as Spark iteration with explicit persist/unpersist and
  * periodic lineage truncation — the Spark idiom for KMR's
  * loop-of-map-reduce jobs. PageRank runs on the graph superstep
  * primitive [[graft.core.Superstep]] (co-partitioned edge blocks and
  * ranks, one `reduceByKey` a round), and k-means (with the IVF
  * quantizer) on one Lloyd kernel over cached primitive blocks, one job
  * an iteration.
  */
object Iterative {

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

  /** Freshness key of the trade graph: the content fingerprints of the
    * two key pairs [[tradeEdgesBuild]] reads (the lineitem half is the
    * one [[Graph.coPairsTable]] keys on). */
  private[graft] def tradeEdgesFp(s: SparkSession, d: String): String =
    Tables.contentFp(s, d, "lineitem", LineitemKeys) + "|" +
      Tables.contentFp(s, d, "orders", Seq("o_orderkey", "o_custkey"))

  private[graft] val LineitemKeys = Seq("l_orderkey", "l_suppkey")

  /** [[tradeEdgesBuild]] with the out-degree annotated at build time —
    * the degree is a pure function of the edge set, so persisting it in
    * the table removes prepareGraph's per-gate degree count over the
    * full edge set. Locally this is inside noise (the sf0.1 floor is
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
    * cut into the block cache at build. The PageRank loop
    * does not read the bucketed layout: [[tradeGraph]] hash-partitions
    * the edges by `src` once per corpus version, at the session's
    * parallelism, and caches them as primitive blocks. */
  private[graft] val tradeEdges: IndexSpec = IndexSpec("tradeedges", "tradeedges",
    "src BIGINT, dst BIGINT, deg BIGINT", "src", IndexSpec.Buckets,
    "lineitem (l_orderkey, l_suppkey), orders (o_orderkey, o_custkey)",
    tradeEdgesFp, tradeEdgesDegBuild)

  /** One prepared trade graph per JVM, stamped by the corpus fingerprint
    * (memoized per [[Tables.fsStamp]], so a hit costs a few file stats
    * and no job) and the partition count it was prepared at. One entry:
    * a graph is SF-proportional cached blocks, held on the driver heap
    * in local mode; a dropped graph is unpersisted. */
  private val tradeGraphs = new Memo[(SparkSession, String), PreparedGraph](1,
    Memo.released[PreparedGraph](_.spark)(_.unpersist()))

  /** The [[PreparedGraph]] of the served [[tradeEdges]], each edge
    * weighted by its source's out-degree: both pagerank gates loop over
    * it, so only the first call per corpus version pays the preparation
    * job. The loops end on truncated generations, so no gate output
    * reads the graph. */
  private[graft] def tradeGraph(s: SparkSession, d: String): PreparedGraph =
    tradeGraphs((s, d), (tradeEdgesFp(s, d), s.conf.get("spark.sql.shuffle.partitions")))(
      Superstep.prepare(tradeEdges(s, d), col("deg")))

  /** [[Superstep.prepare]] over a raw (src, dst) edge frame, each edge
    * weighted by its source's out-degree. */
  def prepareGraph(edges: DataFrame): PreparedGraph =
    Superstep.prepare(edges, count(lit(1)).over(Window.partitionBy("src")))

  /** PageRank (ex/pagerank.c, damping 0.85): rank mass flows along edges
    * each superstep; see [[supersteps]] for the per-round plan. Lineage
    * is truncated every few rounds so the plan stays O(1) deep regardless
    * of iteration count (the 100-iteration-on-100TB safety property).
    * Simplified variant: dangling-node mass is not redistributed
    * (matches the reference's per-edge formulation). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    prepareGraph(edges).use(pageRankOn(_, iters, damping))

  /** [[pageRank]] over a prepared graph: columns (id, rank). */
  def pageRankOn(g: PreparedGraph, iters: Int, damping: Double = 0.85): DataFrame = {
    import g.spark.implicits._
    val n = g.n.toDouble
    val base = (1 - damping) / n
    supersteps[Double](g, iters, init = 1.0 / n, noIn = base,
      contrib = (r, deg) => r * (1.0 / deg), plus = _ + _,
      update = m => base + damping * m)
      .toDF("id", "rank")
  }

  /** Fixed-point PageRank: the same supersteps as [[pageRank]] but every
    * rank is a BIGINT at scale 10^15 ("femto-rank"), per-edge
    * contributions are `r / deg` and the damping update is
    * `base + (85*m) / 100`, in Long arithmetic — integer sums are
    * order-independent, and Long division agrees with Spark's `div` and
    * DuckDB's `//` on non-negative operands, so unlike the float variant
    * this one is bit-reproducible across engines and gets a full hash
    * oracle (the unrolled-CTE replay, [[pagerankOracleSql]] — the k-means
    * oracle technique). The 10^15 scale keeps `init = SCALE / n` nonzero
    * up to 10^15 nodes while bounding every intermediate (85 * total mass
    * ≈ 8.5e16) far inside BIGINT. Rounding bias: each division discards
    * <1 femto of mass, so ranks drift low by at most iters*(deg+1)
    * femtos — deterministic, identical on both engines, and irrelevant at
    * ppm precision. */
  def pageRankExact(edges: DataFrame, iters: Int): DataFrame =
    prepareGraph(edges).use(pageRankExactOn(_, iters))

  /** Femto-rank scale of [[pageRankExact]] and [[pageRankBothOn]]. */
  private final val Scale = 1000000000000000L

  /** [[pageRankExact]] over a prepared graph: columns (id, r). */
  def pageRankExactOn(g: PreparedGraph, iters: Int): DataFrame = {
    import g.spark.implicits._
    val base = (15L * Scale) / (100L * g.n)
    supersteps[Long](g, iters, init = Scale / g.n, noIn = base,
      contrib = _ / _, plus = _ + _, update = m => base + (85 * m) / 100)
      .toDF("id", "r")
  }

  /** Fused twin-arithmetic PageRank: carries the double rank AND the
    * femto-fixed-point rank through ONE kernel + ONE reduce per
    * superstep (late round 9 — previously the `pagerank` gate ran
    * [[pageRankOn]] and [[pageRankExactOn]] as two full pipelines over
    * the shared graph, doubling every superstep's shuffle). The two
    * arithmetics stay independent per term — each rank is a pair whose
    * halves are contributed, summed and updated side by side — so the
    * 1e-9 float-vs-fixed-point certificate is as meaningful as before: it
    * compares the arithmetic, not the execution. Damping is fixed at 0.85
    * to match the integer path's `(85*m) / 100`. IterativeSpec pins
    * fused == separate on both columns. Columns (id, rank, r). */
  def pageRankBothOn(g: PreparedGraph, iters: Int): DataFrame = {
    import g.spark.implicits._
    val nD = g.n.toDouble
    val base = (15L * Scale) / (100L * g.n)
    val baseD = 0.15 / nD
    supersteps[(Double, Long)](g, iters, init = (1.0 / nD, Scale / g.n), noIn = (baseD, base),
      contrib = { case ((d, l), deg) => (d * (1.0 / deg), l / deg) },
      plus = { case ((d1, l1), (d2, l2)) => (d1 + d2, l1 + l2) },
      update = { case (m, mi) => (baseD + 0.85 * m, base + (85 * mi) / 100) })
      .map { case (id, (rank, r)) => (id, rank, r) }
      .toDF("id", "rank", "r")
  }

  /** The superstep loop all three PageRank variants run: each round is
    * one [[Superstep.relax]] of `contrib(rank(src), deg)` along every
    * edge, summed by `plus` per `dst` and damped by `update`; the
    * constant `noIn` ranks of the nodes without in-edges are unioned on
    * (a union of two RDDs under one partitioner keeps it). Ranks start at
    * `init`. A variant passes only its arithmetic. */
  private def supersteps[R: ClassTag](g: PreparedGraph, iters: Int, init: R, noIn: R,
      contrib: (R, Long) => R, plus: (R, R) => R, update: R => R): RDD[(Long, R)] = {
    val noInRanks = g.marks.filter(!_._2).mapValues(_ => noIn)
    Superstep.iterate(g.marks.mapValues(_ => init), iters)(
      Superstep.relax(g, _, keep = false)(contrib, plus).mapValues(update).union(noInRanks))
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

  /** How the Lloyd kernel ranks centroids for a vector, the least
    * `score(dot(e, c), dot(e, e), dot(c, c))` being the nearest. Each
    * instance replays its SQL assignment's arithmetic bit-for-bit. */
  private[graft] type Metric = (Double, Double, Double) => Double

  /** Squared L2 as [[l2Assign]] expands it: `sq − 2·dot(e, ce) + cc`. */
  private[graft] val L2: Metric = (dot, sq, cc) => sq - 2.0 * dot + cc

  /** Negated cosine, the order of AnnOps.ivfAssign: an undefined cosine
    * (a zero norm) scores +Infinity, after every defined one. */
  private[graft] val NegCos: Metric = (dot, ee, cc) => {
    val den = math.sqrt(cc) * math.sqrt(ee)
    if (den == 0.0) Double.PositiveInfinity else -(dot / den)
  }

  /** DotProductD's sum: ascending over the shorter prefix. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    for (i <- 0 until math.min(a.length, b.length)) acc += a(i) * b(i)
    acc
  }

  /** `try_cast(x AS DECIMAL(28,12))` by the steps Spark's Cast takes
    * (HALF_UP): null for NaN, ±Infinity and magnitudes past 10^16. */
  private def toDec(x: Double): Decimal =
    if (x.isNaN || x.isInfinite) null
    else { val q = Decimal(x); if (q.changePrecision(28, 12)) q else null }

  /** One partition's vectors as primitive arrays, plus its `k` lowest ids
    * as [[lloyd]] seeds them. A null vector stays null. A null component
    * reads NaN: the scores are then NaN against every centroid, which
    * ties exactly as SQL's all-NULL (L2) or all-+Infinity (cosine) scores
    * do, and [[toDec]] skips it as try_cast skips the NULL. `holes` marks
    * the vectors with a null component, whose NULL distance SQL's sum
    * leaves out of the inertia. */
  private final case class VecBlock(ids: Array[Long], vecs: Array[Array[Double]],
      holes: Array[Boolean], seeds: Seq[(Long, Array[Double])])

  /** Reads one partition of an `(id, e)` frame into a [[VecBlock]]. Seeds
    * read a null vector as empty and a null component as 0.0, as a
    * collected Row unboxes them. */
  private def vecBlock(k: Int)(rows: Iterator[InternalRow]): VecBlock = {
    val (ids, vs, holes) = (mutable.ArrayBuilder.make[Long],
      mutable.ArrayBuilder.make[Array[Double]], mutable.ArrayBuilder.make[Boolean])
    val low = mutable.PriorityQueue.empty[(Long, Array[Double])](Ordering.by(_._1))
    rows.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getArray(1)
      def read(nul: Double) = if (a == null) null
        else Array.tabulate(a.numElements())(i => if (a.isNullAt(i)) nul else a.getDouble(i))
      ids += r.getLong(0)
      vs += read(Double.NaN)
      holes += a != null && (0 until a.numElements()).exists(a.isNullAt)
      low += r.getLong(0) -> Option(read(0.0)).getOrElse(Array.emptyDoubleArray)
      if (low.size > k) low.dequeue()
    }
    VecBlock(ids.result(), vs.result(), holes.result(), low.toSeq)
  }

  /** The broadcast centroids of one Lloyd round, ascending by cid. */
  private[graft] final case class Centroids(cents: Array[(Long, Array[Double])], m: Metric) {
    val (cids, ces) = cents.sortBy(_._1).unzip
    private val ccs = ces.map(c => dot(c, c))

    /** (slot, score) of `e`'s nearest centroid: the first least score
      * under Spark's double order (NaN above +Infinity, −0.0 = 0.0), so
      * ties go to the lowest cid, as `least` and `min(struct)` rank
      * `(score, cid)`. A null vector, whose SQL scores all tie, takes
      * slot 0. */
    def nearest(e: Array[Double]): (Int, Double) = if (e == null) (0, Double.NaN) else {
      val ee = dot(e, e)
      cids.indices.map(j => (j, m(dot(e, ces(j)), ee, ccs(j))))
        .reduce((a, b) => if (SQLOrderingUtil.compareDoubles(b._2, a._2) < 0) b else a)
    }
  }

  /** One Lloyd round's fold: the summed scores of the vectors without a
    * null, and per (centroid slot, position) the exact sum and count of
    * the components [[toDec]] keeps. Decimal addition is
    * order-independent, so the merged sums do not depend on the
    * partitioning. */
  private final class LloydStats extends Serializable {
    var inertia = 0.0
    val sums = mutable.HashMap.empty[(Int, Int), (Decimal, Long)]
    def add(slotPos: (Int, Int), q: Decimal, n: Long): Unit = if (q != null)
      sums(slotPos) = sums.get(slotPos).fold((q, n)) { case (s, c) => (s + q, c + n) }
    def merge(o: LloydStats): LloydStats = {
      inertia += o.inertia
      o.sums.foreach { case (slotPos, (q, n)) => add(slotPos, q, n) }
      this
    }
  }

  /** Lloyd's loop (ex/kmeans-kmr.c), shared by [[kMeans]] and the IVF
    * quantizer (AnnOps.quantizer); `metric` is the only difference. The
    * `(id, e)` frame is read once into cached [[VecBlock]]s
    * ([[Fold.held]]), and the same job returns the seeds: the first `k`
    * vectors by id. Each iteration is one job, KMR's map → reduce: the
    * centroids are broadcast and one [[Fold]] of [[LloydStats]] brings
    * them to the driver. There a centroid's coordinate is the nearest
    * double of the exact sum, then one IEEE division (both steps
    * engine-portable, unlike a decimal quotient); a position no member
    * carries keeps the previous coordinate (0.0 past its end), the dim
    * grows to the highest surviving position + 1, and a centroid with
    * nothing surviving stays put. Returns the final
    * centroids (ascending cid) and the per-iteration inertia.
    *
    * The blocks keep the scan's partitioning. A repartition to the core
    * count measured flat in a same-window A/B (r17: 2.95 → 2.92/3.21 s;
    * OPTIMIZATION_r17.md): the cost at gate scale is the per-iteration
    * job, not the narrow compute. */
  private[graft] def lloyd(vecs: DataFrame, k: Int, iters: Int, metric: Metric)
      : (Array[(Long, Array[Double])], Seq[Double]) =
    Fold.held(vecs.select(col("id"), col("e")))(vecBlock(k)) { blocks =>
      var cents = blocks.flatMap(_.seeds).collect().sortBy(_._1).take(k)
      val history = for (_ <- 1 to iters if cents.nonEmpty) yield {
        val table = vecs.sparkSession.sparkContext.broadcast(Centroids(cents, metric))
        val stats = Fold(blocks)(new LloydStats)({ (st, b) =>
          for (i <- b.ids.indices if b.vecs(i) != null) {
            val (j, s) = table.value.nearest(b.vecs(i))
            if (!b.holes(i)) st.inertia += s
            for (p <- b.vecs(i).indices) st.add((j, p), toDec(b.vecs(i)(p)), 1L)
          }
          st
        })(_ merge _)
        table.destroy()
        val means = stats.sums.groupMap(_._1._1) { case ((_, p), (q, n)) => p -> q.toDouble / n }
        cents = cents.zipWithIndex.map { case ((cid, prev), j) =>
          cid -> means.get(j).map(_.toMap).fold(prev)(m => Array.tabulate(
            math.max(prev.length, m.keys.max + 1))(p => m.getOrElse(p, prev.lift(p).getOrElse(0.0))))
        }
        stats.inertia
      }
      (cents, history)
    }

  /** Lloyd's k-means (ex/kmeans-kmr.c, ex/phoenix-kmeans.c) over an
    * `(id, e)` frame: [[lloyd]] under [[L2]]. Returns the final
    * assignment (lazy, [[l2Assign]]) and the per-iteration inertia. */
  def kMeans(vecs: DataFrame, k: Int, iters: Int): (DataFrame, Seq[Double]) = {
    require(iters >= 1, s"kMeans needs at least one iteration, got $iters")
    val (cents, history) = lloyd(vecs, k, iters, L2)
    (l2Assign(vecs, cents), history)
  }

  /** Every vector's nearest centroid under squared L2, as (id, e, cid, d2).
    * SHUFFLE-FREE: the k centroids ride into the plan as literals and the
    * nearest is least() over k (d2, cid) structs, a narrow codegen'd
    * projection. ‖c‖² is folded on the driver with dotD's left-to-right
    * sum. Returned lazy: it derives only from the source vectors and the
    * literal centroids, so it leaves no persisted RDD behind. */
  private[graft] def l2Assign(vecs: DataFrame, cs: Array[(Long, Array[Double])]): DataFrame = {
    val structs = cs.map { case (cid, ce) =>
      val ceCol = array(ce.map(lit).toIndexedSeq: _*)
      struct((col("sq") - lit(2.0) * dotD(col("e"), ceCol) + lit(dot(ce, ce))).as("d2"),
        lit(cid).as("cid"))
    }
    val nearest = if (structs.length == 1) structs.head else least(structs.toIndexedSeq: _*)
    vecs.withColumn("sq", dotD(col("e"), col("e"))).select(col("id"), col("e"), nearest.as("m"))
      .select("id", "e", "m.cid", "m.d2")
  }

  /** DuckDB oracle for [[kMeans]]: the 5 Lloyd iterations unrolled as
    * CTE stages, replaying the engine's arithmetic bit-for-bit —
    * distances via ascending-order dot products (list_dot_product ==
    * DotProductD), argmin with the same (d2, cid) struct tie-break as
    * least(), centroid means as exact DECIMAL(28,12) sums cast to
    * DOUBLE then IEEE-divided by the count (the same two portable steps
    * the driver-side update performs). Assumes well-formed fixed-dim
    * vectors (like the matmul_gram oracle). On such input every member
    * carries every position, so the kernel's keep-the-previous-coordinate
    * and dim-growth rules never fire and the plain per-position means
    * replay it exactly. */
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
      // table (built once per corpus — see tradeEdges) and prepared once
      // per corpus version (tradeGraph).
      // Both arithmetics ride ONE fused pipeline (one kernel + one reduce
      // per superstep, late round 9 — the certificate compares the
      // arithmetic, not two executions); the run ends on a truncated
      // generation, so the certificate aggregate never reads the graph.
      pageRankBothOn(tradeGraph(s, d), iters = 5)
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
      pageRankExactOn(tradeGraph(s, d), iters = 5)
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
      // NULL/empty vectors carry no position — exclude them up front, as
      // the oracle's `v` does: seeded, one would be a centroid with no
      // coordinates (HostileEmbeddingsSpec runs this gate on them)
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
