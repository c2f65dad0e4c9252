package graft.algos

import graft.{Memo, QueryDef, Tables}
import graft.core.{Fold, Truncate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** FlexDice — the reference's bundled grid/density cluster-analysis
  * program, "particularly suited to outlier detection"
  * (reference tool/README.md; tool/flexdice.c, tool/flexdice.h,
  * tool/flexdicemain.c; published as "A Clustering Method using an
  * Irregular Size Cell Graph", RIDE-SDMA 2005). Semantics re-expressed
  * Spark-first over the `events` table's 2-D numeric space
  * (x = value, y = user_id), parameters = the reference main's
  * defaults (tool/flexdicemain.c:42-46: dmin=4, dfac=5, nlayers=7).
  *
  * Phase 1 (tool/flexdice.c:420-497): the space is diced top-down —
  * each MIDDLE cell splits at its midpoint per dimension (bit = value
  * strictly above center, tool/flexdice.c:1070-1082), only NONEMPTY
  * children materialize. A cell with < dmin objects is SPARSE (its
  * objects are noise/outliers); a cell at the bottom layer is DENSE;
  * after a whole layer divides, a cell whose nonempty-child count
  * exceeds threshold = int(dfac · avg-children-at-layer) is re-marked
  * DENSE and its division undone (tool/flexdice.c:455-473 — the
  * "irregular size cell" rule: a cell that shatters into many small
  * pieces is itself the dense unit).
  *
  * Phase 2 (tool/flexdice.c:1152-1216): DENSE cells adjacent along an
  * axis — possibly at DIFFERENT levels, the quadtree neighbor rule of
  * set_direct_adjacency (tool/flexdice.c:1095-1149) — merge into
  * clusters (connected components).
  *
  * Spark shape, designed for the 100 TB case: phase 1 is two folds
  * over one cached primitive read of the points — the bounds, then a
  * per-partition histogram of every level's cells (a fixed 5,461-slot
  * array: the grid is bounded by construction) merged by `treeReduce`
  * — and the layer cascade runs on the driver over ≤ 5,461 cells; no
  * object ever reaches the driver. The outliers are a lazy map-only
  * probe of each object's ancestor cells (every level's coordinate is
  * a deterministic midpoint comparison, unrolled nlayers deep) against
  * the broadcast sparse cells. Adjacency joins dense CELLS (≤ n/dmin
  * rows, integer keys) against their O(levels·dims) ancestor candidates
  * — an equality join, never a spatial cross — and clustering is a
  * driver union-find over that adjacency, bounded by the 5,461-cell
  * grid at any corpus size (see flexdice_clusters). Everything is
  * integer-or-IEEE-exact, so a DuckDB oracle replays the whole
  * pipeline: the midpoint recursion
  * unrolled per level, the layer threshold (floor of the same double
  * product the C code truncates), and the cluster merge as a recursive
  * CTE.
  */
object FlexDice {

  private val DMin = 4L // dense-min: cells under this are SPARSE
  private val DFacInt = 5 // dense-factor (the reference parses an int)
  private val DFac = DFacInt.toDouble
  private val NLayers = 7 // bottom level = NLayers - 1
  /** Cells in the whole NLayers-level grid, Σ_{l<NLayers} 4^l: the
    * bound on every driver collect of cells. */
  private[algos] val MaxCells: Int = (0 until NLayers).map(l => 1 << (2 * l)).sum
  // cell key packing: level · 2^40 + cx · 2^20 + cy (coords < 2^(nlayers-1))
  private val KeyLvl = 1L << 40
  private val KeyCx = 1L << 20
  private val DblMax = java.lang.Double.MAX_VALUE

  /** (id, x, y) — finite 2-D points. NaN/Inf are excluded by the same
    * predicate in both engines (both order NaN above every finite
    * double, so abs(v) <= DBL_MAX rejects NaN and ±Inf identically);
    * the reference's fscanf input path never produces them. */
  private def pts(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .filter(col("event_id").isNotNull && col("value").isNotNull &&
        col("user_id").isNotNull)
      .select(col("event_id").as("id"), col("value").as("x"),
        col("user_id").cast("double").as("y"))
      .filter(abs(col("x")) <= DblMax && abs(col("y")) <= DblMax)

  /** The path projection over an arbitrary (id, x, y) frame against
    * FIXED bounds — shared by the batch outlier probe (bounds = the
    * dice's corpus min/max) and the streaming probe (bounds = the
    * TRAINED dice's bounds, so an arriving point lands in exactly the
    * cell the batch run would have put it in). The same walk as
    * [[histogram]]'s, as a projection that works on batch and streaming
    * frames alike. */
  private[graft] def pathsFor(p: DataFrame, xmin: Double, xmax: Double,
      ymin: Double, ymax: Double): DataFrame = {
    // one select per level (a chained withColumn re-analyses the whole
    // plan on every call): each step carries the coordinates so far and
    // the point's current cell bounds
    val cells = (l: Int) => (0 until l).flatMap(k => Seq(col(s"cx$k"), col(s"cy$k")))
    val init = p.select(col("id"), col("x"), col("y"), lit(xmin).as("lox"),
      lit(xmax).as("hix"), lit(ymin).as("loy"), lit(ymax).as("hiy"),
      lit(0L).as("cx0"), lit(0L).as("cy0"))
    (1 until NLayers).foldLeft(init) { (df, l) =>
      val cenx = col("lox") + (col("hix") - col("lox")) / 2
      val ceny = col("loy") + (col("hiy") - col("loy")) / 2
      val (bx, by) = (col("x") > cenx, col("y") > ceny)
      df.select(Seq(col("id"), col("x"), col("y"),
        when(bx, cenx).otherwise(col("lox")).as("lox"),
        when(bx, col("hix")).otherwise(cenx).as("hix"),
        when(by, ceny).otherwise(col("loy")).as("loy"),
        when(by, col("hiy")).otherwise(ceny).as("hiy")) ++ cells(l) ++ Seq(
        (col(s"cx${l - 1}") * 2 + bx.cast("long")).as(s"cx$l"),
        (col(s"cy${l - 1}") * 2 + by.cast("long")).as(s"cy$l")): _*)
    }.select(col("id") +: cells(NLayers): _*)
  }

  /** Every (level, cx, cy) ancestor candidate of each point — ≤ 1 of
    * them matches a terminal cell of a trained dice (terminal cells are
    * prefix-disjoint). The explode is NLayers rows per point, map-only. */
  private[graft] def cellCandidates(p: DataFrame, xmin: Double, xmax: Double,
      ymin: Double, ymax: Double): DataFrame =
    pathsFor(p, xmin, xmax, ymin, ymax)
      .select(col("id"), explode(array((0 until NLayers).map(l =>
        struct(lit(l.toLong).as("level"), col(s"cx$l").as("cx"),
          col(s"cy$l").as("cy"))): _*)).as("c"))
      .select(col("id"), col("c.level").as("level"), col("c.cx").as("cx"),
        col("c.cy").as("cy"))

  /** Bounds of the dice: (xmin, xmax, ymin, ymax). */
  private[graft] type Bounds = (Double, Double, Double, Double)

  /** Phase 1's result, free of any session: the terminal cells
    * (level, cx, cy, density ∈ DENSE|SPARSE, n_objects), ascending, and
    * the bounds they were diced in. */
  private[algos] final case class Dice(term: Seq[(Long, Long, Long, String, Long)],
      bounds: Bounds)

  private def termDf(s: SparkSession, dice: Dice): DataFrame = {
    import s.implicits._
    dice.term.toDF("level", "cx", "cy", "density", "n_objects")
  }

  /** The trained dice as a servable artifact: (terminal cells, bounds).
    * The static side of the streaming outlier probe
    * ([[graft.streaming.StreamOps.cellProbe]]). */
  def trainedDice(s: SparkSession, d: String): (DataFrame, Bounds) = {
    val dice = phase1Cached(s, d)
    (termDf(s, dice), dice.bounds)
  }

  /** Memo for the dice: the three gates are three VIEWS of one
    * analysis (cells / outliers / clusters), and phase 1 is
    * deterministic, so serving its driver-side result once per content
    * fingerprint of the columns [[pts]] reads is bit-identical to
    * recomputing. The value holds no DataFrame, so any session on the
    * same dir may be served it. */
  private[algos] val dice = new Memo[String, Dice](8)

  private def phase1Cached(s: SparkSession, d: String): Dice =
    dice(d, Tables.contentFp(s, d, "events", Seq("event_id", "value", "user_id")))(
      phase1(pts(s, d)))

  /** Slot of cell (cx, cy) at `level` in the dice histogram: the levels
    * are laid out one after the other, level l at Σ_{k<l} 4^k. */
  private[algos] def slot(level: Int, cx: Int, cy: Int): Int =
    ((1 << (2 * level)) - 1) / 3 + (cx << level) + cy

  /** One partition's (x, y) columns. */
  private final case class XY(xs: Array[Double], ys: Array[Double])

  private def readXY(rows: Iterator[InternalRow]): XY = {
    val (xs, ys) = (mutable.ArrayBuilder.make[Double], mutable.ArrayBuilder.make[Double])
    rows.foreach { r => xs += r.getDouble(0); ys += r.getDouble(1) }
    XY(xs.result(), ys.result())
  }

  /** The bounds of an (x, y, …) frame of finite points and its object
    * count per cell at every level, in two [[Fold]]s over one cached
    * read: (bounds, histogram indexed by [[slot]]). An empty frame has
    * bounds (0, 0, 0, 0) and an all-zero histogram. Each point walks the
    * midpoint recursion of [[pathsFor]] in the same IEEE arithmetic:
    * center lo + (hi - lo)/2, bit = strictly above the center. */
  private[algos] def histogram(p: DataFrame): (Bounds, Array[Long]) =
    Fold.held(p.select(col("x"), col("y")))(readXY) { blocks =>
      val mm = Fold(blocks)(Array(Double.PositiveInfinity, Double.NegativeInfinity,
        Double.PositiveInfinity, Double.NegativeInfinity))({ (m, b) =>
        b.xs.foreach { x => m(0) = math.min(m(0), x); m(1) = math.max(m(1), x) }
        b.ys.foreach { y => m(2) = math.min(m(2), y); m(3) = math.max(m(3), y) }
        m
      })((a, b) => Array(math.min(a(0), b(0)), math.max(a(1), b(1)),
        math.min(a(2), b(2)), math.max(a(3), b(3))))
      // points are finite, so an infinite minimum means no rows
      val bounds: Bounds =
        if (mm(0).isInfinite) (0.0, 0.0, 0.0, 0.0) else (mm(0), mm(1), mm(2), mm(3))
      val hist = Fold(blocks)(new Array[Long](MaxCells))({ (h, b) =>
        for (i <- b.xs.indices) {
          val (x, y) = (b.xs(i), b.ys(i))
          var (lox, hix, loy, hiy) = bounds
          var (cx, cy) = (0, 0)
          h(0) += 1 // level 0 is the whole space
          for (l <- 1 until NLayers) {
            val cenx = lox + (hix - lox) / 2
            val ceny = loy + (hiy - loy) / 2
            if (x > cenx) { cx = 2 * cx + 1; lox = cenx } else { cx = 2 * cx; hix = cenx }
            if (y > ceny) { cy = 2 * cy + 1; loy = ceny } else { cy = 2 * cy; hiy = ceny }
            h(slot(l, cx, cy)) += 1
          }
        }
        h
      })({ (a, b) => for (i <- a.indices) a(i) += b(i); a })
      (bounds, hist)
    }

  /** Phase 1 over the (id, x, y) points: the terminal cells and bounds.
    *
    * Execution shape: two [[Fold]]s over one cached primitive read of
    * the points ([[histogram]]: bounds, then every level's cell counts),
    * then the per-layer liveness / threshold cascade as a driver fold
    * over the nonempty cells. Nothing is left cached or cut.
    *
    * Why the driver fold is safe at any SF: the dice is bounded by
    * CONSTRUCTION, not by data — level l has ≤ 4^l cells (coordinates
    * live in [0, 2^l)²), so all 7 layers hold ≤ Σ 4^l = 5,461 nonempty
    * cells total, the histogram's fixed size. This is the same
    * bounded-carry class as the k-means centroid collect (O(k·dim)) and
    * the skyline suffix-min (O(50)).
    *
    * Why the values equal the reference's layer-by-layer division:
    * - a live cell's members are exactly its prefix-matching objects
    *   (liveness filters whole cells, never objects — the same linear
    *   argument the DuckDB oracle's levelsSql already relies on), so
    *   per-cell n_objects and nonempty-child counts counted over ALL
    *   points equal the ones counted over the still-active objects;
    * - kc needs no countDistinct: every nonempty level-(l+1) cell is a
    *   child of exactly one level-l cell, so kc = |children among the
    *   nonempty l+1 cells|. */
  private def phase1(p: DataFrame): Dice = {
    val (bounds, hist) = histogram(p)
    // (cx, cy) -> n_objects per level; kc from the level below
    val byLevel = (0 until NLayers).map { l =>
      val side = 1 << l
      (for (cx <- 0 until side; cy <- 0 until side if hist(slot(l, cx, cy)) > 0)
        yield (cx.toLong, cy.toLong) -> hist(slot(l, cx, cy))).toMap
    }
    val kcOf = (0 until NLayers).map { l =>
      if (l == NLayers - 1) Map.empty[(Long, Long), Long]
      else byLevel(l + 1).keysIterator.toSeq
        .groupBy { case (cx, cy) => (cx >> 1, cy >> 1) }
        .map { case (k, v) => (k, v.size.toLong) }
    }
    // liveness cascade: level 0 is live; below, live = parent MIDDLE
    val term = Seq.newBuilder[(Long, Long, Long, String, Long)]
    var midPrev = Set.empty[(Long, Long)]
    for (l <- 0 until NLayers) {
      val live = byLevel(l).view
        .filterKeys(k => l == 0 || midPrev((k._1 >> 1, k._2 >> 1))).toMap
      val nCells = live.size.toLong
      var midNext = Set.empty[(Long, Long)]
      if (nCells > 0) {
        if (l == NLayers - 1) {
          live.foreach { case ((cx, cy), n) =>
            term += ((l.toLong, cx, cy, if (n < DMin) "SPARSE" else "DENSE", n))
          }
        } else {
          val cc = live.iterator
            .collect { case (k, n) if n >= DMin => kcOf(l).getOrElse(k, 0L) }
            .sum
          // the reference's (int)(dfac * (1.0*cc/n)) — same IEEE
          // product, truncation == floor on non-negatives
          val thr = (DFac * (cc.toDouble / nCells.toDouble)).toLong
          live.foreach { case ((cx, cy), n) =>
            val kc = kcOf(l).getOrElse((cx, cy), 0L)
            if (n < DMin) term += ((l.toLong, cx, cy, "SPARSE", n))
            else if (kc > thr) term += ((l.toLong, cx, cy, "DENSE", n))
            else midNext += ((cx, cy))
          }
        }
      }
      midPrev = midNext
    }
    Dice(term.result().sorted, bounds)
  }

  /** Objects in a SPARSE terminal cell, as (id, level): each point's
    * [[cellCandidates]] against the dice's bounds, equality-joined to
    * the broadcast sparse cells. An object is noise at layer l iff its
    * layer-l ancestor is a SPARSE terminal; terminal cells are
    * prefix-disjoint, so each object yields at most one row. Lazy and
    * map-only: nothing O(corpus) is cached. */
  private def noise(s: SparkSession, d: String, dice: Dice): DataFrame = {
    import s.implicits._
    val sparse = dice.term.collect { case (l, cx, cy, "SPARSE", _) => (l, cx, cy) }
      .toDF("level", "cx", "cy")
    val (xmin, xmax, ymin, ymax) = dice.bounds
    cellCandidates(pts(s, d), xmin, xmax, ymin, ymax)
      .join(broadcast(sparse), Seq("level", "cx", "cy"))
      .select(col("id"), col("level"))
  }

  /** Dense cells with their packed O(1) cell key. */
  private def denseCells(term: DataFrame): DataFrame =
    term.filter(col("density") === "DENSE")
      .withColumn("key",
        col("level") * KeyLvl + col("cx") * KeyCx + col("cy"))

  /** Directed adjacency edges among DENSE cells — the quadtree
    * neighbor rule of set_direct_adjacency, closed over levels: cell X
    * (level L, coords c) is adjacent in an axis direction to the unique
    * EXISTING cell containing the same-level neighbor coordinate
    * c ± e_attr; that cell is dense iff some ancestor-chain prefix of
    * the neighbor coordinate is a DENSE terminal (everything above a
    * terminal is MIDDLE by construction, so at most one level matches —
    * an equality join on (level, coords), never a spatial scan).
    * Edges where the containing cell is SPARSE/MIDDLE don't cluster
    * (tool/flexdice.c:1177-1186); a deeper dense neighbor contributes
    * its own edge back toward X, so the undirected union is complete. */
  private def denseEdges(s: SparkSession, dense: DataFrame): DataFrame = {
    import s.implicits._
    val dirs = Seq((1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L)).toDF("dx", "dy")
    val cand = dense.select(col("key"), col("level"), col("cx"), col("cy"))
      .crossJoin(broadcast(dirs))
      .withColumn("ncx", col("cx") + col("dx"))
      .withColumn("ncy", col("cy") + col("dy"))
      .filter(col("ncx") >= 0 && col("ncy") >= 0 &&
        col("ncx") < expr("shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))") &&
        col("ncy") < expr("shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))"))
      .withColumn("k", explode(expr("sequence(CAST(0 AS BIGINT), level)")))
      .select(col("key").as("src"), col("k"),
        expr("shiftright(ncx, CAST(level - k AS INT))").as("acx"),
        expr("shiftright(ncy, CAST(level - k AS INT))").as("acy"))
    cand.join(
      dense.select(col("level").as("k"), col("cx").as("acx"),
        col("cy").as("acy"), col("key").as("dst")),
      Seq("k", "acx", "acy"))
      .select(col("src"), col("dst"))
  }

  // ---------- oracle SQL ----------

  private val ptsSql =
    """pts AS (SELECT event_id AS id, value AS x, CAST(user_id AS DOUBLE) AS y
       FROM events
       WHERE event_id IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
         AND abs(value) <= 1.7976931348623157e308
         AND abs(CAST(user_id AS DOUBLE)) <= 1.7976931348623157e308)"""

  /** Unrolled midpoint recursion → `paths(id, cx0..cy6)`. */
  private def pathsSql: String = {
    val b = new StringBuilder(ptsSql)
    b ++= """,
      mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
                    min(y) AS ymin, max(y) AS ymax FROM pts),
      q0 AS (SELECT id, x, y, xmin AS lox, xmax AS hix, ymin AS loy,
             ymax AS hiy, CAST(0 AS BIGINT) AS cx0, CAST(0 AS BIGINT) AS cy0
             FROM pts, mm)"""
    for (l <- 1 until NLayers) {
      val carry = (0 until l).map(i => s"cx$i, cy$i").mkString(", ")
      b ++= s""",
        m$l AS (SELECT *, lox + (hix - lox)/2 AS cenx,
                loy + (hiy - loy)/2 AS ceny FROM q${l - 1}),
        q$l AS (SELECT id, x, y,
          CASE WHEN x > cenx THEN cenx ELSE lox END AS lox,
          CASE WHEN x > cenx THEN hix ELSE cenx END AS hix,
          CASE WHEN y > ceny THEN ceny ELSE loy END AS loy,
          CASE WHEN y > ceny THEN hiy ELSE ceny END AS hiy,
          $carry,
          cx${l - 1}*2 + CASE WHEN x > cenx THEN 1 ELSE 0 END AS cx$l,
          cy${l - 1}*2 + CASE WHEN y > ceny THEN 1 ELSE 0 END AS cy$l
          FROM m$l)"""
    }
    val all = (0 until NLayers).map(i => s"cx$i, cy$i").mkString(", ")
    b ++= s""",
      paths AS (SELECT id, $all FROM q${NLayers - 1})"""
    b.toString
  }

  /** Per-layer classification → `cls0..cls6` and the `term` union of
    * terminal cells.
    *
    * Deliberately LINEAR in CTE references: a live level-l cell's size
    * and nonempty-child count are computable from the FULL path table
    * (a live cell's members are exactly its prefix-matching objects —
    * liveness filters whole cells, never objects), so each level is one
    * prefix GROUP BY joined to the previous level's MIDDLE set, with
    * the layer threshold as a window aggregate over the live set. Each
    * cls references only cls(l-1), once. The first cut kept explicit
    * per-level active-object CTEs referenced 3-4× each, which forced
    * `AS MATERIALIZED` to stop DuckDB's CTE inlining going exponential
    * — and DuckDB 1.0.0 DROPS a final ORDER BY under
    * preserve_insertion_order=false + threads>1 when the plan holds
    * materialized CTEs (measured: row order flipped run-to-run under
    * exactly the harness's connection settings, while the row SET was
    * stable). Linear references need no MATERIALIZED and sidestep the
    * bug. */
  private def levelsSql: String = {
    val b = new StringBuilder
    for (l <- 0 until NLayers) {
      val grp =
        if (l == NLayers - 1)
          s"""(SELECT cx$l AS cx, cy$l AS cy, count(*) AS cnt
              FROM paths GROUP BY 1, 2)"""
        else
          s"""(SELECT cx$l AS cx, cy$l AS cy, count(*) AS cnt,
              count(DISTINCT (cx${l + 1}, cy${l + 1})) AS kc
              FROM paths GROUP BY 1, 2)"""
      val live =
        if (l == 0) s"$grp g"
        else
          s"""$grp g JOIN cls${l - 1} m
              ON m.density = 'MIDDLE'
              AND (g.cx >> 1) = m.cx AND (g.cy >> 1) = m.cy"""
      val density =
        if (l == NLayers - 1)
          s"CASE WHEN g.cnt < $DMin THEN 'SPARSE' ELSE 'DENSE' END"
        else
          s"""CASE WHEN g.cnt < $DMin THEN 'SPARSE'
              WHEN g.kc > CAST(floor($DFacInt * (CAST(
                sum(CASE WHEN g.cnt >= $DMin THEN g.kc ELSE 0 END) OVER ()
                AS DOUBLE) / count(*) OVER ())) AS BIGINT) THEN 'DENSE'
              ELSE 'MIDDLE' END"""
      b ++= s""",
        cls$l AS (SELECT g.cx, g.cy, g.cnt, $density AS density
          FROM $live)"""
    }
    b ++= s""",
      term AS (${(0 until NLayers).map(l =>
      s"SELECT CAST($l AS BIGINT) AS level, cx, cy, density, " +
        s"CAST(cnt AS BIGINT) AS n_objects FROM cls$l WHERE density <> 'MIDDLE'")
      .mkString(" UNION ALL ")})"""
    b.toString
  }

  private def cellsOracle: String =
    s"WITH $pathsSql $levelsSql\n" +
      "SELECT level, cx, cy, density, n_objects FROM term " +
      "ORDER BY level, cx, cy"

  private def noiseOracle: String =
    s"WITH $pathsSql $levelsSql\n" +
      (0 until NLayers).map(l =>
        s"SELECT p.id, CAST($l AS BIGINT) AS level FROM paths p JOIN cls$l c " +
          s"ON p.cx$l = c.cx AND p.cy$l = c.cy AND c.density = 'SPARSE'")
        .mkString(" UNION ALL ") +
      " ORDER BY id"

  private def clustersOracle: String =
    s"WITH RECURSIVE $pathsSql $levelsSql,\n" +
      s"""dense AS (SELECT level, cx, cy, n_objects,
           level*$KeyLvl + cx*$KeyCx + cy AS key
           FROM term WHERE density = 'DENSE'),
         dirs(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
         lv AS (SELECT unnest(range(0, $NLayers)) AS k),
         cand AS (SELECT d.key AS src, lv.k AS k,
             (d.cx + dirs.dx) >> CAST(d.level - lv.k AS INT) AS acx,
             (d.cy + dirs.dy) >> CAST(d.level - lv.k AS INT) AS acy
           FROM dense d, dirs, lv
           WHERE lv.k <= d.level
             AND d.cx + dirs.dx >= 0
             AND d.cx + dirs.dx < (CAST(1 AS BIGINT) << CAST(d.level AS INT))
             AND d.cy + dirs.dy >= 0
             AND d.cy + dirs.dy < (CAST(1 AS BIGINT) << CAST(d.level AS INT))),
         e0 AS (SELECT c.src, y.key AS dst FROM cand c JOIN dense y
           ON y.level = c.k AND y.cx = c.acx AND y.cy = c.acy),
         edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         reach(id, comp) AS (
           SELECT key, key FROM dense
           UNION
           SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
       SELECT c.comp AS cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(d.n_objects) AS BIGINT) AS n_objects
       FROM comps c JOIN dense d ON d.key = c.id
       GROUP BY 1 ORDER BY 1"""

  // ---------- gates ----------

  def defs: Seq[QueryDef] = Seq(

    // ---- Phase-1 parity: every terminal cell of the dice with its
    // classification and size. SPARSE cells are the outlier containers
    // (the reference's NL* noise outputs); DENSE cells are the cluster
    // atoms. The frame is the memoized driver-side dice (≤ 5,461 rows).
    QueryDef("flexdice_cells", (s, d) =>
      termDf(s, phase1Cached(s, d)).orderBy("level", "cx", "cy"),
      Some(cellsOracle)),

    // ---- Outlier extraction (the reference's headline use): every
    // object that landed in a SPARSE cell, with the layer it fell out
    // at. A lazy map-only probe of each object's ancestor cells against
    // the broadcast sparse-cell list ([[noise]]).
    QueryDef("flexdice_outliers", (s, d) =>
      noise(s, d, phase1Cached(s, d)).orderBy("id"),
      Some(noiseOracle)),

    // ---- Phase-2 parity: clusters of axis-adjacent DENSE cells
    // (across levels — the irregular-size cell graph), keyed by the
    // component's minimum packed cell key. The oracle replays the merge
    // as a recursive-CTE closure over the identical edge set.
    //
    // r17: components via a DRIVER union-find instead of the distributed
    // star contraction. The cell graph is bounded BY CONSTRUCTION —
    // dense terminals are a subset of the Σ_{l<7} 4^l = 5,461 grid
    // cells at ANY corpus size (the same bounded-carry argument as the
    // r16 phase-1 cascade and the k-means centroid collect), and its
    // ≤4-neighbor adjacency is ≤ ~22k edge rows of two longs — so the
    // collect is O(1) in the corpus while the star contraction paid
    // ~60 driver-synchronized stages (3 Exchanges + a checkpoint job
    // per round) to label the same ≤5,461 nodes. Same labels by
    // construction: min cell key per connected component. Same-window
    // A/B + oracle parity in OPTIMIZATION_r17.md; the corpus-scale CC
    // gates (dedup_clusters/keep_best, unbounded graphs) keep the
    // distributed star contraction untouched.
    QueryDef("flexdice_clusters", (s, d) => {
      Truncate.over(denseCells(termDf(s, phase1Cached(s, d)))) { dense =>
        val keys = dense.select("key").collect().map(_.getLong(0))
        require(keys.length <= MaxCells,
          s"${keys.length} dense cells exceed the $MaxCells-cell grid")
        val adj = denseEdges(s, dense).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap(keys.map(k => k -> k): _*)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        adj.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          // union toward the smaller root: every root stays the
          // component's minimum key, which IS the oracle's label
          if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
        }
        val labels = keys.map(k => (k, find(k))).toSeq
        import s.implicits._
        val compDf = labels.toDF("key", "comp")
        dense.join(broadcast(compDf), "key")
          .groupBy(col("comp").as("cluster_id"))
          .agg(count(lit(1)).as("n_cells"), sum("n_objects").as("n_objects"))
          .orderBy("cluster_id")
      }
    }, Some(clustersOracle)),
  )
}
