package graft.algos

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** FlexDice semantics pinned against a HAND-DERIVED fixture (reference
  * tool/flexdice.c) — chosen so the subtlest rule, the post-layer
  * re-dense (a divided cell whose nonempty-child count exceeds
  * int(dfac · layer-mean) is undone and becomes DENSE,
  * tool/flexdice.c:455-473), actually FIRES, which no uniform gate
  * corpus guarantees. Geometry (bounds [0,64]², dmin=4, dfac=5):
  *
  *  - ids 1-5 in the level-2 cell (0,0): 5 objects spreading into 4
  *    distinct level-3 children;
  *  - ids 6-8: one object in each of the level-2 cells (1,0)/(0,1)/(1,1);
  *  - ids 9-12: four objects under the level-1 quadrant (1,0), two per
  *    level-2 cell (2,0)/(3,0) — the quadrant divides (kc=2) and both
  *    children go SPARSE;
  *  - id 13 at (64,64): pins the max corner; its level-1 quadrant (1,1)
  *    is SPARSE.
  *
  * Layer walk: level 0 divides (kc=3, thr=15). Level 1: quadrant (1,1)
  * SPARSE; (0,0) kc=4 and (1,0) kc=2 divide (n=3, cc=6, thr=10 — no
  * fire). Level 2: n=6 cells, only (0,0) divides (cc=4) → thr =
  * floor(5·4/6) = 3 < kc=4 → the (0,0) cell RE-DENSES with its 5
  * objects; the five 1-2 object cells are SPARSE. Expected outputs are
  * written out literally below. */
class FlexDiceSpec extends SparkSuite {

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("flexdice_fix").toString
    val pts = Seq(
      (1L, 0.0, 0L), (2L, 1.0, 1L), (3L, 9.0, 1L), (4L, 1.0, 9L), (5L, 9.0, 9L),
      (6L, 20.0, 1L), (7L, 1.0, 20L), (8L, 20.0, 20L),
      (9L, 40.0, 1L), (10L, 42.0, 1L), (11L, 60.0, 1L), (12L, 62.0, 1L),
      (13L, 64.0, 64L))
    pts.map { case (id, x, y) => (id, 0L, y, "e", x, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("re-dense rule fires: hand-derived terminal cells match exactly") {
    val got = graft.SparkEntry.queries("flexdice_cells")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    val want = Set(
      (1L, 1L, 1L, "SPARSE", 1L), // id 13's quadrant
      (2L, 0L, 0L, "DENSE", 5L), // the RE-DENSED cell (kc=4 > thr=3)
      (2L, 1L, 0L, "SPARSE", 1L),
      (2L, 0L, 1L, "SPARSE", 1L),
      (2L, 1L, 1L, "SPARSE", 1L),
      (2L, 2L, 0L, "SPARSE", 2L),
      (2L, 3L, 0L, "SPARSE", 2L))
    assert(got == want, s"terminal cells drifted: got $got")
  }

  test("outliers are exactly the sparse-cell objects with their fall-out layer") {
    val got = graft.SparkEntry.queries("flexdice_outliers")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set(6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 2L, 10L -> 2L,
      11L -> 2L, 12L -> 2L, 13L -> 1L)
    assert(got == want, s"outliers drifted: got $got")
  }

  test("clusters: the single dense cell forms one singleton cluster") {
    val got = graft.SparkEntry.queries("flexdice_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // packed key = level·2^40 + cx·2^20 + cy = 2·2^40
    assert(got == Set((2L * (1L << 40), 1L, 5L)), s"clusters drifted: got $got")
  }

  test("object conservation + density bounds on the gate corpus") {
    val term = graft.SparkEntry.queries("flexdice_cells")(spark, sfDir).collect()
    val noise = graft.SparkEntry.queries("flexdice_outliers")(spark, sfDir).collect()
    val clusters = graft.SparkEntry.queries("flexdice_clusters")(spark, sfDir).collect()
    val nPts = graft.Tables.load(spark, sfDir, "events")
      .filter(col("event_id").isNotNull && col("value").isNotNull &&
        col("user_id").isNotNull)
      .count()
    // every object lands in exactly one terminal cell
    assert(term.map(_.getLong(4)).sum == nPts)
    // outliers = exactly the SPARSE mass; dense mass = cluster mass
    val sparseMass = term.filter(_.getString(3) == "SPARSE").map(_.getLong(4)).sum
    val denseMass = term.filter(_.getString(3) == "DENSE").map(_.getLong(4)).sum
    assert(noise.length.toLong == sparseMass)
    assert(clusters.map(_.getLong(2)).sum == denseMass)
    assert(clusters.map(_.getLong(1)).sum ==
      term.count(_.getString(3) == "DENSE").toLong)
    // SPARSE < dmin everywhere; DENSE above the bottom layer >= dmin
    assert(term.filter(_.getString(3) == "SPARSE").forall(_.getLong(4) < 4))
    assert(term.filter(r => r.getString(3) == "DENSE" && r.getLong(0) < 6)
      .forall(_.getLong(4) >= 4))
    // terminal cells are prefix-disjoint (a cell is never an ancestor of
    // another terminal cell — the dicing tree property)
    val cells = term.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for ((l, cx, cy) <- cells; k <- 0L until l) {
      assert(!cells.contains((k, cx >> (l - k), cy >> (l - k))),
        s"terminal cell ($l,$cx,$cy) has terminal ancestor at level $k")
    }
  }

  test("MaxCells is the whole 7-level grid that bounds the driver collect") {
    assert(FlexDice.MaxCells == 5461) // Σ_{l<7} 4^l
  }

  /** Every midpoint of [lo, hi]'s recursion down to the bottom level,
    * plus both ends. */
  private def midpoints(lo: Double, hi: Double, depth: Int = 6): Seq[Double] =
    if (depth == 0) Seq(lo, hi)
    else {
      val cen = lo + (hi - lo) / 2
      cen +: (midpoints(lo, cen, depth - 1) ++ midpoints(cen, hi, depth - 1))
    }

  test("the histogram fold counts every cell as a pathsFor groupBy does") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val xs = midpoints(-3.1, 7.7).distinct
    val ys = midpoints(0.0, 64.0).distinct
    val inputs = Seq[(String, Seq[(Double, Double)])](
      "random" -> Seq.fill(500)((rnd.nextGaussian() * 1e3, rnd.nextDouble() * 7 - 2)),
      "on midpoints" -> (for (x <- xs; y <- ys) yield (x, y)),
      "all equal" -> Seq.fill(10)((5.5, -2.0)),
      "signed zeros" -> Seq((0.0, -0.0), (-0.0, 0.0), (-0.0, -0.0), (1.0, 0.0), (-1.0, -0.0)),
      "overflowing span" -> Seq((-1.5e308, 1.7e308), (1.7e308, -1.7e308), (1e308, 0.0),
        (-1e308, 1e308), (-1.7976931348623157e308, 5.0)),
      "single point" -> Seq((3.0, 4.0)),
      "empty" -> Seq.empty)
    assert(inputs(1)._2.length > 4000)
    inputs.foreach { case (name, xy) =>
      val p = xy.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y").repartition(3)
      val ((xmin, xmax, ymin, ymax), hist) = FlexDice.histogram(p)
      val mm = p.agg(min("x"), max("x"), min("y"), max("y")).head()
      val want = if (mm.isNullAt(0)) Seq(0.0, 0.0, 0.0, 0.0) else (0 to 3).map(mm.getDouble)
      assert(Seq(xmin, xmax, ymin, ymax).zip(want).forall { case (a, b) => a == b },
        s"$name: bounds ${(xmin, xmax, ymin, ymax)} != $want")
      val ref = FlexDice.cellCandidates(p, xmin, xmax, ymin, ymax)
        .groupBy("level", "cx", "cy").count().collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt) -> r.getLong(3)).toMap
      val got = (for (l <- 0 until 7; cx <- 0 until 1 << l; cy <- 0 until 1 << l
          if hist(FlexDice.slot(l, cx, cy)) > 0)
        yield (l, cx, cy) -> hist(FlexDice.slot(l, cx, cy))).toMap
      assert(hist.length == FlexDice.MaxCells && hist.sum == 7L * xy.length, name)
      assert(got == ref, s"$name: histogram differs from the pathsFor counts")
    }
  }

  /** `body` over a fresh copy of the test corpus's events, so every
    * memo keyed by its dir misses. */
  private def withEventsCopy[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("flexdice_copy").toFile
    org.apache.commons.io.FileUtils.copyToDirectory(new java.io.File(s"$sfDir/events.parquet"), dir)
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("a cold flexdice_cells build runs the fingerprint and two folds; a warm one no job") {
    val gate = graft.SparkEntry.queries("flexdice_cells")
    withEventsCopy { dir =>
      graft.Tables.load(spark, dir, "events") // the reader's metadata, outside the count
      val (cold, coldJobs) = jobsIn("flexdice-cold")(gate(spark, dir))
      // contentFp's aggregate is 2 jobs; the bounds and the histogram 1 each
      assert(coldJobs <= 4, s"a cold flexdice_cells build ran $coldJobs jobs")
      val hits = FlexDice.dice.hits
      val (warm, warmJobs) = jobsIn("flexdice-warm")(gate(spark, dir))
      assert(warmJobs == 0, s"a warm flexdice_cells build ran $warmJobs jobs")
      assert(FlexDice.dice.hits == hits + 1, "the warm build missed the dice memo")
      assert(warm.collect().toSeq == cold.collect().toSeq)
    }
  }

  test("no flexdice gate leaves anything of phase 1 cached") {
    val sc = spark.sparkContext
    def lineage(rdd: org.apache.spark.rdd.RDD[_]): Set[Int] =
      rdd.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(rdd.id))(_ ++ _)
    Seq("flexdice_cells", "flexdice_outliers", "flexdice_clusters").foreach { name =>
      withEventsCopy { dir =>
        val before = sc.getPersistentRDDs.keySet
        val out = graft.SparkEntry.queries(name)(spark, dir)
        out.collect()
        val stray = sc.getPersistentRDDs.keySet -- before -- lineage(out.queryExecution.toRdd)
        assert(stray.isEmpty, s"$name left ${stray.map(sc.getPersistentRDDs)} cached")
      }
    }
  }
}
