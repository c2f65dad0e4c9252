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
}
