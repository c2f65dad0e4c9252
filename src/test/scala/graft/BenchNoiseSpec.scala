package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's noise self-defense (round-8 verdict item 5): synthetic
  * slowdowns against a committed detail map must be flagged; noise-floor
  * and cross-SF guards must hold. */
class BenchNoiseSpec extends AnyFunSuite {

  test("a sustained synthetic slowdown is flagged; normal drift is not") {
    val committed = Map("pagerank" -> 6.0, "dedup_jaccard" -> 1.75, "q1_pricing" -> 0.8)
    // dedup_jaccard at 4.7x its committed min (the actual r8 incident)
    val measured = Map("pagerank" -> 6.9, "dedup_jaccard" -> 8.3, "q1_pricing" -> 1.1)
    assert(Bench.suspects(committed, measured) == Seq("dedup_jaccard"))
  }

  test("sub-floor queries never flag (session overhead, not engine cost)") {
    val committed = Map("take_one" -> 0.05)
    val measured = Map("take_one" -> 0.4) // 8x, but still under the 0.5 s floor
    assert(Bench.suspects(committed, measured).isEmpty)
  }

  test("queries absent from the committed detail (new this round) never flag") {
    assert(Bench.suspects(Map.empty, Map("brand_new" -> 60.0)).isEmpty)
  }

  test("shuffle-byte regression flags a >2x growth and a brand-new big Exchange") {
    val committed = Map("dedup_substring" -> 3.0, "pagerank" -> 40.0, "scan_prefix" -> 0.0)
    val measured = Map(
      "dedup_substring" -> 68.5, // the r10 regression this exists to catch
      "pagerank" -> 55.0,        // 1.4x — within plan-identical variation
      "scan_prefix" -> 9.0)      // was shuffle-free, now shuffles past the floor
    assert(Bench.byteSuspects(committed, measured) ==
      Seq("dedup_substring", "scan_prefix"))
  }

  test("shuffle-byte floor keeps small shuffles out (partition-count jitter)") {
    // 0.1 MB -> 6 MB is 60x but under the 8 MB floor: AQE coalescing and
    // partition counts legitimately move MB-scale shuffles
    assert(Bench.byteSuspects(Map("tiny" -> 0.1), Map("tiny" -> 6.0)).isEmpty)
    // and queries new this round (no committed entry) never flag
    assert(Bench.byteSuspects(Map.empty, Map("brand_new" -> 500.0)).isEmpty)
  }

  test("a write-side regression flags even when the read side is quiet (r12 item 7)") {
    // a lost map-side partial: the map output balloons while the query's
    // committed READ bytes (a later, already-aggregated stage) are small
    // and unchanged — only the write channel sees it
    val committedW = Map("wordcount" -> 5.0, "pagerank" -> 40.0)
    val measuredW = Map("wordcount" -> 64.0, "pagerank" -> 41.0)
    assert(Bench.byteSuspects(committedW, measuredW) == Seq("wordcount"))
  }

  test("any new spill past the 1 MB floor flags against a zero-spill census") {
    // committed spill is 0 everywhere (BASELINE: zero spill in the
    // census) — v > ratio·0 fires for any measured spill >= floor
    val committedS = Map("dedup_jaccard" -> 0.0, "q1_pricing" -> 0.0)
    assert(Bench.byteSuspects(committedS,
      Map("dedup_jaccard" -> 12.5, "q1_pricing" -> 0.2), floorMb = 1.0) ==
      Seq("dedup_jaccard"))
  }

  test("committedShuffleWriteMb and committedSpillMb read their fields") {
    val dir = java.nio.file.Files.createTempDirectory("benchnoise4")
    val p = dir.resolve("bench_detail.json")
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.1,"med":6.5,"sh_read_mb":41.20,"sh_write_mb":40.90,"spill_mb":0.00}},"runs":3,"sf":"sf0.1"}""")
    assert(Bench.committedShuffleWriteMb(p, "sf0.1").contains(Map("pagerank" -> 40.90)))
    assert(Bench.committedSpillMb(p, "sf0.1").contains(Map("pagerank" -> 0.0)))
    assert(Bench.committedShuffleWriteMb(p, "sf0.01").isEmpty)
  }

  test("committedShuffleMb reads sh_read_mb from the same detail objects") {
    val dir = java.nio.file.Files.createTempDirectory("benchnoise3")
    val p = dir.resolve("bench_detail.json")
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.1,"med":6.5,"sh_read_mb":41.20},"take_one":{"min":0.1,"med":0.2}},"runs":3,"sf":"sf0.1"}""")
    assert(Bench.committedShuffleMb(p, "sf0.1").contains(Map("pagerank" -> 41.20)))
    assert(Bench.committedShuffleMb(p, "sf0.01").isEmpty)
  }

  test("committedMins parses this repo's bench_detail format and rejects other SFs") {
    val dir = java.nio.file.Files.createTempDirectory("benchnoise")
    val p = dir.resolve("bench_detail.json")
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.123,"med":6.500},"q1_pricing":{"min":0.810,"med":0.900}},"runs":3,"sf":"sf0.1"}""")
    val same = Bench.committedMins(p, "sf0.1")
    assert(same.contains(Map("pagerank" -> 6.123, "q1_pricing" -> 0.810)))
    assert(Bench.committedMins(p, "sf0.01").isEmpty, "cross-SF ratios are meaningless")
    assert(Bench.committedMins(dir.resolve("absent.json"), "sf0.1").isEmpty)
  }

  test("committedMins tolerates pretty-printed JSON (the hand-merged baseline shape)") {
    // Regression: a best-of-windows merge written by a standard JSON
    // serializer puts a space after colons; the strict no-space regex
    // silently read None, which BOTH disabled the noise defense AND let
    // a cross-SF census overwrite the canonical detail file.
    val dir = java.nio.file.Files.createTempDirectory("benchnoise2")
    val p = dir.resolve("bench_detail.json")
    java.nio.file.Files.writeString(p,
      """{"queries": {"pagerank": {"min": 6.123, "med": 6.5}}, "runs": 3, "sf": "sf0.1"}""")
    assert(Bench.committedMins(p, "sf0.1").contains(Map("pagerank" -> 6.123)))
  }

  test("committedBodies returns whole per-query bodies (carry-over source), " +
      "is SF-guarded, and is SCOPED to the queries object") {
    val p = java.nio.file.Files.createTempFile("detail_bodies", ".json")
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.1,"med":6.5,"stages":9},
        |"q1_pricing":{"min":0.8,"med":0.9}},
        |"index_build_s":{"copairs":1.4},
        |"index_trace":{"copairs":{"stages":3,"tasks":12}},
        |"runs":3,"sf":"sf0.1"}""".stripMargin)
    val bodies = Bench.committedBodies(p, "sf0.1")
    // whole bodies round-trip: re-embedding the carried body must yield
    // the original entry (this is exactly what the error carry-over does)
    assert(bodies.get("pagerank").exists(b =>
      b.toString.contains("\"min\":6.1") && b.toString.contains("\"stages\":9")))
    assert(bodies.contains("q1_pricing"))
    // r16 (ADVICE r15): the parse is scoped to the "queries" object —
    // an index_trace sub-object can NEVER collide with a gate name, so
    // an index named like a gate can no longer corrupt a carried entry
    assert(!bodies.contains("copairs"),
      "index_trace sub-objects must not leak into the carry-over key space")
    // other SF or unreadable file → empty, never a partial parse
    assert(Bench.committedBodies(p, "sf1").isEmpty)
    assert(Bench.committedBodies(
      java.nio.file.Paths.get("/nonexistent_detail.json"), "sf0.1").isEmpty)
  }

  test("committedBodies round-trips a body that gains a NESTED object " +
      "(the r15 flat-regex silent-drop hazard)") {
    val p = java.nio.file.Files.createTempFile("detail_nested", ".json")
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.1,"med":6.5,"trace":{"stages":9,"detail":{"t":1}}},
        |"q1_pricing":{"min":0.8,"med":0.9}},"runs":3,"sf":"sf0.1"}""".stripMargin)
    val bodies = Bench.committedBodies(p, "sf0.1")
    // the nested body must be captured WHOLE — the old flat regex
    // dropped it entirely, silently disabling the errored-gate carry
    assert(bodies.get("pagerank").exists(b =>
      b.toString.contains("\"min\":6.1") && b.toString.contains("\"detail\":{\"t\":1}")),
      s"nested body not captured: ${bodies.get("pagerank")}")
    assert(bodies.contains("q1_pricing"),
      "entries AFTER a nested body must still parse")
    // and the field parsers ride the same scoped parse
    assert(Bench.committedMins(p, "sf0.1").contains(
      Map("pagerank" -> 6.1, "q1_pricing" -> 0.8)))
  }

  test("an unparseable canonical detail is never overwritten: the census " +
      "goes to the side file and runs with no committed baseline") {
    val dir = Files.createTempDirectory("detail_mangled")
    val p = dir.resolve("bench_detail.json")
    // 'broken' has a malformed value (no object): the file does not parse
    Files.writeString(p,
      """{"queries":{"pagerank":{"min":6.1,"med":6.5},
        |"broken":,
        |"q1_pricing":{"min":0.8,"med":0.9}},"runs":3,"sf":"sf0.1"}""".stripMargin)
    val before = Files.readAllBytes(p)
    val target = Bench.detailTarget(p, "sf0.1")
    assert(target == dir.resolve("bench_detail_sf0.1.json"))
    Bench.writeDetail(target, Bench.detailTree(Map.empty, Seq.empty, Seq.empty, 3, "sf0.1"))
    assert(java.util.Arrays.equals(Files.readAllBytes(p), before),
      "the committed baseline's bytes must survive the run")
    assert(Bench.committedMins(p, "sf0.1").isEmpty)
    // junk after a well-formed object does not parse either
    Files.writeString(p, """{"queries":{},"runs":3,"sf":"sf0.1"} x""")
    assert(Bench.detailTarget(p, "sf0.1") == target)
  }

  test("detailTarget: same SF in place, another SF beside it, and only the " +
      "baseline SF creates a missing canonical file") {
    val dir = Files.createTempDirectory("detail_target")
    val p = dir.resolve("bench_detail.json")
    assert(Bench.detailTarget(p, "sf0.1") == p)
    assert(Bench.detailTarget(p, "sf0.01") == dir.resolve("bench_detail_sf0.01.json"))
    Files.writeString(p, """{"queries": {}, "runs": 3, "sf": "sf0.01"}""")
    assert(Bench.detailTarget(p, "sf0.01") == p)
    assert(Bench.detailTarget(p, "sf0.1") == dir.resolve("bench_detail_sf0.1.json"))
  }

  test("the detail writer round-trips through the reader: every field, an " +
      "escaped gate name and a carried nested body") {
    val l = new StageMetricsListener
    val agg = new l.Agg
    agg.stages = 9; agg.tasks = 40; agg.shuffleReadB = 43200000L
    agg.shuffleWriteB = 3L * 1048576; agg.inputB = 524288L; agg.spillB = 0L
    val odd = "q\"uo\\te\tta\u0001b"
    val carried = Json.mapper.readTree(
      """{"min":0.8,"med":0.9,"trace":{"stages":3,"detail":{"t":1,"min":0.01}}}""")
    val tree = Bench.detailTree(
      Map("pagerank" -> Bench.entryNode(6.1234, 6.5, Some(agg)),
        odd -> Bench.entryNode(0.2, 0.25, None), "q1_pricing" -> carried),
      Seq("copairs" -> 1.44, "ivf" -> 0.123), Seq("copairs" -> Bench.traceNode(agg)),
      runs = 3, sf = "sf0.1")
    val p = Files.createTempDirectory("detail_rt").resolve("bench_detail.json")
    Bench.writeDetail(p, tree)
    assert(Bench.committedMins(p, "sf0.1").contains(
      Map("pagerank" -> 6.123, odd -> 0.2, "q1_pricing" -> 0.8)))
    assert(Bench.committedShuffleMb(p, "sf0.1").contains(Map("pagerank" -> 41.2)))
    assert(Bench.committedShuffleWriteMb(p, "sf0.1").contains(Map("pagerank" -> 3.0)))
    assert(Bench.committedSpillMb(p, "sf0.1").contains(Map("pagerank" -> 0.0)))
    val bodies = Bench.committedBodies(p, "sf0.1")
    assert(bodies.keySet == Set("pagerank", odd, "q1_pricing"))
    assert(bodies("pagerank") == Json.mapper.readTree(
      """{"min":6.123,"med":6.5,"stages":9,"tasks":40,"sh_read_mb":41.2,
        |"sh_write_mb":3.0,"input_mb":0.5,"spill_mb":0.0}""".stripMargin))
    assert(bodies(odd).path("med").asDouble == 0.25)
    assert(bodies("q1_pricing") == carried)
    val root = Json.mapper.readTree(p.toFile)
    assert(root.path("index_build_s") == Json.mapper.readTree("""{"copairs":1.4,"ivf":0.12}"""))
    assert(root.path("index_trace").path("copairs") == Bench.traceNode(agg))
    assert(root.path("runs").asInt == 3 && root.path("sf").asText == "sf0.1")
  }

  test("the committed bench_detail.json writes back as the same tree") {
    val committed = Paths.get("bench_detail.json")
    val root = Json.mapper.readTree(committed.toFile)
    val sf = root.path("sf").asText
    val bodies = Bench.committedBodies(committed, sf)
    assert(bodies.size == root.path("queries").size && bodies.nonEmpty)
    def entries(field: String) =
      root.path(field).properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    val tree = Bench.detailTree(bodies,
      entries("index_build_s").map { case (k, v) => k -> v.asDouble },
      entries("index_trace"), root.path("runs").asInt, sf)
    val p = Files.createTempDirectory("detail_committed").resolve("bench_detail.json")
    Bench.writeDetail(p, tree)
    assert(Json.mapper.readTree(p.toFile) == root)
  }

  test("a NESTED sub-object's fields are never attributed to the " +
      "enclosing query (committedField top-level scan)") {
    val p = java.nio.file.Files.createTempFile("detail_nested2", ".json")
    // pagerank's body has NO top-level min — only a nested trace
    // object carrying one; committedMins must not claim 0.01 for it
    java.nio.file.Files.writeString(p,
      """{"queries":{"pagerank":{"med":6.5,"trace":{"min":0.01,"spill_mb":99.0}},
        |"q1_pricing":{"min":0.8,"med":0.9}},"runs":3,"sf":"sf0.1"}""".stripMargin)
    val mins = Bench.committedMins(p, "sf0.1")
    assert(mins.contains(Map("q1_pricing" -> 0.8)),
      s"nested min mis-attributed: $mins")
    assert(Bench.committedSpillMb(p, "sf0.1").forall(!_.contains("pagerank")),
      "nested spill_mb mis-attributed to the enclosing query")
  }

  test("renderLine emits SCALAR per-query mins and fits the driver's " +
      "2000-char tail window (r17 per-query contract)") {
    // 180 realistically-long names — the worst case the driver sees
    val entries = (1 to 180).map(i =>
      (f"dedup_gate_name_$i%03d", 0.3 + i * 0.01, 0.4 + i * 0.01))
      .sortBy(-_._2)
    val line = Bench.renderLine(entries, nOk = 180, runs = 3,
      subset = false, suspectField = "", sfName = "sf0.1",
      indexTotal = 17.3, errs = Seq.empty, total = 105.3, totalMed = 169.9)
    assert(line.length <= 1950, s"line ${line.length} chars over budget")
    // scalar values only — the [min,med] array form is what the driver
    // refused for two rounds (PERF_r16: n_common 0, bench_ok false)
    assert(!line.contains("["), "per-query values must be scalars")
    // slowest-first retention: every included name must be slower than
    // every omitted one, and the slowest gate is always present
    assert(line.contains("\"dedup_gate_name_180\":2.1"))
    val included = "dedup_gate_name_(\\d+)".r
      .findAllMatchIn(line).map(_.group(1).toInt).toSet
    val omitted = (1 to 180).toSet -- included
    if (omitted.nonEmpty)
      assert(omitted.max < included.min,
        s"omitted a slower gate (${omitted.max}) while keeping a faster one (${included.min})")
    // the omitted remainder is still accounted for
    assert(line.contains("\"fast_omitted\":" + omitted.size))
    assert(line.contains("\"total_med_s\":169.900"))
  }

  test("renderLine includes ALL queries when they fit (subset runs)") {
    val entries = Seq(("pagerank", 2.5, 2.6), ("bfs_hops", 1.6, 1.7))
    val line = Bench.renderLine(entries, nOk = 2, runs = 5, subset = true,
      suspectField = "", sfName = "sf0.1", indexTotal = 0.1,
      errs = Seq.empty, total = 4.1, totalMed = 4.3)
    assert(line.contains(""""queries":{"bfs_hops":1.6,"pagerank":2.5}"""))
    assert(!line.contains("fast_omitted"))
    assert(line.contains(""""subset":true"""))
  }

  test("renderLine caps the errors map so the line fits even when every " +
      "gate fails (errors_omitted counts the rest)") {
    val errs = (1 to 180).map(i =>
      (f"dedup_gate_name_$i%03d", "java.lang.IllegalStateException: " + "x" * 46)) ++
      (1 to 20).map(i => (f"index:index_name_$i%02d", "boom " + "y" * 75))
    val line = Bench.renderLine(Seq.empty, nOk = 0, runs = 3,
      subset = false, suspectField = "", sfName = "sf0.1",
      indexTotal = 0.0, errs = errs, total = 0.0, totalMed = 0.0)
    assert(line.length <= 1950, s"line ${line.length} chars over budget")
    val shown = "\"dedup_gate_name_(\\d+)\":".r.findAllMatchIn(line).size
    assert(shown > 0 && shown <= Bench.MaxErrors)
    assert(line.contains("\"errors_omitted\":" + (errs.size - shown)))
    // the total still closes the line
    assert(line.endsWith("\"total_s\":0.000}"))
  }

  test("renderLine escapes gate names and errors into parseable JSON") {
    val odd = "q\"uo\\te\tta\u0001b"
    val line = Bench.renderLine(Seq((odd, 1.5, 1.6)), nOk = 1, runs = 3,
      subset = false, suspectField = "", sfName = "sf0.1", indexTotal = 0.0,
      errs = Seq(odd + "_err" -> ("boom: " + odd)), total = 1.5, totalMed = 1.6)
    val root = Json.mapper.readTree(line)
    assert(root.path("queries").path(odd).asDouble == 1.5)
    assert(root.path("errors").path(odd + "_err").asText == "boom: " + odd)
    assert(line.endsWith("\"total_s\":1.500}"))
  }
}
