package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE parseable JSON line (also written to bench_last.json so sbt
  * log prefixes can never corrupt it). Failures are recorded per-query in
  * "errors" and excluded from the total — a crashed query must never be
  * counted as ~0 s of work. Each query runs SPARK_GRAFT_BENCH_RUNS times
  * (default 3: identical binaries still swung ±17% total / up to 6× per
  * query under min-of-2 across the round-3/4 sessions — see BASELINE.md)
  * and reports the fastest; min-of-N isolates the engine's cost from
  * co-tenant interference. */
object Bench {

  /** Noise self-defense (round-8 verdict item 5): the driver's bench
    * window once charged dedup_jaccard 4.7× its committed same-binary
    * cost — a sustained co-tenant noise plateau that min-of-3 cannot
    * filter. Queries whose fresh min exceeds `ratio`× the committed
    * bench_detail min (and an absolute floor that keeps sub-second
    * session-overhead queries out) are re-run; any that STAY elevated
    * are named in a tiny "suspect" list on the stdout line so a reader
    * can tell "sustained noise window" from "real regression" without
    * diffing detail files by hand. Pure function so a spec can drive it
    * with synthetic slowdowns. */
  def suspects(committed: Map[String, Double], measured: Map[String, Double],
      ratio: Double = 2.5, floorSec: Double = 0.5): Seq[String] =
    measured.toSeq.collect {
      case (name, v) if v >= floorSec &&
        committed.get(name).exists(c => c > 0 && v > ratio * c) => name
    }.sorted

  /** Byte-level regression defense (round-11 verdict item 5): a query
    * whose SHUFFLE-READ bytes grow >`ratio`× the committed same-SF
    * value is named in a "byte_suspect" list. Bytes are deterministic
    * for a given binary + corpus — unlike time there is no co-tenant
    * noise to retry away, so a non-empty list is always a real plan
    * change (this would have caught dedup_substring's 68 MB gram-hash
    * Exchange a round before the time signal did). The floor keeps
    * small-shuffle queries (MBs move with partition counts / AQE
    * coalescing) out; a query with NO committed shuffle that grows one
    * past the floor flags too — a brand-new Exchange is exactly the
    * regression class this exists for. Pure function, spec-driven. */
  def byteSuspects(committed: Map[String, Double], measured: Map[String, Double],
      ratio: Double = 2.0, floorMb: Double = 8.0): Seq[String] =
    measured.toSeq.collect {
      case (name, v) if v >= floorMb &&
        committed.get(name).exists(c => v > ratio * c) => name
    }.sorted

  /** Per-query committed mins from a bench_detail.json written by this
    * same object (tiny parser, zero deps; None when absent/unreadable or
    * recorded at a different SF — ratios across SFs are meaningless). */
  def committedMins(path: java.nio.file.Path, sf: String): Option[Map[String, Double]] =
    committedField(path, sf, "min")

  /** Per-query committed shuffle-read MB (for [[byteSuspects]]); None
    * when the detail predates stage tracing or is for another SF. */
  def committedShuffleMb(path: java.nio.file.Path, sf: String): Option[Map[String, Double]] =
    committedField(path, sf, "sh_read_mb")

  /** Per-query committed shuffle-WRITE MB (round-12 verdict item 7): a
    * write-side regression — e.g. a lost map-side partial aggregation —
    * shows on the map output BEFORE the read side of a later stage in a
    * multi-stage plan, and a regression in the FINAL stage's write is
    * invisible to the read metric entirely. */
  def committedShuffleWriteMb(path: java.nio.file.Path, sf: String): Option[Map[String, Double]] =
    committedField(path, sf, "sh_write_mb")

  /** Per-query committed spill MB. The census's committed spill is zero
    * everywhere, so [[byteSuspects]]'s `v > ratio · 0` arm flags ANY
    * new spill past the floor — exactly the alarm wanted: spill is a
    * memory-pressure plan failure, not noise. */
  def committedSpillMb(path: java.nio.file.Path, sf: String): Option[Map[String, Double]] =
    committedField(path, sf, "spill_mb")

  /** Index of the '}' matching the '{' at `open` (string-aware: braces
    * inside quoted values don't count; backslash escapes honored). -1
    * when unbalanced. */
  private def matchBrace(txt: String, open: Int): Int = {
    var i = open; var depth = 0; var inStr = false
    while (i < txt.length) {
      val c = txt.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Raw committed per-query object bodies — for carrying a still-live
    * gate's whole entry through a window in which it errored, and the
    * body source for [[committedField]]. Hardened (r16, ADVICE r15):
    * the parse is SCOPED to the top-level "queries" object and each
    * entry's body is captured by brace matching, so (a) a body that
    * gains a nested object (a future structured trace field) still
    * round-trips instead of silently vanishing from the carry, and
    * (b) `index_trace` sub-objects can never collide with gate names.
    * A structural surprise (e.g. a hand-edit this repair-oriented file
    * format explicitly invites — the merge tool's docs say to
    * hand-delete retired gates' rows) falls back to the r15 flat
    * regex over the scoped region, so one mangled entry degrades to
    * "flat-parse the well-formed entries" instead of silently
    * discarding the ENTIRE committed baseline — which the same run
    * would then overwrite, losing every ratchet min in one step. */
  private[graft] def committedBodies(path: java.nio.file.Path,
      sf: String): Map[String, String] =
    try {
      val txt = Files.readString(path)
      val sfRe = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
      if (!sfRe.findFirstMatchIn(txt).exists(_.group(1) == sf)) Map.empty
      else {
        val qKey = txt.indexOf("\"queries\"")
        val open = if (qKey < 0) -1 else txt.indexOf('{', qKey)
        val close = if (open < 0) -1 else matchBrace(txt, open)
        if (close < 0) Map.empty
        else {
          // scan the queries object's TOP-LEVEL entries: "name":{...}
          val out = scala.collection.mutable.Map.empty[String, String]
          var i = open + 1
          var ok = true
          while (ok && i < close) {
            val c = txt.charAt(i)
            if (c == ',' || c.isWhitespace) i += 1
            else if (c == '"') {
              val kEnd = txt.indexOf('"', i + 1)
              val colon = if (kEnd < 0) -1 else txt.indexOf(':', kEnd + 1)
              val bOpen = if (colon < 0) -1 else txt.indexOf('{', colon + 1)
              val bClose = if (bOpen < 0) -1 else matchBrace(txt, bOpen)
              if (bClose < 0 || bClose > close ||
                  txt.substring(colon + 1, bOpen).exists(!_.isWhitespace)) ok = false
              else {
                out.put(txt.substring(i + 1, kEnd), txt.substring(bOpen + 1, bClose))
                i = bClose + 1
              }
            } else ok = false
          }
          if (ok) out.toMap
          else {
            // graceful degradation: flat-regex the scoped region (the
            // pre-r16 parser) — captures every well-formed FLAT entry
            // and drops only bodies with nesting, instead of all 180
            val objRe = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{([^{}]*)\\}".r
            objRe.findAllMatchIn(txt.substring(open, close + 1))
              .map(m => m.group(1) -> m.group(2)).toMap
          }
        }
      }
    } catch { case _: Throwable => Map.empty }

  /** A body with nested objects elided — so field searches can never
    * attribute a NESTED object's min/med/spill_mb to the enclosing
    * query (e.g. a future structured trace sub-object that happens to
    * carry a "min" of its own). */
  private def topLevelOf(body: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '{') {
        val close = matchBrace(body, i)
        i = if (close < 0) body.length else close + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  // Locale.ROOT: the f-interpolator is locale-sensitive, and a
  // comma-decimal default locale would render 0,123 — unparseable JSON.
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  /** Relative precision sized to the ~20% host-noise floor (BASELINE.md):
    * sub-second values keep 2 decimals (10 ms), multi-second 1 decimal,
    * trailing zeros trimmed ("0.50" -> "0.5" — still valid JSON). */
  private[graft] def fmt2(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, if (v < 1) "%.2f" else "%.1f", v)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
  }

  /** Render the stdout JSON line (r17, VERDICT item 1 — restore the
    * driver's per-query contract). The driver's per-round comparison
    * needs `"queries":{"name": sec}` with SCALAR seconds; rounds 13-16
    * emitted `[min,med]` pairs for only the slowest 50 and the driver
    * recorded `n_common: 0` / `bench_ok: false` two rounds running. The
    * driver parses a bounded stdout tail of EXACTLY 2000 chars (every
    * committed BENCH_r*.json "tail" string is 2000 chars, with the line
    * front-truncated when longer — the round-2/round-5 failure mode), and
    * the 180 gate names alone are 2.2 KB, so emitting every query is
    * impossible by arithmetic. This fills the map with scalar MINS,
    * slowest-first, to a byte budget with safety margin (~90 entries vs
    * the old 50); the remainder is still counted in fast_omitted/
    * fast_total(_med), and full [min,med] + byte traces for EVERY query
    * stay in bench_detail.json. Pure function so a spec can pin the
    * budget, the scalar format, and the slowest-first retention order.
    *
    * `byCost` must be sorted slowest-first: (name, min, med). `errs`
    * (name, message) is capped the same way: at most [[MaxErrors]]
    * entries, fewer if the line is still over budget with no query
    * left, and the rest counted in errors_omitted. */
  private[graft] def renderLine(byCost: Seq[(String, Double, Double)],
      nOk: Int, runs: Int, subset: Boolean, suspectField: String,
      sfName: String, indexTotal: Double, errs: Seq[(String, String)],
      total: Double, totalMed: Double, budget: Int = 1950): String = {
    def build(n: Int, k: Int): String = {
      val (slow, fast) = byCost.splitAt(n)
      val errField = errs.take(k).map { case (q, e) => s"${jstr(q)}:${jstr(e)}" }
        .mkString("{", ",", "}") +
        (if (errs.size > k) s""","errors_omitted":${errs.size - k}""" else "")
      val qs = slow.sortBy(_._1)
        .map { case (q, v, _) => s"${jstr(q)}:${fmt2(v)}" }.mkString("{", ",", "}")
      val fastFields =
        if (fast.isEmpty) ""
        else s""","fast_omitted":${fast.size},"fast_total":${fmt(fast.map(_._2).sum)},"fast_total_med":${fmt(fast.map(_._3).sum)}"""
      val subsetField = if (subset) ""","subset":true""" else ""
      // The grand total appears TWICE: "value" at the very front (the
      // primary field) and "total_s" as the FINAL key — stdout tail
      // capture truncates the FRONT of an over-long line, so whichever
      // end survives carries the total.
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_ok":$nOk,"runs_per_query":$runs$fastFields$subsetField$suspectField,"sf":${jstr(sfName)},"index_build_total_s":${fmt2(indexTotal)},"queries":$qs,"errors":$errField,"total_med_s":${fmt(totalMed)},"total_s":${fmt(total)}}"""
    }
    var (n, k) = (byCost.size, math.min(errs.size, MaxErrors))
    var line = build(n, k)
    while (line.length > budget && n + k > 0) {
      if (n > 0) n -= 1 else k -= 1
      line = build(n, k)
    }
    line
  }

  private[graft] val MaxErrors = 10

  private def committedField(path: java.nio.file.Path, sf: String,
      field: String): Option[Map[String, Double]] =
    try {
      // Bodies from the scoped brace-matching parser above; the field
      // is then found anywhere at the body's TOP LEVEL (ADVICE r9:
      // requiring it first would silently disable the noise defense
      // for a serializer emitting {"med":...,"min":...}; nested
      // sub-objects are elided so their fields can't be mis-attributed
      // to the enclosing query).
      val fieldRe = ("\"" + field + "\"\\s*:\\s*([0-9.]+)").r
      val m = committedBodies(path, sf).flatMap { case (k, b) =>
        fieldRe.findFirstMatchIn(topLevelOf(b)).map(mm => k -> mm.group(1).toDouble) }
      if (m.isEmpty) None else Some(m)
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Serialize against a concurrently-launched correctness compare
    // (round-10: the co-tenant DuckDB oracle thrashed 44 GB of temp
    // through the bench window — med/min 1.46, two spurious suspects).
    val lockOwned = GateLock.acquire("bench")
    // Release on ALL exit paths (ADVICE r11): an exception between
    // acquire and release must not wedge the next gate for 30 minutes.
    try run(sfDir, cpus, lockOwned)
    finally GateLock.release(lockOwned)
  }

  private def run(sfDir: String, cpus: String, lockOwned: Boolean): Unit = {
    // Master selection (incl. multi-JVM local-cluster) lives in Sessions.
    val spark = Sessions.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // kmrtrace parity: attribute per-stage shuffle/input/spill bytes to
    // the query (job group) that ran them → bench_detail.json.
    val trace = new StageMetricsListener
    spark.sparkContext.addSparkListener(trace)
    def grouped[T](name: String)(body: => T): T =
      try { spark.sparkContext.setJobGroup(name, name); body }
      finally spark.sparkContext.clearJobGroup()
    // Warm up the JVM/codegen/IO paths so the first measured query does
    // not absorb session start-up cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "nation").count()
    // Pre-build every persisted index DURING warmup, timed per index
    // (round-9 verdict item 3): a cold window otherwise charges the
    // one-off build to whichever indexed gate runs first (dedup_delta
    // med 5.6 s vs min 0.58 s in BENCH_r09), conflating ingest-time and
    // query-time cost. After this loop the gates measure SERVE cost;
    // the builds are reported as their own index_build_s map. On a warm
    // corpus these are cheap serves (fingerprint check only) — the map
    // then records ~0 s, which is itself the signal that nothing was
    // rebuilt. Build failures go to the errors map (prefixed) rather
    // than killing the bench.
    val indexBuilds = SparkEntry.indexes.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { grouped(s"index:$name")(fn(spark, sfDir).count()); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(80)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }

    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=pagerank,dedup_clusters (full run when unset).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
        SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val results0 = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      GateLock.touch(lockOwned) // liveness: a long census must not be stolen
      // run 1 executes under a job group so the trace listener
      // attributes its stages to this query; repeat runs re-execute the
      // same stages, so counting one run's bytes is the per-run cost
      val timings = grouped(name)(timeOnce(fn)) +:
        (2 to runs).map(_ => timeOnce(fn))
      val firstErr = timings.flatMap(_._2).headOption
      val sorted = timings.map(_._1).sorted
      // min isolates engine cost from co-tenant noise; median bounds how
      // much noise min hid — a future round comparing min-vs-min can
      // consult median to tell a real regression from a lucky/unlucky
      // host window without re-running (BASELINE.md protocol).
      (name, sorted.head, sorted(sorted.size / 2), firstErr)
    }
    // Noise self-defense: queries deviating >2.5× from the committed
    // bench_detail (same SF) get up to 2 extra trials — a noise plateau
    // usually clears; a real regression stays and is NAMED in "suspect".
    // Rebase escape (ADVICE r15): after an INTENTIONAL slowdown the
    // stale committed mins would both flag the changed queries as
    // suspects AND burn their retry trials — under
    // SPARK_GRAFT_BENCH_REBASE=1 the committed baseline is treated as
    // absent for the whole defense (time ratchet, suspects, retries,
    // byte channels), making THIS window the new baseline cleanly.
    val rebase = sys.env.get("SPARK_GRAFT_BENCH_REBASE").contains("1")
    val sfName = Paths.get(sfDir).getFileName.toString
    val committed =
      if (rebase) None
      else committedMins(Paths.get("bench_detail.json"), sfName)
    val firstSus = committed.map(c =>
      suspects(c, results0.collect { case (n, v, _, None) => n -> v }.toMap))
      .getOrElse(Seq.empty).toSet
    val results = results0.map {
      case (name, v, m, None) if firstSus(name) =>
        val extra = (1 to 2).map(_ => timeOnce(selected(name))).collect { case (t, None) => t }
        (name, (v +: extra).min, m, Option.empty[String])
      case r => r
    }
    val stillSuspect = committed.map(c =>
      suspects(c, results.collect { case (n, v, _, None) => n -> v }.toMap))
      .getOrElse(Seq.empty)
    val ok = results.filter(_._4.isEmpty)
    val errs = results.collect { case (k, _, _, Some(e)) => (k, e.take(80)) } ++
      indexBuilds.collect { case (k, _, Some(e)) => ("index:" + k, e) }
    val total = ok.map(_._2).sum
    val totalMed = ok.map(_._3).sum
    // one-off index-build (ingest-time) cost, reported separately from
    // the per-query (serve-time) numbers. The per-index map lives in
    // bench_detail.json; the stdout line carries only the TOTAL build
    // seconds (r17: the ~370 chars the per-index map cost buy ~19 more
    // per-query entries inside the driver's 2000-char tail window).
    val buildJson = indexBuilds.collect { case (k, v, None) => s"${jstr(k)}:${fmt2(v)}" }
      .mkString("{", ",", "}")
    val buildTotal = indexBuilds.collect { case (_, v, None) => v }.sum
    // Stage-trace rendering (detail file only — the stdout line is
    // size-bounded). The listener bus is asynchronous; by this point
    // every query finished seconds ago, but give stragglers a moment.
    Thread.sleep(1500)
    def mb(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", b / 1048576.0)
    def traceJson(g: String): String = trace.byGroup.get(g).map { a =>
      s""","stages":${a.stages},"tasks":${a.tasks},"sh_read_mb":${mb(a.shuffleReadB)},"sh_write_mb":${mb(a.shuffleWriteB)},"input_mb":${mb(a.inputB)},"spill_mb":${mb(a.spillB)}"""
    }.getOrElse("")
    // Byte-level regression check: run-1 shuffle-read bytes per query
    // vs the committed detail. Bytes are noise-free, so no retries —
    // a non-empty list IS a plan regression (or an intended plan
    // change whose next full census re-baselines it).
    val measuredMb = ok.flatMap { case (n, _, _, _) =>
      trace.byGroup.get(n).map(a => n -> a.shuffleReadB / 1048576.0) }.toMap
    val byteSus =
      (if (rebase) None
       else committedShuffleMb(Paths.get("bench_detail.json"), sfName))
      .map(c => byteSuspects(c, measuredMb)).getOrElse(Seq.empty)
    // Write-side and spill checks (round-12 verdict item 7): same pure
    // predicate over the other two byte channels. Spill uses a lower
    // floor — the committed census spills ZERO bytes anywhere, so any
    // spill at all is a memory-pressure regression worth naming.
    val measuredWriteMb = ok.flatMap { case (n, _, _, _) =>
      trace.byGroup.get(n).map(a => n -> a.shuffleWriteB / 1048576.0) }.toMap
    val writeSus =
      (if (rebase) None
       else committedShuffleWriteMb(Paths.get("bench_detail.json"), sfName))
      .map(c => byteSuspects(c, measuredWriteMb)).getOrElse(Seq.empty)
    val measuredSpillMb = ok.flatMap { case (n, _, _, _) =>
      trace.byGroup.get(n).map(a => n -> a.spillB / 1048576.0) }.toMap
    val spillSus =
      (if (rebase) None
       else committedSpillMb(Paths.get("bench_detail.json"), sfName))
      .map(c => byteSuspects(c, measuredSpillMb, floorMb = 1.0)).getOrElse(Seq.empty)
    val indexTrace = indexBuilds.collect {
      case (k, _, None) if trace.byGroup.contains(s"index:$k") =>
        s"""${jstr(k)}:{${traceJson(s"index:$k").drop(1)}}"""
    }.mkString("{", ",", "}")
    // Best-of-windows merge (r14 verdict "What's wrong #1"): a full run
    // at the canonical SF must never REPLACE a better committed min with
    // a noisy window's value — the committed detail is the threshold
    // source for the noise defense, so one elevated driver window would
    // silently loosen every threshold it feeds. Timing (min, med) is
    // kept as a PAIR from whichever window has the lower min; the
    // byte/stage shape is always the fresh run's (bytes are
    // deterministic and must describe the current code's plan).
    // tools/merge_bench_detail.py is the offline twin for repairing an
    // already-clobbered file. committedMins is SF-guarded, so a run at
    // a non-canonical SF merges against nothing.
    // Under the rebase escape (declared above, with the rest of the
    // defense) the best-of merge is skipped too: this run's timings
    // become the committed pairs. Use only on a quiet host, and say so
    // in the commit that lands the rebased detail file.
    val priorTiming: Map[String, (Double, Double)] =
      if (only.isEmpty && !rebase)
        (committedMins(Paths.get("bench_detail.json"), sfName),
         committedField(Paths.get("bench_detail.json"), sfName, "med")) match {
          case (Some(mins), Some(meds)) =>
            mins.flatMap { case (k, mn) => meds.get(k).map(md => k -> (mn, md)) }
          case _ => Map.empty[String, (Double, Double)]
        }
      else Map.empty[String, (Double, Double)]
    val okEntries = ok.sortBy(_._1)
      .map { case (k, v, m, _) =>
        val (bv, bm) = priorTiming.get(k).filter(_._1 < v).getOrElse((v, m))
        s"""${jstr(k)}:{"min":${fmt(bv)},"med":${fmt(bm)}${traceJson(k)}}""" }
    // A still-live gate that ERRORED this window must not lose its
    // committed entry — dropping it would disable the noise defense for
    // that query and let the next (possibly elevated) window become its
    // ratchet floor, the same hole the best-of merge closes for noisy
    // mins. Carry the whole committed object through; retired gates
    // (absent from SparkEntry.queries) are dropped as before.
    val okNames = ok.map(_._1).toSet
    val carried =
      (if (only.isEmpty)
         committedBodies(Paths.get("bench_detail.json"), sfName)
           .filter { case (k, _) =>
             !okNames(k) && SparkEntry.queries.contains(k) }
       else Map.empty[String, String])
        .toSeq.sortBy(_._1).map { case (k, b) => s"${jstr(k)}:{$b}" }
    val detail = (okEntries ++ carried)
      .mkString("{\"queries\":{", ",",
        s"""},"index_build_s":$buildJson,"index_trace":$indexTrace,"runs":$runs,"sf":${jstr(Paths.get(sfDir).getFileName.toString)}}""")
    // Subset runs (SPARK_GRAFT_BENCH_ONLY) must not clobber the committed
    // full-census detail file, and neither may a full run at a DIFFERENT
    // SF (a local sf0.01 smoke would silently replace the sf0.1 baseline
    // and disable the noise-defense compare for the next driver run) —
    // cross-SF details go to bench_detail_<sf>.json instead. The driver's
    // own sf0.1 runs match the committed sf and update in place.
    if (only.isEmpty) {
      val canonical = Paths.get("bench_detail.json")
      // missing or unparseable existing file → safe to (re)write in place
      val existingSf =
        try "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(Files.readString(canonical)).map(_.group(1))
        catch { case _: Throwable => None }
      // When no parseable canonical exists, only the BASELINE SF
      // (sf0.1 — the driver's bench SF, BASELINE.md) may create it: a
      // lost canonical plus one census at another SF would otherwise
      // hijack the file and divert every later baseline run (and the
      // noise defense) forever.
      val target =
        if (existingSf.map(_ == sfName).getOrElse(sfName == "sf0.1")) canonical
        else Paths.get(s"bench_detail_$sfName.json")
      Files.writeString(target, detail + "\n")
    } else {
      // Subset runs keep their stage trace too — in a file the defense
      // never reads (r14: the spill-regime probe needs per-query
      // spill_mb from a BENCH_ONLY run; without this the bytes died
      // with the JVM).
      Files.writeString(Paths.get(s"bench_detail_${sfName}_subset.json"),
        detail + "\n")
    }
    // Names that stayed >2.5× their committed same-SF min after retries —
    // normally empty (zero bytes of the tail window); a non-empty list
    // says "compare bench_detail.json to the committed one before
    // believing these numbers".
    val suspectField =
      (if (stillSuspect.isEmpty) ""
       else s""","suspect":${stillSuspect.map(jstr).mkString("[", ",", "]")}""") +
      (if (byteSus.isEmpty) ""
       else s""","byte_suspect":${byteSus.map(jstr).mkString("[", ",", "]")}""") +
      (if (writeSus.isEmpty) ""
       else s""","write_suspect":${writeSus.map(jstr).mkString("[", ",", "]")}""") +
      (if (spillSus.isEmpty) ""
       else s""","spill_suspect":${spillSus.map(jstr).mkString("[", ",", "]")}""")
    val line = renderLine(
      ok.sortBy { case (_, v, _, _) => -v }.map { case (k, v, m, _) => (k, v, m) },
      nOk = ok.size, runs = runs, subset = only.isDefined,
      suspectField = suspectField, sfName = sfName, indexTotal = buildTotal,
      errs = errs, total = total, totalMed = totalMed)
    Files.writeString(Paths.get("bench_last.json"), line + "\n")
    spark.stop()
    // Printed after spark.stop() so it is the final line of stdout
    // (build.sbt sets showSuccess := false to keep it that way).
    println(line)
  }
}
