package graft.perfbench

import graft.{Sessions, SparkEntry, Tables}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one closed-loop client on the driver thread.
  *
  * Reads a properties file written by perfbench/run.py, sets up a session
  * several times (for a median set-up time), each time on its own copy of
  * the inputs, and warms the last session up on a further copy. It then
  * runs a cold pass on each set-up copy, which the gates have not seen
  * yet, and a fixed number of warm passes on the last one.
  * Each job is `SparkEntry.queries(name)(spark, dir)` timed in three
  * phases from outside:
  *  - build: the call that returns the DataFrame;
  *  - plan: forcing `df.queryExecution.executedPlan`;
  *  - exec: `df.collect()`, which runs on that same QueryExecution and
  *    materialises every column of the result.
  * Result hashing and the parquet dumps for the oracle check happen after
  * a pass's clock stops. In trace mode the cold passes and every second warm
  * pass are traced (a [[PhaseListener]] attached and spans recorded), so
  * the same run also yields the untraced pass time the tracing overhead is
  * measured against. Everything is written as one JSON file at the end.
  */
object Runner {

  final case class Span(id: Int, parent: Int, name: String, pass: Int,
      startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private val t0Ns = System.nanoTime()

  /** Runs `body` as a span when `on`; the id is passed to the body. */
  private def span[T](on: Boolean, parent: Int, name: String, pass: Int)(
      body: Int => T): T = {
    val id = if (on) { nextSpan += 1; nextSpan } else -1
    val s = System.nanoTime()
    try body(id)
    finally if (on) spans += Span(id, parent, name, pass, s, System.nanoTime())
  }

  private def secs(ns: Long): Double = ns / 1e9

  private def log(m: String): Unit =
    System.err.println(f"[perfbench] t=${secs(System.nanoTime() - t0Ns)}%.2f $m")

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try p.load(in) finally in.close()
    def list(k: String): Seq[String] =
      Option(p.getProperty(k)).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val cpus = p.getProperty("cpus")
    val trace = p.getProperty("trace") == "1"
    val setupDirs = list("setup_dirs")
    val warmupDir = p.getProperty("warmup_dir")
    val jobs = list("jobs")
    val prebuild = list("prebuild")
    val warmPasses = p.getProperty("warm_passes").toInt
    val dumpRoot = p.getProperty("dump")
    val out = Paths.get(p.getProperty("out"))

    val queries = SparkEntry.queries
    val indexes = SparkEntry.indexes
    val moduleOf = SparkEntry.moduleDefs.flatMap { case (m, ds) =>
      ds.map(_.name -> m.split('.').last) }.toMap
    jobs.foreach(n => require(queries.contains(n), s"unknown job $n"))
    prebuild.foreach(n => require(indexes.contains(n), s"unknown index $n"))

    // ---- set-up, repeated: session start, first read, index pre-build.
    // Each repetition has its own copy of the inputs.
    var spark: SparkSession = null
    val setups = setupDirs.zipWithIndex.map { case (dir, r) =>
      span(trace, 0, "setup", -1) { sid =>
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val a = System.nanoTime()
        spark = Sessions.build(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        val b = System.nanoTime()
        Tables.load(spark, dir, "nation").count()
        val c = System.nanoTime()
        val indexS = prebuild.map { n =>
          val t = System.nanoTime()
          span(trace, sid, s"index:$n", -1)(_ => indexes(n)(spark, dir))
          n -> secs(System.nanoTime() - t)
        }.toMap
        val d = System.nanoTime()
        log(s"set-up $r done, index calls $indexS")
        Map("rep" -> r, "session_s" -> secs(b - a), "first_read_s" -> secs(c - b),
          "prebuild_s" -> secs(d - c), "index_s" -> indexS)
      }
    }
    // ---- session warm-up: one untimed pass over its own copy, so JIT and
    // codegen are warm and the cold passes below measure what a new dataset
    // costs rather than what a new JVM costs. Its failures surface again in
    // the measured passes.
    val warmupStart = System.nanoTime()
    for (n <- jobs)
      try queries(n)(spark, warmupDir).collect()
      catch { case _: Exception => () }
    val warmupS = secs(System.nanoTime() - warmupStart)
    log("warm-up done")
    val sc = spark.sparkContext
    // untimed: serve every set-up copy's pre-built indexes in this session,
    // as the last set-up already did for its own copy, so each cold pass
    // finds its indexes in the same state
    for (d <- setupDirs; n <- prebuild) indexes(n)(spark, d)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    def heapAfterGcMb(): Double =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(mp => Option(mp.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    val indexRoot = Paths.get("target/graft-index")
    def indexVersions(): Map[String, Long] =
      if (!Files.isDirectory(indexRoot)) Map.empty
      else {
        val w = Files.walk(indexRoot)
        try w.iterator().asScala
          .filter(q => Files.isDirectory(q) && q.getFileName.toString.startsWith("v_"))
          .map(q => q.toString -> dirBytes(q)).toMap
        finally w.close()
      }

    // ---- passes: one cold pass per set-up copy, then the warm ones on the
    // last copy. The copies are identical, so every result of a job must
    // hash equal.
    val firstHash = scala.collection.mutable.Map.empty[String, String]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val listener = new PhaseListener
    val passDirs = setupDirs ++ Seq.fill(warmPasses)(setupDirs.last)
    for ((dir, pass) <- passDirs.zipWithIndex) {
      val cold = pass < setupDirs.size
      val traced = trace && (cold || (pass - setupDirs.size) % 2 == 1)
      if (traced) sc.addSparkListener(listener)
      val gc0 = gcMs()
      val idx0 = indexVersions()
      val results = ArrayBuffer.empty[Option[(Array[Row], StructType)]]
      val jobRecs = ArrayBuffer.empty[Map[String, Any]]
      val passStart = System.nanoTime()
      span(traced, 0, "pass", pass) { pid =>
        jobs.foreach { n =>
          span(traced, pid, s"job:$n", pass) { jid =>
            var tb, tp, te = 0.0
            var phases: Map[String, Double] = Map.empty
            def tag(ph: String): Unit =
              if (traced) sc.setLocalProperty(PhaseListener.Key, s"$pass:$n:$ph")
            val res: Either[String, (Array[Row], StructType)] =
              try {
                tag("build")
                val df: DataFrame = span(traced, jid, "build", pass) { _ =>
                  val a = System.nanoTime()
                  val d = queries(n)(spark, dir)
                  tb = secs(System.nanoTime() - a); d
                }
                tag("plan")
                val qe = df.queryExecution
                span(traced, jid, "plan", pass) { _ =>
                  val a = System.nanoTime()
                  qe.executedPlan
                  tp = secs(System.nanoTime() - a)
                }
                tag("exec")
                val rows = span(traced, jid, "exec", pass) { _ =>
                  val a = System.nanoTime()
                  val r = df.collect()
                  te = secs(System.nanoTime() - a); r
                }
                phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
                Right((rows, df.schema))
              } catch { case e: Throwable => Left(msg(e)) }
              finally if (traced) sc.setLocalProperty(PhaseListener.Key, null)
            results += res.toOption
            jobRecs += Map("name" -> n, "module" -> moduleOf.getOrElse(n, "?"),
              "build_s" -> tb, "plan_s" -> tp, "exec_s" -> te,
              "catalyst" -> phases, "error" -> res.left.toOption.orNull)
          }
        }
      }
      val passS = secs(System.nanoTime() - passStart)
      // ---- untimed: drain events, hash, dump, probe memory and disk
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      val checked = results.zip(jobRecs).map {
        case (Some((rows, schema)), rec) =>
          val n = rec("name").toString
          val h = rowHash(schema, rows)
          // the first result of each job goes to the oracle check; every
          // later one must equal it
          val dumpPath = if (firstHash.contains(n)) null else {
            sc.setJobGroup("perfbench-dump", "perfbench-dump")
            try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$dumpRoot/$n")
            finally sc.clearJobGroup()
            s"$dumpRoot/$n"
          }
          rec ++ Map("rows" -> rows.length, "dump" -> dumpPath,
            "consistent" -> (firstHash.getOrElseUpdate(n, h) == h))
        case (None, rec) => rec
      }
      val idx1 = indexVersions()
      val newVersions = idx1.keySet -- idx0.keySet
      val storage = sc.getRDDStorageInfo
      passes += Map[String, Any](
        "pass" -> pass, "cold" -> cold, "traced" -> traced, "pass_s" -> passS,
        "jobs" -> checked,
        "index_builds" -> newVersions.size,
        "index_write_b" -> newVersions.toSeq.map(idx1).sum,
        "gc_s" -> (gcMs() - gc0) / 1e3,
        "heap_after_pass_mb" -> heapAfterGcMb(),
        "cached_rdds" -> storage.length,
        "cached_b" -> storage.map(s => s.memSize + s.diskSize).sum,
        "phase_totals" -> (if (!traced) Map.empty else
          listener.byTag.toMap.collect {
            case (k, v) if k.startsWith(s"$pass:") => k.stripPrefix(s"$pass:") -> v.toMap
          }))
      log(f"pass $pass done in $passS%.3f s: " + jobRecs.map(r =>
        f"${r("name")} ${r("build_s")}%s/${r("plan_s")}%s/${r("exec_s")}%s").mkString(", "))
    }

    // ---- end of run: retained heap after forced full GCs. Broadcast and
    // shuffle blocks are released by the ContextCleaner thread once their
    // owners are collected, so collect, let it run, and collect again
    // until the figure settles.
    var heapRetainedMb = Double.MaxValue
    var settled = false
    var round = 0
    while (!settled && round < 6) {
      System.gc()
      Thread.sleep(200)
      val now =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      settled = now > heapRetainedMb - 1.0
      heapRetainedMb = math.min(heapRetainedMb, now)
      round += 1
    }
    // this run's own tables: those named after one of its input copies
    val suffixes = (setupDirs :+ warmupDir).map(graft.sources.ServedIndex.suffix)
    val indexDiskB = if (!Files.isDirectory(indexRoot)) 0L else {
      val ls = Files.list(indexRoot)
      try ls.iterator().asScala
        .filter(q => suffixes.exists(q.getFileName.toString.endsWith))
        .map(dirBytes).sum
      finally ls.close()
    }
    val mem = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
    val result = Map[String, Any](
      "main_epoch_ms" -> mainEpochMs, "warmup_s" -> warmupS,
      "setups" -> setups, "passes" -> passes.toSeq,
      "heap_retained_mb" -> heapRetainedMb, "index_disk_b" -> indexDiskB,
      "cores" -> sc.defaultParallelism,
      "oracles" -> SparkEntry.oracleSql.filter { case (k, _) => jobs.contains(k) },
      "host" -> Map("master" -> sc.master, "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"), "xmx" -> mem),
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "pass" -> s.pass, "start_s" -> secs(s.startNs - t0Ns),
        "end_s" -> secs(s.endNs - t0Ns))))
    spark.stop()
    Files.writeString(out, Json.render(result))
    log("done")
  }

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  private def dirBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  /** Order-sensitive SHA-256 of a collected result and its schema. */
  def rowHash(schema: StructType, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.simpleString.getBytes("UTF-8"))
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
