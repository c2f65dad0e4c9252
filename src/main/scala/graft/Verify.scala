package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** oracle_sql.json: each oracled gate's DuckDB SQL by gate name, read
    * by tools/check_correctness.py and tools/oracle_sharded.py. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    Json.mapper.writeValueAsString(sql)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Serialize against a concurrently-running bench (round-10
    // collision postmortem): same lock as Bench + check_correctness.py.
    val lockOwned = GateLock.acquire("verify")
    // Release on ALL exit paths (ADVICE r11): an exception between
    // acquire and release must not wedge the next gate for 30 minutes.
    try run(sfDir, outDir, cpus, lockOwned)
    finally GateLock.release(lockOwned)
  }

  private def run(sfDir: String, outDir: String, cpus: String,
      lockOwned: Boolean): Unit = {
    // Master selection (incl. multi-JVM local-cluster) lives in Sessions.
    val spark = Sessions.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // queries are independent — run a few concurrently so the gate's
    // wall-clock is bounded by the slowest queries, not the sum.
    // SPARK_GRAFT_VERIFY_POOL tunes the width: at big SFs (sf10) four
    // concurrent quadratic similarity queries spill simultaneously and
    // can exhaust /tmp; pool=1 serializes them (what the bench does).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_POOL", "4").toInt)
    // Optional comma-separated subset for local iteration (driver runs the
    // full set); same contract as SPARK_GRAFT_BENCH_ONLY.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_VERIFY_RESUME=1: skip queries whose dump already has
    // a _SUCCESS marker — lets a big-SF census (hours of wall-clock)
    // survive an interrupted run without redoing finished queries. OFF
    // by default: the driver gate must always re-dump everything (a
    // stale dump of CHANGED code passing the oracle would be a silent
    // false green).
    val resume = sys.env.get("SPARK_GRAFT_VERIFY_RESUME").contains("1")
    val tasks = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          try {
            if (resume && Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))) {
              System.err.println(s"[verify] $name resumed (dump exists)")
            } else {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            }
            GateLock.touch(lockOwned) // liveness heartbeat per completed query
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      }
    }
    import scala.jdk.CollectionConverters._
    pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
