package graft.sources

import org.apache.spark.sql.SparkSession

/** Child-process main for [[IndexChaosSpec]]: build-or-serve one
  * ServedIndex table from a SEPARATE JVM, so the spec can exercise the
  * cross-process paths (pointer swing observed by another process,
  * racing builders) that an in-JVM test cannot reach — the per-table
  * build lock and registered-version map are JVM-local by design.
  *
  * args: dirName tbl fp nRows sleepMsInsideBuild
  * prints `CHAOS_OK count=<n>` on success. */
object IndexChaosChild {
  def main(args: Array[String]): Unit = {
    val Array(dirName, tbl, fp, n, sleepMs) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"chaos-$tbl")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = ServedIndex(spark, tbl, dirName, fp,
      "k BIGINT, v BIGINT", "k", 2) {
      // the sleep sits INSIDE the by-name build, widening the window in
      // which a second builder can be mid-write in another process
      if (sleepMs.toLong > 0) Thread.sleep(sleepMs.toLong)
      spark.range(n.toLong).selectExpr("id AS k", "id * 7 AS v")
    }
    val cnt = df.count()
    println(s"CHAOS_OK count=$cnt")
    spark.stop()
  }
}
