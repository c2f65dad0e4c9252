package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; Spark's getOrCreate makes this safe across suites). */
object SparkTest {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.spark
  def sfDir: String = SparkTest.sfDir

  /** `body`'s value and the number of Spark jobs it started, counted by
    * a listener on a job group of its own. */
  def jobsIn[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val out = try body finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.get)
  }
}
