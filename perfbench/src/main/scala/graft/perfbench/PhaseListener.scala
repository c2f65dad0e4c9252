package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Executor-side cost per phase span. The benchmark tags every job it
  * starts with the local property [[PhaseListener.Key]] (the id of the
  * build, plan or exec span that launched it); stages inherit the tag of
  * their job, and each completed stage folds its task metrics into the
  * tag's totals. Events arrive on the listener-bus thread. */
class PhaseListener extends SparkListener {
  import PhaseListener.Totals

  private val stageTag = TrieMap.empty[Int, String]
  val byTag = TrieMap.empty[String, Totals]

  private def totals(tag: String): Totals = byTag.getOrElseUpdate(tag, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(PhaseListener.Key)))
      .foreach { tag =>
        totals(tag).synchronized(totals(tag).jobs += 1)
        e.stageIds.foreach(stageTag.put(_, tag))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) stageTag.get(e.stageId).foreach { tag =>
      val t = totals(tag)
      t.synchronized(t.tasksFailed += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageTag.remove(si.stageId).foreach { tag =>
      val t = totals(tag)
      val m = si.taskMetrics
      if (m != null) t.synchronized {
        t.stages += 1
        t.tasks += si.numTasks
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputB += m.inputMetrics.bytesRead
      }
    }
  }
}

object PhaseListener {
  val Key = "perfbench.span"

  final class Totals {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var tasksFailed = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var inputB = 0L

    def toMap: Map[String, Any] = synchronized(Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "tasks_failed" -> tasksFailed, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchWaitMs,
      "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
      "spill_b" -> spillB, "input_b" -> inputB))
  }
}
