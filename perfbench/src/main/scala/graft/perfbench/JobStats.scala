package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** What Spark did for one timed call, and the bytes all JVM threads
  * allocated over it.
  */
final case class CallStats(jobs: Int, shuffleBytes: Long, taskCpuNs: Long, taskPeakMemBytes: Long,
                           allocBytes: Long = 0L)

/** Attributes jobs and task metrics to the Spark job group they ran under.
  * The benchmark runs each timed call under a job group of its own; read a
  * group only after draining the listener bus.
  */
final class JobStats extends SparkListener {
  private val stageGroup = new java.util.HashMap[Int, String]()
  private val groups = new java.util.HashMap[String, CallStats]()

  private def update(g: String)(f: CallStats => CallStats): Unit =
    groups.put(g, f(groups.getOrDefault(g, CallStats(0, 0, 0, 0))))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(s => stageGroup.put(s, g))
      update(g)(c => c.copy(jobs = c.jobs + 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) update(g) { c =>
      c.copy(shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        taskPeakMemBytes = math.max(c.taskPeakMemBytes, m.peakExecutionMemory))
    }
  }

  def get(group: String): CallStats = synchronized {
    groups.getOrDefault(group, CallStats(0, 0, 0, 0))
  }
}
