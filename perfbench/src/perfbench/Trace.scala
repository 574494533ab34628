package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong

/** The benchmark's one Spark listener, registered only in traced runs:
  * job, stage and task counts plus the task metrics the per-layer
  * figures need. Counters are monotone; callers diff snapshots. */
final class Trace extends SparkListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  private val tasksStarted = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = add("jobs_ended", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_ns", m.executorRunTime * 1000000L)
      add("exec.cpu_ns", m.executorCpuTime)
      add("exec.gc_ns", m.jvmGCTime * 1000000L)
      add("scan.bytes", m.inputMetrics.bytesRead)
      add("scan.rows", m.inputMetrics.recordsRead)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_ns", m.shuffleReadMetrics.fetchWaitTime * 1000000L)
      add("exec.spill_disk_bytes", m.diskBytesSpilled)
    }
  }

  def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)

  /** Waits until the asynchronous listener bus has delivered every
    * started job's and task's end event. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((get("exec.tasks") < tasksStarted.get || get("jobs_ended") < get("exec.jobs")) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(20)
  }

  /** The counters in reporting units (seconds for `_ns` counters). */
  def snapshot(): Map[String, Double] = {
    settle()
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ns", "exec.cpu_ns", "exec.gc_ns",
      "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_ns",
      "shuffle.fetch_wait_ns", "exec.spill_disk_bytes").map { k =>
      if (k.endsWith("_ns")) k.stripSuffix("_ns") + "_s" -> get(k) / 1e9 else k -> get(k).toDouble
    }.toMap
  }
}
