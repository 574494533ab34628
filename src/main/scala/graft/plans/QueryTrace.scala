package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine's one tracing listener. Counters keep the names of the
  * benchmark's per-layer figures and are monotone: callers diff two
  * [[snapshot]]s around the region they measure. It also keeps the
  * job/stage timeline completed since the last snapshot, which is what
  * localizes serial latency (broadcast collects, stage scheduling gaps)
  * that summed task metrics cannot show. Regions are not scoped by job
  * group, so a diff is exact only while one region runs at a time. */
final class QueryTrace extends SparkListener {
  import QueryTrace.Span

  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  private val tasksStarted = new AtomicLong()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Int, String)]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  @volatile private var epochMs = System.currentTimeMillis()

  private def span(kind: String, id: Int, start: Long, end: Long, tasks: Int,
      name: String): Unit = spans.synchronized {
    spans += Span(kind, id, (start - epochMs) / 1e3, (end - start) / 1e3, tasks,
      name.takeWhile(_ != '\n').take(80))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("exec.jobs", 1)
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStarts.put(e.jobId, (e.time, e.stageInfos.map(_.numTasks).sum, last))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (t, n, name) =>
      span("job", e.jobId, t, e.time, n, name)
    }
    add("jobs_ended", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("exec.stages", 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      span("stage", i.stageId, s, d, i.numTasks, i.name)
  }
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

  /** The counters in reporting units (seconds for `_ns` counters). Also
    * restarts the timeline: [[timeline]] then holds what completes after
    * this call, offset from it. */
  def snapshot(): Map[String, Double] = {
    settle()
    spans.synchronized { spans.clear(); epochMs = System.currentTimeMillis() }
    QueryTrace.counters.map { k =>
      if (k.endsWith("_ns")) k.stripSuffix("_ns") + "_s" -> get(k) / 1e9 else k -> get(k).toDouble
    }.toMap
  }

  /** Jobs and stages completed since the last [[snapshot]], by start. */
  def timeline(): Seq[Span] = {
    settle()
    spans.synchronized(spans.toVector).sortBy(s => (s.startS, s.kind))
  }
}

object QueryTrace {
  private val counters = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ns",
    "exec.cpu_ns", "exec.gc_ns", "scan.bytes", "scan.rows", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.write_ns", "shuffle.fetch_wait_ns", "exec.spill_disk_bytes")

  /** A job or stage: start offset and wall in seconds, task count, and
    * its name (a job takes its result stage's call site). */
  final case class Span(kind: String, id: Int, startS: Double, wallS: Double, tasks: Int,
      name: String)

  def register(s: SparkSession): QueryTrace = {
    val t = new QueryTrace
    s.sparkContext.addSparkListener(t)
    t
  }

  /** Per-key difference of two snapshots. */
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
