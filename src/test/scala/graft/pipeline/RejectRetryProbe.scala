package graft.pipeline

import graft.Sessions
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Wraps an extractor so that attempt 0 of load partition `partition`
  * throws on the first row after it has handed `afterMarkers` reject
  * markers downstream. The sink counts a marker as it pulls it and pulls
  * a whole batch before its first POST, so the failed attempt has counted
  * markers but posted nothing. */
final case class FailFirstAttemptExtractor(inner: Extractor, partition: Int, afterMarkers: Int)
    extends Extractor {
  override def extract(spark: SparkSession, appliances: DataFrame): DataFrame = {
    val out = inner.extract(spark, appliances)
    val (p, k, name) = (partition, afterMarkers, out.schema.fieldIndex("name"))
    out.mapPartitions { rows =>
      val ctx = TaskContext.get()
      var markers = 0
      if (ctx.partitionId() != p || ctx.attemptNumber() > 0) rows
      else rows.map { r =>
        if (markers == k) throw new IllegalStateException(s"injected failure: partition $p, attempt 0")
        if (r.isNullAt(name)) markers += 1
        r
      }
    }(Encoders.row(out.schema))
  }
}

/** The ETL load job on `local[2,2]` (two task attempts per partition),
  * with load partition 1 failing its first attempt. The suite's shared
  * session runs each task once, so this runs in its own JVM
  * (RejectRetrySpec).
  *
  * Usage: RejectRetryProbe <workDir> — prints one JSON line. */
object RejectRetryProbe {
  val loadPartitions = 4
  val validRows = 400

  def main(args: Array[String]): Unit = {
    val dir = new java.io.File(args(0))
    // The first 2 * loadPartitions rows are malformed: position routing
    // sends two markers to the head of every load partition, so the
    // failing attempt counts markers before it throws.
    val lines = (0 until 2 * loadPartitions).map(_ => "malformed") ++
      (1 to validRows).flatMap { i =>
        val ok = s"10.0.${i / 256}.${i % 256},device-$i"
        if (i % 37 == 0) Seq(ok, ",host-only") else Seq(ok)
      }
    val planted = lines.count(l => l.startsWith(",") || !l.contains(","))
    val csv = new java.io.File(dir, "appliances.csv")
    Files.writeString(csv.toPath, lines.mkString("\n") + "\n")

    val spark = Sessions.configure(
      SparkSession.builder().master("local[2,2]").appName("graft-reject-retry"), "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failedTasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failedTasks.incrementAndGet()
    })
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = csv.getPath,
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 50,
          spillDir = new java.io.File(dir, "spill").getPath),
        extractor = FailFirstAttemptExtractor(
          ProjectionExtractor(Some(1L)), partition = 1, afterMarkers = 2),
        loadPartitions = loadPartitions)
      val st = new EtlPipeline(spark, cfg).run()
      // task-end events reach the listener asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (failedTasks.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val names = server.receivedBodies.flatMap(b => "\"name\":\"(device-\\d+)\"".r.findAllMatchIn(b).map(_.group(1)))
      println(s"""{"metric":"reject_retry","rejected":${st.rejectedRows},"planted":$planted,""" +
        s""""valid":$validRows,"received":${names.size},"distinct":${names.distinct.size},""" +
        s""""spilled":${st.sink.spilledRecords},"failed_tasks":${failedTasks.get()}}""")
    } finally { server.stop(); spark.stop() }
  }
}
