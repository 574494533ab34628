package graft.pipeline

import graft.Sessions
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Wraps an extractor so that attempt 0 of load partition `partition`
  * throws on the first row after it has handed `afterMarkers` reject
  * markers and `afterRows` rows downstream, calling `onFail` first. The
  * sink counts a marker as it pulls it and pulls a whole batch before its
  * first POST, so with `afterRows` 0 the failed attempt has counted
  * markers but posted nothing, and with `afterRows` past the batch size it
  * has posted (or spilled) its first batch. */
final case class FailFirstAttemptExtractor(
    inner: Extractor, partition: Int, afterMarkers: Int, afterRows: Int = 0,
    onFail: () => Unit = () => ()) extends Extractor {
  override def extract(spark: SparkSession, appliances: DataFrame): DataFrame = {
    val out = inner.extract(spark, appliances)
    val (p, k, n, hook, name) = (partition, afterMarkers, afterRows, onFail, out.schema.fieldIndex("name"))
    out.mapPartitions { rows =>
      val ctx = TaskContext.get()
      var markers = 0
      var seen = 0
      if (ctx.partitionId() != p || ctx.attemptNumber() > 0) rows
      else rows.map { r =>
        if (markers >= k && seen >= n) {
          hook()
          throw new IllegalStateException(s"injected failure: partition $p, attempt 0")
        }
        if (r.isNullAt(name)) markers += 1
        seen += 1
        r
      }
    }(Encoders.row(out.schema))
  }
}

/** The ETL load job on `local[2,2]` (two task attempts per partition),
  * with load partition 1 failing its first attempt. The suite's shared
  * session runs each task once, so this runs in its own JVM
  * (RejectRetrySpec). Each mode runs the job once against a fresh
  * MockLoadServer and spill dir:
  *   - `markers` (the default): the failure comes after two reject
  *     markers and before the first POST;
  *   - `after-post`: the failure comes after row 60, past the first POST
  *     of 50 rows;
  *   - `spill-twice`: as `after-post`, with the first batch of partition
  *     1 (it holds device-2) refused on both attempts, then a replay;
  *   - `spill-then-post`: as `spill-twice`, but the refusal is lifted
  *     when attempt 0 fails, so attempt 1 posts the spilled batch live;
  *   - `latency`: as `after-post` on SimulatedLatencyExtractor (0 ms),
  *     whose rows come in completion order.
  *
  * Usage: RejectRetryProbe <workDir> [mode ...] — prints one JSON line per
  * mode. */
object RejectRetryProbe {
  val loadPartitions = 4
  val validRows = 400

  // what the current mode does when attempt 0 fails (the executors of
  // local mode run in this JVM)
  @volatile private var onFailure: () => Unit = () => ()
  def injectedFailure(): Unit = onFailure()

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
    val modes = if (args.length > 1) args.drop(1).toSeq else Seq("markers")
    try modes.foreach { mode =>
      val server = new MockLoadServer()
      val spillDir = new java.io.File(dir, s"spill-$mode").getPath
      // device-2 is row 9 of the file, so position routing puts it at the
      // head of load partition 1's first batch
      val refused = "\"device-2\""
      var filesAtFailure = -1
      onFailure = () => {
        filesAtFailure = Spill.listSpillFiles(spillDir).size
        if (mode == "spill-then-post") server.failContaining.set(None)
      }
      failedTasks.set(0)
      try {
        if (mode.startsWith("spill")) server.failContaining.set(Some(refused))
        val inner =
          if (mode == "latency") SimulatedLatencyExtractor(0, 8, Some(1L)) else ProjectionExtractor(Some(1L))
        val extractor =
          if (mode == "markers") FailFirstAttemptExtractor(inner, 1, afterMarkers = 2)
          else FailFirstAttemptExtractor(inner, 1, afterMarkers = 0, afterRows = 60,
            onFail = () => RejectRetryProbe.injectedFailure())
        val cfg = EtlConfig(
          csvPath = csv.getPath,
          sink = HttpSink.Config(server.loadUrl, "t", batchSize = 50, spillDir = spillDir),
          extractor = extractor,
          loadPartitions = loadPartitions)
        val st = new EtlPipeline(spark, cfg).run()
        // task-end events reach the listener asynchronously
        val deadline = System.currentTimeMillis() + 10000
        while (failedTasks.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        val spilled = Spill.listSpillFiles(spillDir).map(_.getName)
        // the spill files whose key the endpoint has stored a payload under
        def storedKeys = { val keys = server.receivedKeyed.map(_._1).toSet; spilled.count(f => keys(Spill.keyOf(f))) }
        val (keysLive, dupBefore) = (storedKeys, server.duplicateCount)
        server.failContaining.set(None)
        val (replayed, deleted) = Spill.replay(spark, cfg.sink)
        val names = server.receivedBodies.flatMap(b => "\"name\":\"(device-\\d+)\"".r.findAllMatchIn(b).map(_.group(1)))
        def q(s: String) = "\"" + s + "\""
        println(s"""{"metric":"reject_retry","mode":"$mode","rejected":${st.rejectedRows},""" +
          s""""planted":$planted,"valid":$validRows,"received":${names.size},""" +
          s""""distinct":${names.distinct.size},"spilled":${st.sink.spilledRecords},""" +
          s""""sent":${st.sink.sentRecords},"failed_tasks":${failedTasks.get()},""" +
          s""""files_at_failure":$filesAtFailure,"spill_files":${spilled.size},""" +
          s""""spill_names":[${spilled.map(q).mkString(",")}],""" +
          s""""duplicates_before_replay":$dupBefore,"duplicates":${server.duplicateCount},""" +
          s""""replayed":$replayed,"replay_deleted":$deleted,""" +
          s""""left":${Spill.listSpillFiles(spillDir).size},"spill_keys_live":$keysLive,""" +
          s""""spill_keys_stored":$storedKeys}""")
      } finally server.stop()
    } finally spark.stop()
  }
}
