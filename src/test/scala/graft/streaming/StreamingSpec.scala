package graft.streaming

import graft.pipeline.{HttpSink, MockLoadServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.sql.Timestamp

/** Streaming pipeline semantics on MemoryStream sources: delivery through
  * the idempotent HTTP sink with checkpoint recovery (no redelivery of
  * committed batches), watermarked windows, and the custom stateful
  * sessionizer. */
class StreamingSpec extends TwinSpec {
  import spark.implicits._

  private def cpuStatsStream(): (MemoryStream[graft.pipeline.CpuStats], org.apache.spark.sql.DataFrame) = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[graft.pipeline.CpuStats]
    (ms, ms.toDF())
  }

  private def cpu(i: Int) = graft.pipeline.CpuStats(
    s"device-$i", 1751450637L + i, "0", "95", "3", "1", "0.5", "0")

  test("streaming ETL delivers all records through the HTTP sink") {
    val server = new MockLoadServer()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    try {
      val (ms, df) = cpuStatsStream()
      ms.addData((1 to 120).map(cpu): _*)
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 50,
        spillDir = Files.createTempDirectory("graft-sp").toString)
      val q = StreamingEtl.runAvailable(df, cfg, ckpt, loadPartitions = 3)
      q.stop()
      assert(server.receivedRecordCount == 120)
    } finally server.stop()
  }

  test("checkpoint restart: committed batches are not redelivered") {
    val server = new MockLoadServer()
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    try {
      val (ms, df) = cpuStatsStream()
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 50,
        spillDir = Files.createTempDirectory("graft-sp2").toString)
      ms.addData((1 to 40).map(cpu): _*)
      StreamingEtl.runAvailable(df, cfg, ckpt, loadPartitions = 2).stop()
      assert(server.receivedRecordCount == 40)

      // restart same checkpoint with more data: only the delta flows
      ms.addData((41 to 60).map(cpu): _*)
      StreamingEtl.runAvailable(df, cfg, ckpt, loadPartitions = 2).stop()
      assert(server.receivedRecordCount == 60)

      // replaying an already-committed batchId is a no-op (idempotent sink)
      val batch = graft.pipeline.Transform.toDeviceData(Seq(cpu(99)).toDF())
      StreamingEtl.deliverBatch(batch, batchId = 0, cfg, s"$ckpt/sink-commits", 1)
      assert(server.receivedRecordCount == 60)
    } finally server.stop()
  }

  test("failed micro-batch fails the query, writes NO spill, and checkpoint retry redelivers exactly once") {
    val server = new MockLoadServer()
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString
    val spill = Files.createTempDirectory("graft-sp3").toString
    try {
      server.failStatus.set(Some(500))
      val (ms, df) = cpuStatsStream()
      ms.addData((1 to 10).map(cpu): _*)
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 5, spillDir = spill)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = StreamingEtl.writer(df, cfg, s"$ckpt/sink-commits", 2)
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()
      }
      assert(ex.getMessage.contains("undeliverable") || ex.getCause != null)
      // checkpoint retry is the durability mechanism in streaming: a spill
      // copy here would be double-delivered by the retry + a later replay
      assert(graft.pipeline.Spill.listSpillFiles(spill).isEmpty,
        "streaming failure must not write dead-letter spill files")

      // sink recovers; restart from the same checkpoint: the failed
      // micro-batch is retried and every record arrives exactly once
      server.failStatus.set(None)
      StreamingEtl.runAvailable(df, cfg, ckpt, loadPartitions = 2).stop()
      assert(server.receivedRecordCount == 10)
      assert(graft.pipeline.Spill.listSpillFiles(spill).isEmpty)
    } finally server.stop()
  }

  test("crash mid-batch: partial delivery + restart = zero loss AND zero duplicates") {
    // The effectively-once claim's hard case: the query dies AFTER some
    // HTTP groups landed but BEFORE the commit-log marker. Checkpoint
    // retry then redelivers the WHOLE micro-batch; only the deterministic
    // per-group idempotency keys keep the endpoint from storing the
    // already-landed prefix twice.
    val server = new MockLoadServer()
    val ckpt = Files.createTempDirectory("graft-ckpt-crash").toString
    try {
      val (ms, df) = cpuStatsStream()
      ms.addData((1 to 100).map(cpu): _*)
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 10,
        spillDir = Files.createTempDirectory("graft-sp-crash").toString)
      server.acceptBudget.set(3) // 3 groups land, then the "crash"
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = StreamingEtl.writer(df, cfg, s"$ckpt/sink-commits", 4)
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()
      }
      val partial = server.receivedRecordCount
      assert(partial > 0 && partial < 100,
        s"crash was not mid-batch: $partial of 100 delivered")
      assert(!Files.exists(java.nio.file.Paths.get(s"$ckpt/sink-commits", "batch-0.committed")),
        "a failed micro-batch must not write its commit marker")

      // endpoint recovers; restart from the same checkpoint
      server.acceptBudget.set(-1)
      StreamingEtl.runAvailable(df, cfg, ckpt, loadPartitions = 4).stop()
      assert(server.receivedRecordCount == 100,
        s"expected exactly 100 stored records, got ${server.receivedRecordCount}")
      assert(server.duplicateCount >= 3,
        "the already-delivered groups should have been dropped BY KEY on redelivery")
      assert(Files.exists(java.nio.file.Paths.get(s"$ckpt/sink-commits", "batch-0.committed")))
    } finally server.stop()
  }

  test("commit-log wipe + new data at the same batchId is NOT deduped (content-keyed)") {
    // Key-aliasing regression: keys identify position AND content. A
    // corrected-feed reprocess (checkpoint/commit-log wiped, batchIds
    // restart at 0) against an endpoint whose key store persists must
    // deliver the NEW rows — a position-only key would be ACKed as
    // duplicate and silently dropped.
    val server = new MockLoadServer()
    val commitDir = Files.createTempDirectory("graft-cl-wipe").toString
    try {
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 5,
        spillDir = Files.createTempDirectory("graft-sp-wipe").toString)
      def df(range: Range) = graft.pipeline.Transform.toDeviceData(range.map(cpu).toDF())
      StreamingEtl.deliverBatch(df(1 to 10), 0, cfg, commitDir, 2)
      assert(server.receivedRecordCount == 10)
      // the wipe: markers gone, batchId restarts at 0, data is DIFFERENT
      new java.io.File(commitDir).listFiles().foreach(_.delete())
      StreamingEtl.deliverBatch(df(11 to 20), 0, cfg, commitDir, 2)
      assert(server.receivedRecordCount == 20,
        "corrected-feed rows were dropped by position-keyed dedup")
      // same position AND same content = genuine duplicate, still dropped
      new java.io.File(commitDir).listFiles().foreach(_.delete())
      StreamingEtl.deliverBatch(df(11 to 20), 0, cfg, commitDir, 2)
      assert(server.receivedRecordCount == 20)
      assert(server.duplicateCount >= 2)
    } finally server.stop()
  }

  test("watermarked tumbling window drops late data beyond the watermark") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[EventStreams.Event]
    val out = EventStreams.tumbling(ms.toDF(), watermark = "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("tumble_out").trigger(Trigger.ProcessingTime(0)).start()

    def ev(id: Long, minute: Int) = EventStreams.Event(
      id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), 1L, "click", 1.0)

    ms.addData(ev(1, 5), ev(2, 30))   // window 10:00 has 1 event
    q.processAllAvailable()
    ms.addData(ev(3, 59), ev(4, 45))  // advance watermark past 10:00+10m? 59-10=49 -> closes 10:00 hour? no: hour window 10:00-11:00 closes at wm > 11:00
    q.processAllAvailable()
    ms.addData(ev(5, 1))              // late event into 10:00 hour, within state -> still accepted
    q.processAllAvailable()
    // push watermark beyond 11:10 so the 10:00 window finalizes
    ms.addData(EventStreams.Event(6, Timestamp.valueOf("2024-01-01 11:30:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("tumble_out").collect()
    q.stop()
    // the 10:00-11:00 window must have closed exactly once, with the late
    // event (id 5) included because it arrived before the watermark passed
    val w10 = rows.filter(_.getTimestamp(0) == Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(w10.length == 1)
    assert(w10.head.getLong(2) == 5L)
  }

  test("flatMapGroupsWithState sessionizer emits summaries on timeout") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[EventStreams.Event]
    val out = EventStreams.sessionize(ms.toDS(), gapMillis = 200)
    // NOTE: with processing-time timeouts pending the engine always has
    // another batch to run, so processAllAvailable() would never settle —
    // poll the memory sink instead while the 50 ms trigger free-runs.
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_out").trigger(Trigger.ProcessingTime(50)).start()
    ms.addData(
      EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "a", 2.0),
      EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:00:30"), 7L, "b", 3.0))
    val deadline = System.currentTimeMillis() + 30000
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      done = spark.table("sess_out").where(col("user_id") === 7).count() > 0
    }
    q.stop()
    val s = spark.table("sess_out").where(col("user_id") === 7).collect()
    assert(s.length == 1)
    assert(s.head.getAs[Int]("n_events") == 2)
    assert(s.head.getAs[Double]("total_value") == 5.0)
  }

  test("CSV-directory streaming source: file arrivals become delivered micro-batches") {
    val server = new MockLoadServer()
    val srcDir = Files.createTempDirectory("graft-csv-stream")
    val ckpt = Files.createTempDirectory("graft-ckpt-csv").toString
    try {
      Files.writeString(srcDir.resolve("batch1.csv"),
        (1 to 30).map(i => s"10.0.0.$i,dev-$i").mkString("\n"))
      val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 20,
        spillDir = Files.createTempDirectory("graft-sp-csv").toString)
      val src = StreamingEtl.csvSource(spark, srcDir.toString, fixedTimestamp = Some(5L))
      StreamingEtl.runAvailable(src, cfg, ckpt, loadPartitions = 2).stop()
      assert(server.receivedRecordCount == 30)

      // a new file arrives; restart from the same checkpoint: only the delta
      Files.writeString(srcDir.resolve("batch2.csv"),
        (31 to 45).map(i => s"10.0.0.$i,dev-$i").mkString("\n"))
      val src2 = StreamingEtl.csvSource(spark, srcDir.toString, fixedTimestamp = Some(5L))
      StreamingEtl.runAvailable(src2, cfg, ckpt, loadPartitions = 2).stop()
      assert(server.receivedRecordCount == 45)
    } finally server.stop()
  }

  test("streaming session windows emit after the watermark passes the gap") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[EventStreams.Event]
    val out = EventStreams.sessions(ms.toDF(), watermark = "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_win_out").trigger(Trigger.ProcessingTime(0)).start()
    def ev(id: Long, t: String) = EventStreams.Event(
      id, Timestamp.valueOf(t), 42L, "click", 1.0)
    ms.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:02:00"))
    q.processAllAvailable()
    // jump event time far forward: watermark passes the session end
    ms.addData(ev(3, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    ms.addData(ev(4, "2024-01-01 14:00:00"))
    q.processAllAvailable()
    val rows = spark.table("sess_win_out")
      .where(col("user_id") === 42 &&
        col("session_start") === Timestamp.valueOf("2024-01-01 10:00:00")).collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_events") == 2)
    assert(rows.head.getAs[Timestamp]("session_end") ==
      Timestamp.valueOf("2024-01-01 10:07:00")) // last event + 5 min gap
  }

  test("streaming corpus clean: dedups by content within watermark and gates quality") {
    assertTwin("corpus_clean")
  }

  test("streaming dedup clustering: copies join the first-seen canonical; state expires with the watermark") {
    assertTwin("dedup_cluster")
  }

  test("streaming dedup clustering: a late in-watermark copy cannot shorten the cluster's life") {
    // Regression (round-5 review): the timeout was set from the BATCH
    // max ts, so a late copy moved expiry backward and a subsequent
    // copy arriving in the (late-ts + horizon, true-last-sighting +
    // horizon) window founded a spurious new cluster.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = DedupClusterStream.assign(ms.toDF().toDF("doc_id", "ts", "text"),
      watermark = "10 minutes")
    val q = out.toDF().writeStream.outputMode("append").format("memory")
      .queryName("dedup_late_out").trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s:00")
    val textA = "late copy content"
    ms.addData((1L, ts("10:05"), textA)) // true last sighting -> timeout 10:15
    q.processAllAvailable()
    ms.addData((2L, ts("10:00"), textA)) // LATE copy (buggy timeout: 10:10)
    q.processAllAvailable()
    ms.addData((3L, ts("10:22"), "watermark mover")) // watermark -> 10:12
    q.processAllAvailable()
    ms.addData((4L, ts("10:13"), textA)) // 10:12 < 10:13 < 10:15: state must live
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_late_out")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(rows(2L) == 1L, "late copy joins the founder")
    assert(rows(4L) == 1L,
      s"copy inside the true retention window founded a new cluster: ${rows(4L)}")
  }

  test("streaming sliding windows place each event in two windows") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[EventStreams.Event]
    val out = EventStreams.sliding(ms.toDF(), watermark = "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("slide_out").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:40:00"), 1L, "x", 2.5))
    q.processAllAvailable()
    ms.addData(EventStreams.Event(2, Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "x", 0.0))
    q.processAllAvailable()
    ms.addData(EventStreams.Event(3, Timestamp.valueOf("2024-01-01 15:00:00"), 1L, "x", 0.0))
    q.processAllAvailable()
    val rows = spark.table("slide_out")
      .where(col("sum_value") === 2.5).collect()
    q.stop()
    val starts = rows.map(_.getTimestamp(0)).map(_.toString).sorted.toSeq
    assert(starts == Seq("2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0"))
  }

  test("streaming fuzzy dedup: near-dups join the founder across batches; state expires with the watermark") {
    assertTwin("fuzzy_dedup")
  }

  test("real corpus: streaming sliding window counts equal batch (q25 semantics)") {
    assertTwin("event_sliding")
  }

  test("real corpus: streaming session windows equal batch session_window (q26 semantics)") {
    assertTwin("event_sessions")
  }
}
