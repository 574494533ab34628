package graft.pipeline

import graft.SparkSpec

import java.nio.file.Files

/** End-to-end pipeline + sink + spill/replay integration against the
  * in-process mock server (reference contract, FIXTURES.md §C):
  * happy path, auth header, batching, failure -> spill, restart ->
  * replay-then-delete (/root/reference/README.md:140-145 behavior, minus
  * the loss window). */
class EtlPipelineSpec extends SparkSpec {

  private def writeCsv(n: Int): String = {
    val dir = Files.createTempDirectory("graft-e2e").toFile
    val f = new java.io.File(dir, "appliances.csv")
    val rows = (1 to n).map(i => s"192.168.0.$i,device-$i").mkString("\n")
    Files.writeString(f.toPath, rows + "\nmalformed\n")
    f.getPath
  }

  private def freshSpill(): String =
    Files.createTempDirectory("graft-spill").toString

  test("happy path: all records delivered in <=batchSize JSON batches with bearer auth") {
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(450),
        sink = HttpSink.Config(server.loadUrl, "token123", batchSize = 200, spillDir = freshSpill()),
        extractor = ProjectionExtractor(Some(1751450637L)),
        loadPartitions = 4)
      val stats = new EtlPipeline(spark, cfg).run()
      assert(stats.sink.sentRecords == 450)
      assert(stats.sink.spilledRecords == 0)
      assert(stats.rejectedRows == 1)
      assert(server.receivedRecordCount == 450)
      assert(server.receivedAuths.forall(_ == "Bearer token123"))
      // batching: nothing above the threshold, and the big groups hit it
      val sizes = server.receivedBodies.map(b => b.sliding(12).count(_ == "\"cpu_number\""))
      assert(sizes.forall(_ <= 200))
      assert(stats.sink.sentBatches >= 4) // >= loadPartitions partial batches
    } finally server.stop()
  }

  test("sink failure spills gzip JSON; restart replays and deletes") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(120),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 50, spillDir = spillDir),
        extractor = ProjectionExtractor(Some(1751450637L)),
        loadPartitions = 3)

      // run 1: sink down -> everything spills
      server.failStatus.set(Some(500))
      val s1 = new EtlPipeline(spark, cfg).run()
      assert(s1.sink.sentRecords == 0 && s1.sink.spilledRecords == 120)
      val files = Spill.listSpillFiles(spillDir)
      assert(files.nonEmpty)
      // spill files parse back with worker ids recovered from names
      val back = Spill.readSpilled(spark, spillDir)
      assert(back.count() == 120)
      assert(back.select("worker_id").distinct().collect().map(_.getInt(0)).forall(w => w >= 0 && w < 3))

      // run 2: sink healthy -> replay delivers and deletes, live run clean
      server.failStatus.set(None)
      val s2 = new EtlPipeline(spark, cfg).run()
      assert(s2.replayedRecords == 120)
      assert(s2.replayedFilesDeleted == files.size)
      assert(Spill.listSpillFiles(spillDir).isEmpty)
      assert(s2.sink.sentRecords == 120) // the live 120 again
      assert(server.receivedRecordCount == 240)
    } finally server.stop()
  }

  test("replay keeps files when the sink is still down (no loss window)") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(40),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 20, spillDir = spillDir),
        extractor = ProjectionExtractor(Some(1L)),
        loadPartitions = 2)
      server.failStatus.set(Some(503))
      new EtlPipeline(spark, cfg).run()
      val n1 = Spill.listSpillFiles(spillDir).size
      assert(n1 > 0)
      assert(Spill.readSpilled(spark, spillDir).count() == 40)
      // second run with sink still down: replay must keep the originals
      // and must NOT duplicate them (no re-spill during replay) — only
      // the second run's own live 40 records are added
      new EtlPipeline(spark, cfg).run()
      assert(Spill.readSpilled(spark, spillDir).count() == 80)
      // third failed run: still linear (120), not exponential
      new EtlPipeline(spark, cfg).run()
      assert(Spill.readSpilled(spark, spillDir).count() == 120)
    } finally server.stop()
  }

  test("latency extractor drives bounded-concurrency extract end to end") {
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(64),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 200, spillDir = freshSpill()),
        extractor = SimulatedLatencyExtractor(
          latencyMillis = 50, globalConcurrency = 256, fixedTimestamp = Some(7L)),
        loadPartitions = 2)
      val t0 = System.nanoTime()
      val stats = new EtlPipeline(spark, cfg).run()
      val ms = (System.nanoTime() - t0) / 1000000
      assert(stats.sink.sentRecords == 64)
      assert(ms < 20000, s"extract not concurrent enough: $ms ms")
    } finally server.stop()
  }

  test("transient sink failures are retried and do not spill") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      server.failNext.set(2) // first two POSTs blip with 503
      val cfg = EtlConfig(
        csvPath = writeCsv(30),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 200,
          spillDir = spillDir, maxRetries = 3, retryBackoffMillis = 10),
        extractor = ProjectionExtractor(Some(1L)),
        loadPartitions = 1)
      val stats = new EtlPipeline(spark, cfg).run()
      assert(stats.sink.sentRecords == 30)
      assert(stats.sink.spilledRecords == 0)
      assert(Spill.listSpillFiles(spillDir).isEmpty)
    } finally server.stop()
  }

  test("typed Dataset boundary exposes DeviceData records") {
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(10),
        sink = HttpSink.Config(server.loadUrl, "t", spillDir = freshSpill()),
        extractor = ProjectionExtractor(Some(9L)),
        loadPartitions = 2)
      val ds = new EtlPipeline(spark, cfg).deviceDataset()
      val rec = ds.collect().minBy(_.name)
      assert(rec.timestamp == 9L && rec.indicators.map(_.name) == graft.pipeline.Model.indicatorNames)
    } finally server.stop()
  }

  test("Catalog.sql runs arbitrary SQL over registered views") {
    val out = graft.Catalog.sql(spark, sf0001,
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    assert(out.collect().head.getLong(0) > 0)
  }

  test("partial replay: delivered files are deleted immediately; zero duplicates across rounds") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      // spill 3 files of 40 records each
      server.failStatus.set(Some(500))
      val cfg = EtlConfig(
        csvPath = writeCsv(120),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 40, spillDir = spillDir),
        extractor = ProjectionExtractor(Some(1751450637L)),
        loadPartitions = 3)
      new EtlPipeline(spark, cfg).run()
      assert(Spill.listSpillFiles(spillDir).size == 3)

      // replay round 1: exactly one POST blips -> ONE file kept, two deleted
      server.failStatus.set(None)
      server.reset()
      server.failNext.set(1)
      val (sent1, del1) = Spill.replay(spark, cfg.sink)
      assert(sent1 == 80 && del1 == 2, s"sent=$sent1 deleted=$del1")
      assert(Spill.listSpillFiles(spillDir).size == 1)

      // replay round 2 delivers the rest; nothing re-delivered
      val (sent2, del2) = Spill.replay(spark, cfg.sink)
      assert(sent2 == 40 && del2 == 1)
      assert(Spill.listSpillFiles(spillDir).isEmpty)
      assert(server.receivedRecordCount == 120, "every spilled record delivered exactly once")
      assert(server.duplicateCount == 0)
    } finally server.stop()
  }

  test("within-file partial replay: idempotency key stops the delivered half from duplicating") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      // ONE spill file of 40 records, replayed as two 20-row batches
      server.failStatus.set(Some(500))
      val cfg = EtlConfig(
        csvPath = writeCsv(40),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 20, spillDir = spillDir),
        extractor = ProjectionExtractor(Some(1751450637L)),
        loadPartitions = 1)
      new EtlPipeline(spark, cfg).run()
      val files = Spill.listSpillFiles(spillDir)
      assert(files.size == 2) // 40 rows / batchSize 20 -> two spilled batches
      // merge into one file so a single file spans two replay batches
      val merged = Spill.readSpilled(spark, spillDir).drop("worker_id")
      val rows = graft.pipeline.Transform.deviceDataJson(merged)
        .collect().map(_.getString(0)).sorted.toSeq
      files.foreach(f => java.nio.file.Files.delete(f.toPath))
      Spill.writeBatch(spillDir, 0, rows)
      assert(Spill.listSpillFiles(spillDir).size == 1)

      // round 1: first batch POST fails, second succeeds -> file KEPT
      server.failStatus.set(None)
      server.reset()
      server.failNext.set(1)
      val (sent1, del1) = Spill.replay(spark, cfg.sink)
      assert(sent1 == 20 && del1 == 0)
      assert(Spill.listSpillFiles(spillDir).size == 1)

      // round 2 re-posts both batches: the already-delivered one is
      // dropped by its idempotency key, the failed one lands
      val (sent2, del2) = Spill.replay(spark, cfg.sink)
      assert(del2 == 1)
      assert(Spill.listSpillFiles(spillDir).isEmpty)
      assert(server.receivedRecordCount == 40, "no record delivered twice")
      assert(server.duplicateCount == 1, "the replayed duplicate was key-deduped")
    } finally server.stop()
  }

  test("HttpExtractor e2e: real GET per appliance feeds the full pipeline") {
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = writeCsv(60),
        sink = HttpSink.Config(server.loadUrl, "tok", batchSize = 25, spillDir = freshSpill()),
        extractor = HttpExtractor(server.deviceUrlTemplate, globalConcurrency = 64),
        loadPartitions = 3)
      val stats = new EtlPipeline(spark, cfg).run()
      assert(stats.sink.sentRecords == 60)
      assert(server.receivedRecordCount == 60)
      assert(server.deviceRequestCount == 60) // one GET per appliance
      // the device API's payload (not fabricated constants) flowed through
      assert(server.receivedBodies.head.contains("\"timestamp\":1751450637"))
    } finally server.stop()
  }

  test("HttpExtractor drops failed devices; quarantine keeps them with classified causes") {
    val server = new MockLoadServer()
    try {
      server.deviceFailIps.add("192.168.0.3")
      server.deviceFailIps.add("192.168.0.7")
      val csv = writeCsv(10)
      val ex = HttpExtractor(server.deviceUrlTemplate, globalConcurrency = 8)

      // O5 drop semantics through the standard interface
      val src = ApplianceSource.read(spark, csv)
      assert(ex.extract(spark, src.ok).count() == 8)

      // quarantine variant: same rows, failures kept with a cause
      val q = ex.extractQuarantine(spark, src.ok).collect()
      assert(q.count(_._1.isDefined) == 8)
      val failed = q.flatMap(_._2)
      assert(failed.length == 2)
      assert(failed.forall(_.startsWith("status 500")))
    } finally server.stop()
  }

  test("HttpExtractor JSON field reader decodes every legal string escape") {
    assert(HttpExtractor.unescapeJson("rack\\u002d7") == "rack-7")
    assert(HttpExtractor.unescapeJson("a\\/b") == "a/b")
    assert(HttpExtractor.unescapeJson("line1\\nline2\\ttab") == "line1\nline2\ttab")
    assert(HttpExtractor.unescapeJson("q\\\"uote\\\\slash") == "q\"uote\\slash")
    assert(HttpExtractor.unescapeJson("plain") == "plain")
    val body = """{"name":"dev-1","timestamp":5,"cpu_number":"0",""" +
      """"pIdle":"95","pUser":"3","pSys":"1","pIRQ":"0.5","pNice":"0"}"""
    assert(HttpExtractor.parseCpuStats(body, "fb").get.name == "dev-1")
  }

  test("HttpExtractor classifies timeouts with the reference's deadline semantics") {
    val server = new MockLoadServer()
    try {
      server.deviceDelayMillis.set(2000)
      val ex = HttpExtractor(server.deviceUrlTemplate, globalConcurrency = 4,
        timeout = java.time.Duration.ofMillis(250))
      val src = ApplianceSource.read(spark, writeCsv(3))
      val causes = ex.extractQuarantine(spark, src.ok).collect().flatMap(_._2)
      assert(causes.length == 3)
      assert(causes.forall(_.startsWith("timeout:")), causes.mkString("; "))

      // and a malformed body is its own class
      server.deviceDelayMillis.set(0)
      server.deviceMalformed.set(true)
      val mal = ex.extractQuarantine(spark, src.ok).collect().flatMap(_._2)
      assert(mal.forall(_.startsWith("malformed:")), mal.mkString("; "))
    } finally server.stop()
  }
}
