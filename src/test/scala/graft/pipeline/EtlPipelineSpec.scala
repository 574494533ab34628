package graft.pipeline

import graft.SparkSpec

import java.nio.file.Files

/** End-to-end pipeline + sink + spill/replay integration against the
  * in-process mock server (reference contract, FIXTURES.md §C):
  * happy path, auth header, batching, failure -> spill, restart ->
  * replay-then-delete (/root/reference/README.md:140-145 behavior, minus
  * the loss window). */
class EtlPipelineSpec extends SparkSpec {

  private def writeLines(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-e2e").toFile
    val f = new java.io.File(dir, "appliances.csv")
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
    f.getPath
  }

  private def devices(n: Int): Seq[String] = (1 to n).map(i => s"192.168.0.$i,device-$i")

  private def writeCsv(n: Int): String = writeLines(devices(n) :+ "malformed")

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
      assert(ds.count() == 10, "no reject marker in the typed output")
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

  test("replay re-sends a spilled POST under its live key; a second copy is dropped by that key") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    try {
      // one load partition, two batches of 20; the second (devices 21-40)
      // is refused and spills
      val cfg = EtlConfig(
        csvPath = writeCsv(40),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 20, spillDir = spillDir),
        extractor = ProjectionExtractor(Some(1751450637L)),
        loadPartitions = 1)
      server.failContaining.set(Some("\"device-40\""))
      val s1 = new EtlPipeline(spark, cfg).run()
      assert(s1.sink.sentRecords == 20 && s1.sink.spilledRecords == 20)
      val Seq((liveKey, _)) = server.receivedKeyed
      assert(liveKey.matches("[A-Za-z0-9._-]+_p0_0_20_[0-9a-f]{32}"), liveKey)
      val tag = liveKey.substring(0, liveKey.indexOf("_p0_0_20_"))

      // the spill file is the failed POST, named after its key
      val Seq(file) = Spill.listSpillFiles(spillDir)
      val gz = Files.readAllBytes(file.toPath)
      val body = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz)).readAllBytes()
      assert(file.getName == s"buffer_failed_worker0_${HttpSink.batchKey(tag, 0, 1, 20, body)}.json.gz")

      server.failContaining.set(None)
      val (sent1, del1) = Spill.replay(spark, cfg.sink)
      assert(sent1 == 20 && del1 == 1 && Spill.listSpillFiles(spillDir).isEmpty)
      assert(server.receivedKeyed.drop(1) == Seq(Spill.keyOf(file.getName) -> new String(body, "UTF-8")))

      // a crash between the acknowledgement and the delete leaves the
      // file behind: the next replay is acknowledged but not stored
      Files.write(file.toPath, gz)
      val (_, del2) = Spill.replay(spark, cfg.sink)
      assert(del2 == 1 && Spill.listSpillFiles(spillDir).isEmpty)
      assert(server.receivedRecordCount == 40, "no record delivered twice")
      assert(server.duplicateCount == 1, "the replayed duplicate was key-deduped")
    } finally server.stop()
  }

  test("replay: one POST per spill file, its spilled bytes under its file's key; a failed file is kept whole") {
    import spark.implicits._
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    // three files whose row counts the batch size 4 does not divide; file
    // f's rows are named f<f>-d<i>
    val sizes = Seq(7, 5, 9)
    val posts = sizes.zipWithIndex.map { case (n, f) =>
      val rows = (0 until n).map(i => DeviceData(s"f$f-d$i", "0", 1L, Seq(Indicator("irq", 0.5))))
      val body = HttpSink.payload(
        Transform.deviceDataJson(rows.toDF()).as[String].collect().map(_.getBytes("UTF-8")).toSeq)
      val key = HttpSink.batchKey("spec", f, 0, n, body)
      Spill.writeBatch(spillDir, f, key, body)
      key -> new String(body, "UTF-8")
    }
    val cfg = HttpSink.Config(server.loadUrl, "t", batchSize = 4, spillDir = spillDir)
    try {
      // round 1: the one POST of f1 (it holds f1-d4) fails
      server.failContaining.set(Some("\"f1-d4\""))
      val (sent1, del1) = Spill.replay(spark, cfg)
      assert(sent1 == 7 + 9 && del1 == 2, s"sent=$sent1 deleted=$del1")
      assert(Spill.listSpillFiles(spillDir).map(_.getName) ==
        Seq(s"buffer_failed_worker1_${posts(1)._1}.json.gz"))
      assert(server.receivedKeyed.toSet == Set(posts(0), posts(2)))

      // round 2: the kept file goes out whole, in one POST
      server.failContaining.set(None)
      val (sent2, del2) = Spill.replay(spark, cfg)
      assert(sent2 == 5 && del2 == 1 && Spill.listSpillFiles(spillDir).isEmpty)
      assert(server.receivedKeyed.size == 3 && server.receivedKeyed.toSet == posts.toSet)
      assert(server.receivedRecordCount == sizes.sum && server.duplicateCount == 0)
    } finally server.stop()
  }

  test("legacy and reference-named spill files each replay once under their name stem") {
    val server = new MockLoadServer()
    val spillDir = freshSpill()
    def row(i: Int) =
      s"""{"name":"device-$i","cpu_number":"0","timestamp":1,"indicators":[{"name":"irq","value":0.5}]}"""
    def gzip(name: String, rows: Seq[String]): String = {
      val body = rows.mkString("[", ",", "]")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(java.nio.file.Paths.get(spillDir, name)))
      try out.write(body.getBytes("UTF-8")) finally out.close()
      body
    }
    val uuid = java.util.UUID.randomUUID().toString
    val legacy = gzip(s"buffer_failed_worker3_$uuid.json.gz", (1 to 3).map(row))
    val reference = gzip("buffer_failed_worker3.json.gz", (4 to 7).map(row))
    val keyed = (8 to 9).map(row).mkString("[", ",", "]")
    val key = HttpSink.batchKey("spec", 7, 0, 2, keyed.getBytes("UTF-8"))
    Spill.writeBatch(spillDir, 7, key, keyed.getBytes("UTF-8"))
    try {
      // worker ids come back from all three name shapes
      val workers = Spill.readSpilled(spark, spillDir).select("worker_id").collect().map(_.getInt(0))
      assert(workers.sorted.toSeq == Seq.fill(7)(3) ++ Seq(7, 7))

      // a file that is not gzip JSON is kept, and the others still go out
      val corrupt = java.nio.file.Paths.get(spillDir, "buffer_failed_worker5_torn.json.gz")
      Files.write(corrupt, "not gzip".getBytes("UTF-8"))
      val cfg = HttpSink.Config(server.loadUrl, "t", spillDir = spillDir)
      assert(Spill.replay(spark, cfg) == ((9L, 3)))
      assert(Spill.listSpillFiles(spillDir).map(_.toPath) == Seq(corrupt))
      Files.delete(corrupt)
      assert(server.receivedKeyed.toSet ==
        Set(uuid -> legacy, "buffer_failed_worker3" -> reference, key -> keyed))
      assert(Spill.replay(spark, cfg) == ((0L, 0)))
      assert(server.receivedRecordCount == 9 && server.duplicateCount == 0)
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

  test("load job: one CSV scan, one positional exchange, no sort, partitions within one row") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import graft.expressions.DeviceDataJson
    import org.apache.spark.sql.catalyst.expressions.StructsToJson
    import org.apache.spark.sql.catalyst.expressions.objects.Invoke
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.util.concurrent.ConcurrentHashMap
    import scala.jdk.CollectionConverters._

    // The load job's final plan, and the rows each of its result tasks
    // read from the exchange (one task per load partition).
    val plan = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (fn == "foreachPartition") plan.set(qe.executedPlan)
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val group = "etl-plan-shape"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val rowsRead = new ConcurrentHashMap[Int, Long]()
    val taskListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask")
          rowsRead.put(e.taskInfo.index, e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    val server = new MockLoadServer()
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(taskListener)
    try {
      val cfg = EtlConfig(
        csvPath = writeLines(devices(3999)),
        sink = HttpSink.Config(server.loadUrl, "t", spillDir = freshSpill()),
        extractor = ProjectionExtractor(Some(1L)),
        loadPartitions = 10)
      spark.sparkContext.setJobGroup(group, "ETL load job plan shape")
      val stats = try new EtlPipeline(spark, cfg).run() finally spark.sparkContext.clearJobGroup()
      assert(stats.sink.sentRecords == 3999 && stats.rejectedRows == 0)
      val deadline = System.currentTimeMillis() + 20000
      while ((plan.get == null || rowsRead.size < 10) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(plan.get != null, "no foreachPartition plan reported")

      object Plan extends AdaptiveSparkPlanHelper
      val scans = Plan.collect(plan.get) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
      }
      val exchanges = Plan.collect(plan.get) { case e: ShuffleExchangeExec => e }
      assert(scans.size == 1, plan.get.toString)
      assert(exchanges.size == 1, plan.get.toString)
      assert(exchanges.head.shuffleOrigin == REPARTITION_BY_NUM, plan.get.toString)
      // round-robin sorts its input inside the exchange, not as a Sort
      // node: the partitioning shows that rows are routed by position
      assert(exchanges.head.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough],
        plan.get.toString)
      assert(Plan.collect(plan.get) { case s: SortExec => s }.isEmpty, plan.get.toString)
      def belowProjects(p: SparkPlan): SparkPlan = p match {
        case w: WholeStageCodegenExec => belowProjects(w.child)
        case i: InputAdapter => belowProjects(i.child)
        case pr: ProjectExec => belowProjects(pr.child)
        case other => other
      }
      assert(belowProjects(exchanges.head.child) eq scans.head,
        s"only a Project may sit between the scan and the exchange:\n${plan.get}")

      // the wire JSON comes from the DeviceData writer, compiled into a
      // whole-stage codegen stage, and never from Jackson's to_json
      val exprs = Plan.flatMap(plan.get)(_.expressions.flatMap(_.collect { case e => e }))
      assert(!exprs.exists {
        case _: StructsToJson => true
        case i: Invoke => i.targetObject.dataType.catalogString.contains("StructsToJson")
        case _ => false
      }, plan.get.toString)
      def stage(p: SparkPlan): Seq[SparkPlan] =
        p +: (p match { case _: InputAdapter => Nil; case o => o.children.flatMap(stage) })
      val writerStages = Plan.collect(plan.get) { case w: WholeStageCodegenExec => w }
        .filter(w => stage(w.child).exists(_.expressions.exists(_.exists(_.isInstanceOf[DeviceDataJson]))))
      assert(writerStages.size == 1, plan.get.toString)

      val counts = rowsRead.asScala.toMap
      assert(counts.keySet == (0 until 10).toSet, counts.toString)
      assert(counts.values.sum == 3999, counts.toString)
      assert(counts.values.max - counts.values.min <= 1, counts.toString)
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(taskListener)
      server.stop()
    }
  }

  test("reject markers make no device call and are counted in the load job") {
    val server = new MockLoadServer()
    try {
      val cfg = EtlConfig(
        csvPath = writeLines(devices(20) ++ Seq("malformed", ",host", "ip,")),
        sink = HttpSink.Config(server.loadUrl, "t", batchSize = 8, spillDir = freshSpill()),
        extractor = HttpExtractor(server.deviceUrlTemplate, globalConcurrency = 8),
        loadPartitions = 3)
      val stats = new EtlPipeline(spark, cfg).run()
      assert(stats.rejectedRows == 3)
      assert(server.deviceRequestCount == 20, "one GET per valid appliance, none per marker")
      assert(stats.sink.sentRecords == 20)
      assert(server.receivedRecordCount == 20)
      assert(!server.receivedBodies.exists(_.contains("null")))
    } finally server.stop()
  }

  test("SimulatedLatencyExtractor takes no sleep for a reject marker") {
    val markers = ApplianceSource.scan(spark, writeLines(Seq("malformed", ",host", "ip,")))
    val ex = SimulatedLatencyExtractor(latencyMillis = 60000, globalConcurrency = 1)
    val t0 = System.nanoTime()
    val out = ex.extract(spark, markers.coalesce(1)).collect()
    val ms = (System.nanoTime() - t0) / 1000000
    assert(out.length == 3 && out.forall(_.isNullAt(out.head.fieldIndex("name"))))
    assert(ms < 30000, s"a marker slept: $ms ms")
  }
}
