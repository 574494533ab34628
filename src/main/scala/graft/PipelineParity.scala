package graft

import graft.pipeline._

import java.nio.file.Files

/** Pipeline-parity anchor run (BASELINE.md): rebuild the reference's
  * instrumented run — 3,999 devices, 6 s simulated extract at 1,000-way
  * concurrency, 2 s sink delay, batch 200, 10 load workers — and check we
  * land in the same ~24-30 s envelope the reference measured (26.07 s,
  * /root/reference/etl/cpu.prof). Proves the parallelism and batching
  * semantics carried over to the Spark execution model.
  *
  * Run: sbt "runMain graft.PipelineParity"
  */
object PipelineParity {
  def main(args: Array[String]): Unit = {
    // f-interpolator formatting follows the JVM default locale; pin it
    // so a comma-decimal locale cannot emit unparseable JSON metrics
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = Sessions.local("graft-parity", cores = 32)

    // 3,999-device inventory, same shape as the reference's appliances.csv
    val dir = Files.createTempDirectory("graft-parity").toFile
    val csv = new java.io.File(dir, "appliances.csv")
    Files.writeString(csv.toPath,
      (1 to 3999).map(i => s"192.168.${i / 256}.${i % 256},device-$i").mkString("\n"))

    // Warm the scheduler/codegen path before timing: the reference's
    // 26.07 s is a compiled Go binary's steady state; Spark's first job
    // pays one-off JIT + codegen costs that say nothing about pipeline
    // orchestration.
    spark.range(1000).selectExpr("sum(id)").collect()

    val server = new MockLoadServerMain(delayMillis = 2000)
    try {
      val cfg = EtlConfig(
        csvPath = csv.getPath,
        sink = HttpSink.Config(server.loadUrl, "secret-token", batchSize = 200,
          spillDir = new java.io.File(dir, "spill").getPath),
        extractor = SimulatedLatencyExtractor(latencyMillis = 6000, globalConcurrency = 1000),
        loadPartitions = 10)
      val stats = new EtlPipeline(spark, cfg).run()
      val sec = stats.wallMillis / 1000.0
      println(f"""{"metric":"pipeline_parity_wall","value":$sec%.2f,"unit":"sec","sent":${stats.sink.sentRecords},"batches":${stats.sink.sentBatches},"replay_ms":${stats.replayMillis},"rejected":${stats.rejectedRows},"main_ms":${stats.mainJobMillis},"reference_sec":26.07}""")
    } finally { server.stop(); spark.stop() }
  }
}

/** Minimal main-source copy of the test fixture's mock sink (the test
  * classpath isn't visible to runMain): POST /load -> delay -> 200. */
final class MockLoadServerMain(delayMillis: Long) {
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => { val t = new Thread(r, "mock-load"); t.setDaemon(true); t })
  server.setExecutor(pool)
  server.createContext("/load", x => {
    x.getRequestBody.readAllBytes()
    if (delayMillis > 0) Thread.sleep(delayMillis)
    val b = """{"status":"success"}""".getBytes("UTF-8")
    x.sendResponseHeaders(200, b.length)
    x.getResponseBody.write(b)
    x.close()
  })
  server.start()
  def loadUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/load"
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}
