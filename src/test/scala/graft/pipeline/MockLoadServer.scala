package graft.pipeline

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/** In-process reproduction of the reference's mock load API server
  * (/root/reference/mock-load-api-server/main.go; FIXTURES.md §C):
  * `POST /load` -> optional delay -> 200 {"status":"success"};
  * `GET /health` -> 200 {"status":"ok"}; anything else -> 404.
  *
  * Failure-injection knobs for the sink tests: set `failStatus` to make
  * /load return an error status (spill path), clear it to recover
  * (replay path); set `failContaining` to fail only the payloads that
  * hold a given text.
  */
final class MockLoadServer(delayMillis: Long = 0) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val keyed = new CopyOnWriteArrayList[(String, String)]()
  private val auths = new CopyOnWriteArrayList[String]()
  // X-Idempotency-Key dedup (the keyed-endpoint contract HttpSink targets):
  // a replayed payload with a seen key is acknowledged but not re-counted.
  private val seenKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val dupCount = new java.util.concurrent.atomic.AtomicInteger(0)
  val failStatus = new AtomicReference[Option[Int]](None)
  val failContaining = new AtomicReference[Option[String]](None)
  /** Fail the next N /load requests with 503, then recover (transient-blip
    * injection for the retry path). */
  val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Accept only the next N stored /load payloads, then 503 everything —
    * the crash-mid-batch injection: a delivery dies PART-WAY through its
    * groups. -1 disables (default). */
  val acceptBudget = new java.util.concurrent.atomic.AtomicInteger(-1)
  /** Device-API knobs (GET /device, the extract side): per-IP injected
    * failure status, global delay (timeout injection), malformed-body. */
  val deviceFailIps = new java.util.concurrent.CopyOnWriteArraySet[String]()
  val deviceDelayMillis = new java.util.concurrent.atomic.AtomicLong(0)
  val deviceMalformed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val deviceHits = new java.util.concurrent.atomic.AtomicInteger(0)

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => { val t = new Thread(r, "mock-load"); t.setDaemon(true); t })
  server.setExecutor(pool)
  server.createContext("/load", (x: HttpExchange) => {
    val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
    if (x.getRequestMethod == "POST") {
      if (delayMillis > 0) Thread.sleep(delayMillis)
      failStatus.get() match {
        case _ if failNext.getAndUpdate(n => math.max(0, n - 1)) > 0 =>
          respond(x, 503, """{"status":"transient"}""")
        case Some(code) => respond(x, code, """{"status":"error"}""")
        case None if failContaining.get().exists(body.contains) =>
          respond(x, 500, """{"status":"error"}""")
        case None if acceptBudget.get() >= 0 &&
            acceptBudget.getAndUpdate(n => math.max(0, n - 1)) <= 0 =>
          respond(x, 503, """{"status":"budget-exhausted"}""")
        case None =>
          val key = Option(x.getRequestHeaders.getFirst("X-Idempotency-Key"))
          if (key.exists(k => !seenKeys.add(k))) {
            dupCount.incrementAndGet()
            respond(x, 200, """{"status":"duplicate"}""")
          } else {
            keyed.add(key.getOrElse("") -> body)
            auths.add(Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
            respond(x, 200, """{"status":"success"}""")
          }
      }
    } else respond(x, 404, "Unsupported path")
  })
  // Device API for the extract side (HttpExtractor): GET /device?ip=..&
  // hostname=.. -> flat CpuStats JSON keyed to the requested appliance.
  server.createContext("/device", (x: HttpExchange) => {
    deviceHits.incrementAndGet()
    val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
    val params = q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    val ip = params.getOrElse("ip", "")
    if (deviceDelayMillis.get() > 0) Thread.sleep(deviceDelayMillis.get())
    if (deviceFailIps.contains(ip)) respond(x, 500, """{"status":"device error"}""")
    else if (deviceMalformed.get()) respond(x, 200, """{"not":"cpustats"}""")
    else {
      val host = params.getOrElse("hostname", "unknown")
      respond(x, 200,
        s"""{"name":"$host","timestamp":1751450637,"cpu_number":"0",""" +
          """"pIdle":"95","pUser":"3","pSys":"1","pIRQ":"0.5","pNice":"0"}""")
    }
  })
  server.createContext("/health", (x: HttpExchange) => respond(x, 200, """{"status":"ok"}"""))
  server.createContext("/", (x: HttpExchange) => respond(x, 404, "Unsupported path"))
  server.start()

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    x.getResponseHeaders.add("Content-Type", "application/json")
    x.sendResponseHeaders(code, b.length)
    x.getResponseBody.write(b)
    x.close()
  }

  def port: Int = server.getAddress.getPort
  def loadUrl: String = s"http://127.0.0.1:$port/load"
  def deviceUrlTemplate: String = s"http://127.0.0.1:$port/device?ip={ip}&hostname={hostname}"
  def deviceRequestCount: Int = deviceHits.get()
  def receivedBodies: Seq[String] = receivedKeyed.map(_._2)
  def receivedAuths: Seq[String] = auths.asScala.toSeq
  /** (X-Idempotency-Key, payload) of each stored payload. */
  def receivedKeyed: Seq[(String, String)] = keyed.asScala.toSeq
  // one "cpu_number" key per DeviceData record (indicator structs only
  // carry name/value)
  def receivedRecordCount: Int =
    receivedBodies.map(b => b.sliding(12).count(_ == "\"cpu_number\"")).sum
  /** Payloads acknowledged as duplicates via idempotency key (never stored). */
  def duplicateCount: Int = dupCount.get()
  def reset(): Unit = { keyed.clear(); auths.clear(); seenKeys.clear(); dupCount.set(0) }
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}
