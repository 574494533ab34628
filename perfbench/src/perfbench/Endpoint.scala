package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors}

/** The benchmark's load and device endpoint, run as its own JVM.
  *
  * - `POST /load` takes a JSON array of DeviceData records, drops a
  *   repeated `X-Idempotency-Key` the way the engine's MockLoadServer
  *   does, and checks every record against the value computed from the
  *   seed ([[Devices]]): each valid device delivered exactly once, with
  *   exact indicator values. While the outage is on it refuses (503) a
  *   fixed share of batches chosen by content: those whose first record
  *   hashes to 0 mod 4.
  * - `GET /device?ip=..&hostname=..` returns the device's seeded CpuStats.
  * - `GET /control?op=reset&outage=0|1` starts a new pass; `op=outage`
  *   switches the outage on or off; `GET /report?from=..&until=..` returns
  *   the pass's counters as flat JSON, delivery counted over the devices
  *   in [from, until).
  *
  * Usage: Endpoint <port-file> <seed> <bulk devices> <outage devices>
  *   <threads> [wrong_value|drop_record|dup_record]
  * Devices [0, bulk) go through the projection extractor, the next
  * `outage` ones through the device API.
  * The fault argument is for the checker self-tests: it corrupts, drops
  * or duplicates the first record each pass receives, before the check. */
object Endpoint {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val portFile = java.nio.file.Paths.get(args(0))
    val seed = args(1).toLong
    val bulk = args(2).toInt
    val n = bulk + args(3).toInt
    val threads = args(4).toInt
    val fault = args.lift(5).getOrElse("")
    val ts = Devices.timestamp(seed)
    val projected = Devices.expectedValues(seed, 0, fromDevice = false)
    val expected: Array[Array[Double]] = Array.tabulate(n)(i =>
      if (i < bulk) projected else Devices.expectedValues(seed, i, fromDevice = true))

    final class Pass(@volatile var outage: Boolean) {
      val delivered = new AtomicIntegerArray(n)
      val acceptedKeys = ConcurrentHashMap.newKeySet[String]()
      val postedKeys = ConcurrentHashMap.newKeySet[String]()
    }
    val pass = new java.util.concurrent.atomic.AtomicReference(new Pass(false))
    val faultPending = new java.util.concurrent.atomic.AtomicBoolean(fault.nonEmpty)
    val c = new ConcurrentHashMap[String, AtomicLong]()
    def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
    val inflight = new AtomicLong()
    val inflightMax = new AtomicLong()
    val callMicros = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(code, b.length)
      x.getResponseBody.write(b)
      x.close()
    }

    /** Checks one record; marks its device delivered. */
    def check(r: JsonNode): Unit = {
      val i = Devices.index(Option(r.get("name")).map(_.asText).orNull)
      if (i < 0 || i >= n || Devices.malformed(seed, i)) { add("unexpected", 1); return }
      val inds = r.get("indicators")
      val exp = expected(i.toInt)
      val ok = r.size == 4 &&
        Option(r.get("cpu_number")).exists(v => v.isTextual && v.asText == Devices.cpuNumber) &&
        Option(r.get("timestamp")).exists(v => v.isIntegralNumber && v.asLong == ts) &&
        inds != null && inds.isArray && inds.size == exp.length &&
        Devices.indicators.indices.forall { k =>
          val e = inds.get(k)
          e.size == 2 && e.get("name").asText == Devices.indicators(k)._1 &&
            e.get("value").isNumber &&
            java.lang.Double.compare(e.get("value").doubleValue, exp(k)) == 0
        }
      if (!ok) add("wrong", 1)
      if (pass.get.delivered.getAndIncrement(i.toInt) > 0) add("duplicated", 1)
    }

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    val pool = Executors.newFixedThreadPool(threads)
    server.setExecutor(pool)
    server.createContext("/load", (x: HttpExchange) => {
      val t0 = System.nanoTime()
      val body = x.getRequestBody.readAllBytes()
      val key = x.getRequestHeaders.getFirst("X-Idempotency-Key")
      val authOk = x.getRequestHeaders.getFirst("Authorization") == s"Bearer ${Devices.token}"
      if (x.getRequestMethod != "POST") respond(x, 404, "Unsupported path")
      else if (!authOk) { add("unauthorized", 1); respond(x, 401, """{"status":"unauthorized"}""") }
      else {
        val st = pass.get
        if (key != null && !st.postedKeys.add(key)) add("retries", 1)
        val arr = mapper.readTree(body)
        if (st.outage && arr.size > 0 &&
            Devices.refused(seed, Devices.index(arr.get(0).get("name").asText))) {
          respond(x, 503, """{"status":"outage"}""")
        } else if (key != null && !st.acceptedKeys.add(key)) {
          respond(x, 200, """{"status":"duplicate"}""")
        } else {
          val it = arr.elements()
          while (it.hasNext) {
            val r = it.next()
            if (faultPending.compareAndSet(true, false)) fault match {
              case "wrong_value" =>
                r.get("indicators").get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                  .put("value", r.get("indicators").get(0).get("value").doubleValue + 1.0)
                check(r)
              case "drop_record" => ()
              case "dup_record" => check(r); check(r)
              case _ => check(r)
            } else check(r)
          }
          respond(x, 200, """{"status":"success"}""")
        }
      }
      add("busy_ns", System.nanoTime() - t0)
    })
    server.createContext("/device", (x: HttpExchange) => {
      val t0 = System.nanoTime()
      val now = inflight.incrementAndGet()
      inflightMax.accumulateAndGet(now, math.max)
      val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
      val host = q.split("&").collectFirst {
        case kv if kv.startsWith("hostname=") => java.net.URLDecoder.decode(kv.substring(9), "UTF-8")
      }.getOrElse("")
      val i = Devices.index(host)
      add("device_calls", 1)
      if (i < 0 || i >= n) respond(x, 404, """{"status":"unknown device"}""")
      else respond(x, 200, Devices.deviceJson(seed, i))
      inflight.decrementAndGet()
      val dt = System.nanoTime() - t0
      callMicros.add(dt / 1000)
      add("busy_ns", dt)
    })
    def params(x: HttpExchange): Map[String, String] =
      Option(x.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    server.createContext("/control", (x: HttpExchange) => {
      val p = params(x)
      p.get("op") match {
        case Some("reset") =>
          c.clear(); callMicros.clear(); inflightMax.set(0); faultPending.set(fault.nonEmpty)
          pass.set(new Pass(p.get("outage").contains("1")))
        case Some("outage") => pass.get.outage = p.get("on").contains("1")
        case _ => ()
      }
      respond(x, 200, """{"status":"ok"}""")
    })
    server.createContext("/report", (x: HttpExchange) => {
      val p = params(x)
      val (from, until) = (p.get("from").map(_.toInt).getOrElse(0), p.get("until").map(_.toInt).getOrElse(n))
      var (valid, distinct) = (0L, 0L)
      val d = pass.get.delivered
      for (i <- from until until) {
        if (!Devices.malformed(seed, i)) valid += 1
        if (d.get(i) > 0) distinct += 1
      }
      val calls = callMicros.toArray.map(_.asInstanceOf[java.lang.Long].longValue).sorted
      def pct(p: Double): Double =
        if (calls.isEmpty) 0.0 else calls(math.min(calls.length - 1, (p * calls.length).toInt)) / 1000.0
      def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
      val fields = Seq("wrong", "duplicated", "unexpected", "unauthorized", "retries", "device_calls")
        .map(k => s""""$k":${get(k)}""") ++ Seq(
        s""""valid":$valid""", s""""distinct":$distinct""", s""""missing":${valid - distinct}""",
        s""""busy_s":${get("busy_ns") / 1e9}""", s""""inflight_max":${inflightMax.get}""",
        s""""call_p50_ms":${pct(0.50)}""", s""""call_p99_ms":${pct(0.99)}""")
      respond(x, 200, fields.mkString("{", ",", "}"))
    })
    server.createContext("/", (x: HttpExchange) => respond(x, 404, "Unsupported path"))
    server.start()
    val tmp = java.nio.file.Paths.get(portFile.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, server.getAddress.getPort.toString)
    java.nio.file.Files.move(tmp, portFile, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
