package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Extract stage (reference O3, /root/reference/etl/main.go:188-207):
  * per-appliance device lookup producing CpuStats.
  *
  * Three implementations behind one interface:
  *   - [[ProjectionExtractor]]: the idiomatic path. The reference's
  *     "extract" fabricates constants + a timestamp, which is a pure
  *     projection — zero per-row cost, stays inside whole-stage codegen.
  *   - [[SimulatedLatencyExtractor]]: reproduces the reference's 6 s
  *     blocking call via [[AsyncMap]] so the orchestration (bounded
  *     1,000-way fan-out) is actually exercised.
  *   - [[HttpExtractor]]: the real thing — a per-appliance HTTP GET
  *     against a device API, bounded-fan-out via [[AsyncMap]], with the
  *     reference's context-timeout semantics (8 s, main.go:189) and
  *     error classification. One HttpClient per executor JVM.
  */
trait Extractor extends Serializable {

  /** Marker contract: an appliance row with a null `ip` or `hostname` is
    * a reject marker (a malformed CSV row, see [[EtlPipeline]]). It makes
    * no device call and yields exactly one row whose `name` is null, so
    * the sink can count it in the load job and skip it. */
  def extract(spark: SparkSession, appliances: DataFrame): DataFrame
}

object Extractor {

  /** The per-row extractors' one recipe: the appliance columns as typed
    * rows, handed to `fanOut` (an [[AsyncMap]] variant) with `call` under
    * the marker contract — `call` runs only for well-formed appliances; a
    * marker maps straight to a CpuStats whose `name` is null. */
  private[pipeline] def perRow[R](spark: SparkSession, appliances: DataFrame)(
      fanOut: (Dataset[Appliance], Appliance => CpuStats) => R)(call: Appliance => CpuStats): R = {
    import spark.implicits._
    fanOut(appliances.select(col("ip"), col("hostname")).as[Appliance],
      ap => if (ap.ip == null || ap.hostname == null) marker else call(ap))
  }

  private val marker = CpuStats(null, 0L, null, null, null, null, null, null)
}

/** Constant-time extract as a pure projection (values mirror the
  * reference's fabricated CpuStats, main.go:195-205). `fixedTimestamp`
  * keeps results deterministic for tests/oracles; None = current time. */
final case class ProjectionExtractor(fixedTimestamp: Option[Long] = None) extends Extractor {
  override def extract(spark: SparkSession, appliances: DataFrame): DataFrame = {
    val ts = fixedTimestamp.map(lit).getOrElse(unix_timestamp())
    appliances.select(
      when(ApplianceSource.valid, col("hostname")).as("name"), // a marker's name is null
      ts.cast("long").as("timestamp"),
      lit("0").as("cpu_number"),
      lit("95").as("pIdle"),
      lit("3").as("pUser"),
      lit("1").as("pSys"),
      lit("0.5").as("pIRQ"),
      lit("0").as("pNice"))
  }
}

/** Latency-faithful extract: per-row blocking call of `latencyMillis`,
  * run `globalConcurrency`-wide across the cluster via AsyncMap. */
final case class SimulatedLatencyExtractor(
    latencyMillis: Long,
    globalConcurrency: Int,
    fixedTimestamp: Option[Long] = None) extends Extractor {

  override def extract(spark: SparkSession, appliances: DataFrame): DataFrame = {
    import spark.implicits._
    val lat = latencyMillis
    val fixed = fixedTimestamp
    Extractor.perRow(spark, appliances)((apps, call) =>
      AsyncMap.mapConcurrentGlobal(apps, globalConcurrency)(call).toDF()) { ap =>
      Thread.sleep(lat) // stand-in for the device API round-trip
      CpuStats(
        name = ap.hostname,
        timestamp = fixed.getOrElse(System.currentTimeMillis() / 1000),
        cpu_number = "0",
        pIdle = "95", pUser = "3", pSys = "1", pIRQ = "0.5", pNice = "0")
    }
  }
}

/** Real per-row HTTP extract: GET `urlTemplate` (with `{ip}`/`{hostname}`
  * substituted) for each appliance, parse the flat CpuStats JSON reply.
  *
  * Matches the reference's extract contract (main.go:188-207): a hard
  * per-call deadline (the reference's `context.WithTimeout`, 8 s there)
  * after which the row FAILS — it does not block the pipeline — and a
  * failed extract drops the row (O5; use [[extractQuarantine]] to keep
  * failures as a dead-letter frame instead). Errors are classified as
  * `timeout:` / `connect:` / `status <code>:` / `malformed:` so the
  * quarantine channel is groupable by cause.
  *
  * Scale: the fan-out is [[AsyncMap.mapConcurrentGlobal]] — a cluster-wide
  * in-flight budget split across tasks, so 1,000 concurrent calls means
  * 1,000 regardless of partition count; one shared HttpClient per
  * executor JVM (never per row/partition).
  */
final case class HttpExtractor(
    urlTemplate: String,
    globalConcurrency: Int = 1000,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(8),
    authToken: String = "") extends Extractor {

  override def extract(spark: SparkSession, appliances: DataFrame): DataFrame = {
    import spark.implicits._
    Extractor.perRow(spark, appliances)((apps, call) =>
      AsyncMap.mapConcurrentGlobal(apps, globalConcurrency)(call).toDF())(fetch)
  }

  /** O5-upgrade variant: failures ride along as (None, Some(cause)) rows
    * for dead-letter routing instead of being dropped. fetch throws
    * pre-classified messages (timeout:/connect:/status/malformed:), so
    * the cause is the bare message. A reject marker makes no call and
    * yields its marker row, as in [[extract]]. */
  def extractQuarantine(spark: SparkSession, appliances: DataFrame)
      : Dataset[(Option[CpuStats], Option[String])] = {
    import spark.implicits._
    Extractor.perRow(spark, appliances)((apps, call) =>
      AsyncMap.mapConcurrentGlobalQuarantine(apps, globalConcurrency,
        // guard null getMessage: Some(null) would round-trip through the
        // Option encoder as None, losing the cause entirely
        describe = e => Option(e.getMessage).getOrElse(e.getClass.getSimpleName))(call))(fetch)
  }

  /** One device-API round-trip. Throws with a classified message on any
    * failure; AsyncMap turns that into a drop or a quarantine row. */
  private def fetch(ap: Appliance): CpuStats = {
    import java.net.http.{HttpRequest, HttpResponse}
    val url = urlTemplate
      .replace("{ip}", java.net.URLEncoder.encode(ap.ip, "UTF-8"))
      .replace("{hostname}", java.net.URLEncoder.encode(ap.hostname, "UTF-8"))
    val reqB = HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(timeout).GET()
    if (authToken.nonEmpty) reqB.header("Authorization", s"Bearer $authToken")
    val resp =
      try HttpExtractor.client.send(reqB.build(), HttpResponse.BodyHandlers.ofString())
      catch {
        // HttpConnectTimeoutException IS-A HttpTimeoutException: match the
        // subclass first or dead hosts get blamed on the request deadline
        case _: java.net.http.HttpConnectTimeoutException =>
          throw new java.io.IOException(s"connect: connection timed out for $url")
        case _: java.net.http.HttpTimeoutException =>
          // the reference's ctx.Err() == DeadlineExceeded path
          throw new java.io.IOException(s"timeout: no reply within ${timeout.toMillis} ms from $url")
        case e: java.io.IOException =>
          throw new java.io.IOException(s"connect: ${e.getClass.getSimpleName} for $url")
      }
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new java.io.IOException(
        s"status ${resp.statusCode()}: ${resp.body().take(120)}")
    HttpExtractor.parseCpuStats(resp.body(), fallbackName = ap.hostname)
      .getOrElse(throw new java.io.IOException(
        s"malformed: unparseable CpuStats body ${resp.body().take(120)}"))
  }
}

object HttpExtractor {
  // One client per JVM: thread-safe, owns the connection pool (same
  // rationale as HttpSink.client).
  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  /** Minimal flat-JSON field reader. The device payload is a flat object
    * of string/number fields (the reference's CpuStats wire shape,
    * main.go:33-43), so a JSON library is not warranted — and the jars
    * available to executors must stay exactly the Spark classpath. */
  private[pipeline] def jsonField(body: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) +
        "\"\\s*:\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"|([-0-9.eE+]+))")
      .matcher(body)
    if (!m.find()) None
    else Option(m.group(1)).map(unescapeJson).orElse(Option(m.group(2)))
  }

  /** Full JSON string-escape decoding (\" \\ \/ \b \f \n \r \t \uXXXX) —
    * partial decoding would ship corrupted device names downstream. */
  private[pipeline] def unescapeJson(s: String): String = {
    if (!s.contains('\\')) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => out.append('"');  i += 2
          case '\\' => out.append('\\'); i += 2
          case '/'  => out.append('/');  i += 2
          case 'b'  => out.append('\b'); i += 2
          case 'f'  => out.append('\f'); i += 2
          case 'n'  => out.append('\n'); i += 2
          case 'r'  => out.append('\r'); i += 2
          case 't'  => out.append('\t'); i += 2
          case 'u' if i + 6 <= s.length && isHex4(s, i + 2) =>
            out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          // malformed escape (incl. \uZZZZ / \u+12f): keep literal text —
          // never throw an unclassified error out of the parse path
          case other => out.append('\\').append(other); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  // strict hex check: Integer.parseInt(_, 16) would accept sign chars
  private def isHex4(s: String, from: Int): Boolean = {
    var j = from
    while (j < from + 4) {
      val c = s.charAt(j)
      val hex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      if (!hex) return false
      j += 1
    }
    true
  }

  private[pipeline] def parseCpuStats(body: String, fallbackName: String): Option[CpuStats] =
    for {
      ts <- jsonField(body, "timestamp").flatMap(s => scala.util.Try(s.toLong).toOption)
      cpuN <- jsonField(body, "cpu_number")
      idle <- jsonField(body, "pIdle")
      user <- jsonField(body, "pUser")
      sys <- jsonField(body, "pSys")
      irq <- jsonField(body, "pIRQ")
      nice <- jsonField(body, "pNice")
    } yield CpuStats(
      name = jsonField(body, "name").getOrElse(fallbackName),
      timestamp = ts, cpu_number = cpuN,
      pIdle = idle, pUser = user, pSys = sys, pIRQ = irq, pNice = nice)
}
