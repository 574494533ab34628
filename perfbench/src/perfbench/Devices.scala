package perfbench

/** The seeded device population both benchmark processes derive from
  * (seed, device index) alone: the engine side writes the appliance CSV
  * from it, and the endpoint serves device replies and computes every
  * expected delivered record from it, independently of the pipeline.
  *
  * Row i of the CSV is `ip,device-i`, or a malformed one-field row (just
  * the ip) for ~1% of rows. Device replies carry two-decimal metric
  * strings in [0, 100], ~2% of them the non-numeric string "n/a". */
object Devices {
  val token = "perfbench-token"
  val cpuNumber = "0"
  val nonNumeric = "n/a"
  /** Indicator names in wire order, and the CpuStats field each reads. */
  val indicators: Seq[(String, String)] = Seq(
    "utilization" -> "pIdle", "nice" -> "pNice", "user" -> "pUser",
    "system" -> "pSys", "irq" -> "pIRQ")
  private val metricFields = Seq("pIdle", "pUser", "pSys", "pIRQ", "pNice")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, i: Long, salt: Int): Long = mix(mix(seed) ^ mix(i * 64 + salt))

  def malformed(seed: Long, i: Long): Boolean = java.lang.Math.floorMod(h(seed, i, 1), 100L) == 0
  /** The outage's content rule: a batch whose first record is device i
    * is refused while the outage is on (~1 in 4). */
  def refused(seed: Long, i: Long): Boolean = java.lang.Math.floorMod(h(seed, i, 2), 4L) == 0
  def name(i: Long): String = s"device-$i"
  def ip(i: Long): String = s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"
  def timestamp(seed: Long): Long = 1700000000L + java.lang.Math.floorMod(seed, 1000000L)

  /** Device index of a `device-<i>` name, or -1. */
  def index(name: String): Long =
    if (name == null || !name.startsWith("device-")) -1L
    else try name.substring(7).toLong catch { case _: NumberFormatException => -1L }

  /** The device API's metric string for one CpuStats field. */
  def metric(seed: Long, i: Long, field: String): String = {
    val v = h(seed, i, 10 + metricFields.indexOf(field))
    if (java.lang.Math.floorMod(v, 50L) == 0) nonNumeric
    else {
      val c = java.lang.Math.floorMod(v >>> 8, 10001L)
      f"${c / 100}.${c % 100}%02d"
    }
  }

  /** The projection extractor's fixed metric strings. */
  val projected: Map[String, String] =
    Map("pIdle" -> "95", "pUser" -> "3", "pSys" -> "1", "pIRQ" -> "0.5", "pNice" -> "0")

  def deviceJson(seed: Long, i: Long): String =
    s"""{"name":"${name(i)}","timestamp":${timestamp(seed)},"cpu_number":"$cpuNumber",""" +
      metricFields.map(f => s""""$f":"${metric(seed, i, f)}"""").mkString(",") + "}"

  private def lenient(s: String): Double =
    try java.lang.Double.parseDouble(s) catch { case _: NumberFormatException => 0.0 }

  /** Expected indicator values of device i: utilization = 100 - idle,
    * a non-numeric metric reads as 0.0. `fromDevice` = false is the
    * projection path's constants. */
  def expectedValues(seed: Long, i: Long, fromDevice: Boolean): Array[Double] =
    indicators.map { case (ind, field) =>
      val v = lenient(if (fromDevice) metric(seed, i, field) else projected(field))
      if (ind == "utilization") 100.0 - v else v
    }.toArray

  /** Writes the appliance CSV for devices [from, until) and returns the
    * number of malformed rows written. `extraMalformed` appends that many
    * more malformed rows (a checker self-test: they are not counted). */
  def writeCsv(path: java.nio.file.Path, seed: Long, from: Long, until: Long, extraMalformed: Int = 0): Long = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    var bad = 0L
    try {
      var i = from
      while (i < until) {
        w.write(ip(i))
        if (malformed(seed, i)) bad += 1 else { w.write(','); w.write(name(i)) }
        w.write('\n')
        i += 1
      }
      (0 until extraMalformed).foreach(k => w.write(s"10.255.255.$k\n"))
    } finally w.close()
    bad
  }
}
