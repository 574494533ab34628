package perfbench

import graft.pipeline._
import graft.{Sessions, SparkEntry, StoreWarmup}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Engine side of the benchmark: one workload in one JVM, driving the
  * engine only through its public functions. Writes one flat JSON
  * object of metrics and operation counts to `--out`.
  *
  * Usage: BenchMain --workload <etl_bulk|catalog_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --run-dir <dir> --out <file>
  *   [--port <endpoint port> --bulk-devices <n> --outage-devices <n> --warm-passes <k>]
  *   [--data <sf dir>]
  *   [--queries <q,...>] [--stores <family,...>] [--fault reject_count]
  *
  * Every run sets up, runs untimed warm passes (ETL: `--warm-passes`;
  * catalog: one pass whose results go to the oracle check), then
  * whole timed passes until `--seconds` have elapsed, and reports medians
  * over the timed passes. `--trace 1` registers a [[Trace]] listener and also times each
  * layer's public function on its own input, materialized beforehand. */
object BenchMain {
  private final class Out {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    var passes = 0
    val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Jiffies of all CPUs together from /proc/stat: (total, stolen). */
  private def jiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
    (f.sum, f(7))
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM so far, all threads together, in seconds. The
    * kernel keeps time the hypervisor stole out of it, which wall time on
    * a shared host is not free of. */
  private def cpuNow(): Double = os.getProcessCpuTime / 1e9

  /** Name prefixes of the JVM's JIT compiler and garbage collector
    * threads. */
  private val runtimeThreads = Seq("C1 Comp", "C2 Comp", "GC Thread", "G1 ")

  /** CPU seconds of this JVM's JIT compiler and garbage collector threads
    * so far, from each thread's /proc schedstat. The engine JVM runs with
    * a fixed number of them (-XX:-UseDynamicNumberOfCompilerThreads,
    * -XX:-UseDynamicNumberOfGCThreads), so none exits and takes its time
    * along. */
  private def runtimeCpu(): Double = {
    var ns = 0L
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.forEach { t =>
      scala.util.Try {
        val comm = Files.readString(t.resolve("comm"))
        if (runtimeThreads.exists(comm.startsWith))
          ns += Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong
      }
    } finally tasks.close()
    ns / 1e9
  }

  /** CPU seconds of the engine's work so far: every thread of the JVM but
    * the JIT compilers and the garbage collector. Their time depends on
    * how far the JIT has got and on when a collection happens to start,
    * so within one run it falls pass by pass, and it differs between runs
    * of the same work by more than the work does. */
  private def workCpu(): Double = cpuNow() - runtimeCpu()

  /** A timer for one timed pass: its wall time, its CPU time, and the
    * share of the machine's CPU time the hypervisor stole meanwhile (the
    * steal column of /proc/stat), which is only reported beside the
    * figures. */
  private final class PassTimer {
    private val t0 = System.nanoTime()
    private val c0 = workCpu()
    private val j0 = jiffies()
    /** Share of the machine's CPU time stolen since the start. */
    def stolen: Double = {
      val (tot, st) = jiffies()
      if (tot > j0._1) (st - j0._2).toDouble / (tot - j0._1) else 0.0
    }
    def secs: Double = BenchMain.secs(t0)
    def cpu: Double = workCpu() - c0
  }
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, (p * s.size).toInt))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Trace) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val o = new Out
    try {
      val firstTimed = workload match {
        case "etl_bulk" => etl(spark, a, o, seed, seconds, runDir, cores, tracer)
        case "catalog_mix" => catalog(spark, a, o, seconds, runDir, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      // set-up: the engine's CPU time from the JVM's start to the first
      // timed pass, with the repeated preparation step counted once, at its
      // median
      o.metrics("setup_s") = firstTimed.cpu - o.metrics.remove("prep_extra_s").getOrElse(0.0)
      o.info("setup_wall_s") = f"${(firstTimed.wallMillis - jvmStart) / 1000.0}%.3f"
      o.metrics("engine.peak_rss_mib") = vmHwmMiB()
    } finally spark.stop()
    val fields = o.metrics.map { case (k, v) => s""""$k":$v""" } ++
      o.info.map { case (k, v) => s""""$k":"$v"""" } ++
      Seq(s""""attempted":${o.attempted}""", s""""failed":${o.failed}""", s""""passes":${o.passes}""")
    Files.writeString(Paths.get(a("out")), fields.mkString("{", ",", "}\n"))
  }

  private def vmHwmMiB(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
  }

  /** Runs `prep` three times and records the extra CPU time beyond its
    * median (subtracted from set-up, which thus counts the median once). */
  private def repeatedPrep[T](o: Out)(prep: => T): T = {
    var r: T = null.asInstanceOf[T]
    val times = (1 to 3).map { _ => val c0 = workCpu(); r = prep; workCpu() - c0 }
    o.metrics("prep_extra_s") = times.sum - median(times)
    o.info("prep_s") = times.map(t => f"$t%.3f").mkString(" ")
    r
  }

  /** When the first timed pass started: wall-clock millis and the
    * engine's CPU seconds ([[workCpu]]). */
  private final case class Start(wallMillis: Long, cpu: Double)

  /** Whole passes until `seconds` have elapsed, at least one. */
  private def timedPasses(o: Out, seconds: Double)(pass: => Unit): Start = {
    val start = Start(System.currentTimeMillis(), workCpu())
    val t0 = System.nanoTime()
    do { pass; o.passes += 1 } while (secs(t0) < seconds)
    start
  }

  // ---------------------------------------------------------------- ETL

  private def etl(spark: SparkSession, a: Map[String, String], o: Out, seed: Long, seconds: Double,
      runDir: Path, cores: Int, tracer: Option[Trace]): Start = {
    val (nBulk, nOutage) = (a("bulk-devices").toLong, a("outage-devices").toLong)
    val bulkCsv = runDir.resolve("input/bulk.csv")
    val outageCsv = runDir.resolve("input/outage.csv")
    Files.createDirectories(bulkCsv.getParent)
    val extraBad = if (a.get("fault").contains("reject_count")) 1 else 0
    val (bulkBad, outageBad) = repeatedPrep(o)(
      (Devices.writeCsv(bulkCsv, seed, 0, nBulk, extraBad), Devices.writeCsv(outageCsv, seed, nBulk, nBulk + nOutage)))
    val valid = nBulk + nOutage - bulkBad - outageBad
    val base = s"http://127.0.0.1:${a("port")}"
    val http = java.net.http.HttpClient.newHttpClient()
    def get(path: String): String = http.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    def report(from: Long, until: Long): Map[String, Double] =
      "\"([a-z_0-9]+)\":([-0-9.eE]+)".r.findAllMatchIn(get(s"/report?from=$from&until=$until"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val spillDir = runDir.resolve("spill").toString
    val sinkCfg = HttpSink.Config(url = base + "/load", authToken = Devices.token, spillDir = spillDir)
    val httpExtractor = HttpExtractor(base + "/device?ip={ip}&hostname={hostname}",
      globalConcurrency = cores, authToken = Devices.token)
    val bulkCfg = EtlConfig(csvPath = bulkCsv.toString, sink = sinkCfg,
      extractor = ProjectionExtractor(Some(Devices.timestamp(seed))), loadPartitions = cores)
    val outageCfg = bulkCfg.copy(csvPath = outageCsv.toString, extractor = httpExtractor)

    /** Failed deliveries in the endpoint's report of the pass just run. */
    def failures(r: Map[String, Double]): Long =
      Seq("missing", "duplicated", "wrong", "unexpected", "unauthorized").map(r(_).toLong).sum

    val stolenShare = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuRates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit = layer.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
    var endpointBusy = 0.0

    /** One pass of the bulk input through the projection path; checked
      * always, its figures kept only when `timed`. */
    def e2ePass(timed: Boolean): Unit = {
      get("/control?op=reset&outage=0")
      val timer = new PassTimer
      val st = new EtlPipeline(spark, bulkCfg).run()
      val (sec, cpu) = (timer.secs, timer.cpu)
      val r = report(0, nBulk)
      val failed = failures(r) + math.abs(st.rejectedRows - bulkBad)
      o.attempted += nBulk - bulkBad; o.failed += failed
      if (timed) {
        stolenShare += timer.stolen
        passSec += sec
        passCpu += cpu
        rates += (r("distinct") - r("wrong")) / sec
        cpuRates += (r("distinct") - r("wrong")) / cpu
        endpointBusy += r("busy_s")
        rec("sink.retries", r("retries"))
      }
      if (failed > 0) System.err.println(s"[perfbench] pass failures: $failed $r rejected=${st.rejectedRows}/$bulkBad")
    }

    /** Each bulk layer's public function timed on its own, on input
      * materialized beforehand. */
    def layerPass(): Unit = {
      import org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      var t0 = System.nanoTime()
      val src = ApplianceSource.read(spark, bulkCsv.toString)
      val rows = src.ok.count()
      val rejected = src.rejected.count()
      rec("source.scan_s", secs(t0)); rec("source.rows", rows.toDouble); rec("source.rejected", rejected.toDouble)
      val routed = src.ok.repartition(cores).persist(MEMORY_ONLY)
      routed.count()
      val cpu = bulkCfg.extractor.extract(spark, routed).persist(MEMORY_ONLY)
      cpu.count()

      t0 = System.nanoTime()
      val json = Transform.deviceDataJson(Transform.toDeviceData(cpu)).persist(MEMORY_ONLY)
      json.count()
      rec("transform.s", secs(t0))
      rec("transform.json_bytes", json.selectExpr("sum(octet_length(json))").head.getLong(0).toDouble)

      get("/control?op=reset&outage=0")
      val sc = spark.sparkContext
      val micros = sc.collectionAccumulator[java.lang.Long]("perfbench.batch_us")
      val bytes = sc.longAccumulator("perfbench.sink_bytes")
      val cfgB = sinkCfg
      t0 = System.nanoTime()
      json.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.map(_.getString(0)).grouped(cfgB.batchSize).foreach { b =>
          val s = System.nanoTime()
          HttpSink.postBatch(cfgB, b)
          micros.add((System.nanoTime() - s) / 1000)
          bytes.add(b.map(_.length + 1).sum + 1)
        }
      }
      rec("sink.s", secs(t0))
      val lat = { import scala.jdk.CollectionConverters._; micros.value.asScala.map(_ / 1000.0).toSeq }
      rec("sink.batches", lat.size.toDouble); rec("sink.bytes", bytes.value.toDouble)
      rec("sink.batch_p50_ms", pct(lat, 0.5)); rec("sink.batch_p99_ms", pct(lat, 0.99))
      val sr = report(0, nBulk)
      o.attempted += nBulk - bulkBad; o.failed += failures(sr)
      Seq(json, cpu, routed).foreach(_.unpersist(blocking = true))
    }

    /** The outage segment, traced runs only (its records/s rides on
      * per-call HTTP latency and is too unsteady for an end-to-end
      * figure): the extract layer on its own, then the outage input
      * through the whole pipeline while the endpoint refuses a quarter of
      * the load batches, then Spill.replay against the healthy endpoint. */
    def outagePass(record: Boolean): Unit = {
      import org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      val apps = ApplianceSource.read(spark, outageCsv.toString).ok.repartition(cores).persist(MEMORY_ONLY)
      val appRows = apps.count()
      get("/control?op=reset&outage=0")
      var t0 = System.nanoTime()
      val fetched = httpExtractor.extract(spark, apps).persist(MEMORY_ONLY)
      val extracted = fetched.count()
      val extractSec = secs(t0)
      val er = report(nBulk, nBulk + nOutage)
      Seq(fetched, apps).foreach(_.unpersist(blocking = true))

      get("/control?op=reset&outage=1")
      t0 = System.nanoTime()
      val st = new EtlPipeline(spark, outageCfg).run()
      val liveSec = secs(t0)
      val spilled = Spill.listSpillFiles(spillDir)
      val spilledBytes = spilled.map(_.length).sum
      get("/control?op=outage&on=0")
      t0 = System.nanoTime()
      val (replayed, deleted) = Spill.replay(spark, sinkCfg)
      val replaySec = secs(t0)
      val left = Spill.listSpillFiles(spillDir)
      val leftRecords = if (left.isEmpty) 0L else Spill.readSpilled(spark, spillDir).count()
      left.foreach(_.delete())
      val r = report(nBulk, nBulk + nOutage)
      val failed = failures(r) + math.abs(st.rejectedRows - outageBad) + leftRecords
      if (failed > 0) System.err.println(s"[perfbench] outage failures: $failed $r left=$leftRecords")
      o.attempted += nOutage - outageBad; o.failed += failed
      if (record) {
        rec("extract.s", extractSec)
        rec("extract.calls", er("device_calls")); rec("extract.failed", (appRows - extracted).toDouble)
        rec("extract.inflight_max", er("inflight_max"))
        rec("extract.call_p50_ms", er("call_p50_ms")); rec("extract.call_p99_ms", er("call_p99_ms"))
        rec("etl.outage_s", liveSec + replaySec)
        rec("etl.outage_records_per_s", (r("distinct") - r("wrong")) / (liveSec + replaySec))
        rec("spill.batches", st.sink.spilledBatches.toDouble)
        rec("spill.files", spilled.size.toDouble)
        rec("spill.bytes", spilledBytes.toDouble)
        rec("replay.s", replaySec)
        rec("replay.records", replayed.toDouble)
        rec("replay.files_deleted", deleted.toDouble)
      }
    }

    // JIT warm passes: checked and counted as operations, but not timed
    (1 to a("warm-passes").toInt).foreach(_ => e2ePass(timed = false))
    val before = tracer.map(_.snapshot())
    val first = timedPasses(o, seconds) {
      e2ePass(timed = true); if (tracer.isDefined) layerPass()
    }
    val after = tracer.map(_.snapshot())
    // after the bulk passes, so the HTTP extractor cannot perturb them
    if (tracer.isDefined) Seq(false, true).foreach(outagePass)
    val prefix = if (tracer.isEmpty) "" else "traced."
    o.metrics(prefix + "pass_cpu_s") = median(passCpu.toSeq)
    o.metrics(prefix + "ops_per_cpu_s") = median(cpuRates.toSeq)
    if (tracer.isDefined) {
      o.metrics("traced.pass_s") = median(passSec.toSeq)
      o.metrics("traced.ops_per_s") = median(rates.toSeq)
      after.get.foreach { case (k, v) => o.metrics(k) = (v - before.get(k)) / o.passes }
      layer.foreach { case (k, v) => o.metrics(k) = median(v.toSeq) }
      o.metrics("endpoint.busy_s") = endpointBusy / o.passes
    }
    o.info("cpu_each") = passCpu.map(c => f"$c%.3f").mkString(" ")
    o.info("wall_each") = passSec.map(c => f"$c%.3f").mkString(" ")
    o.info("stolen") = stolenShare.map(r => f"$r%.3f").mkString(" ")
    first
  }

  // ------------------------------------------------------------- catalog

  private def catalog(spark: SparkSession, a: Map[String, String], o: Out, seconds: Double,
      runDir: Path, tracer: Option[Trace]): Start = {
    val data = a("data")
    val names = OracleSql.resolve(a("queries").split(",").toSeq)
    val families = a.get("stores").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    // store builds, cold: the store roots are fresh in every run directory
    val e0 = graft.functions.StoreEvents.count
    val t0 = System.nanoTime()
    StoreWarmup.warmers.filter(w => families.contains(w._1)).foreach(_._2(spark, data))
    val storeSec = secs(t0)
    val storeBuilds = graft.functions.StoreEvents.count - e0
    def sweep(): Unit = {
      graft.plans.SharedFrames.clear(spark)
      spark.sparkContext.getPersistentRDDs.values.foreach(r => scala.util.Try(r.unpersist(blocking = true)))
      System.gc()
    }
    def hash(df: org.apache.spark.sql.DataFrame): Long =
      df.selectExpr("sum(xxhash64(struct(*)))").head.get(0) match {
        case null => 0L
        case h => h.asInstanceOf[Long]
      }
    // warm pass: writes every result for the oracle check, and keeps the
    // hash of what it wrote, so each timed pass is tied to checked output
    val hashes = names.map { q =>
      val out = runDir.resolve(s"results/$q").toString
      SparkEntry.catalog(q).fn(spark, data).write.parquet(out)
      q -> hash(spark.read.parquet(out))
    }.toMap
    OracleSql.write(runDir.resolve("oracle_sql.json"), names)
    sweep()

    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Double, Double)]]
    val queryCpu = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val mismatches = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val stolenShare = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuRates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val buildJobs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val buildSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val materialized = scala.collection.mutable.ArrayBuffer.empty[Double]
    val se0 = graft.functions.StoreEvents.count
    val before = tracer.map(_.snapshot())
    val first = timedPasses(o, seconds) {
      val passTimer = new PassTimer
      var jobs = 0L
      var rdds = 0
      var builds = 0.0
      var ok = 0
      val times = names.map { q =>
        val fn = SparkEntry.catalog(q).fn
        val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
        val j0 = tracer.map(_.get("exec.jobs")).getOrElse(0L)
        val (q0, c0) = (System.nanoTime(), workCpu())
        val df = fn(spark, data)
        val build = secs(q0)
        builds += build
        // waiting for the listener bus is not query time
        val (settle, cs) = (System.nanoTime(), workCpu())
        tracer.foreach { t => t.settle(); jobs += t.get("exec.jobs") - j0 }
        val (settled, settledCpu) = (secs(settle), workCpu() - cs)
        val h = hash(df)
        val total = secs(q0) - settled
        val cpu = workCpu() - c0 - settledCpu
        rdds += (spark.sparkContext.getPersistentRDDs.keySet -- persisted0).size
        if (h != hashes(q)) { o.failed += 1; mismatches(q) += 1 } else ok += 1
        o.attempted += 1
        perQuery.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) += ((total, build))
        queryCpu.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) += cpu
        (cpu, total)
      }
      cpuTotals += times.map(_._1).sum
      walls += times.map(_._2).sum
      cpuRates += ok / cpuTotals.last
      rates += ok / walls.last
      buildJobs += jobs.toDouble
      buildSec += builds
      materialized += rdds.toDouble
      stolenShare += passTimer.stolen
      sweep()
    }
    // pass_cpu_s is the catalog's CPU total; ops_per_cpu_s the checked
    // queries per CPU second
    val prefix = if (tracer.isEmpty) "" else "traced."
    o.metrics(prefix + "pass_cpu_s") = median(cpuTotals.toSeq)
    o.metrics(prefix + "ops_per_cpu_s") = median(cpuRates.toSeq)
    if (tracer.isDefined) {
      o.metrics("traced.pass_s") = median(walls.toSeq)
      o.metrics("traced.ops_per_s") = median(rates.toSeq)
      val after = tracer.get.snapshot()
      after.foreach { case (k, v) => o.metrics(k) = (v - before.get(k)) / o.passes }
      o.metrics("plan.build_s") = median(buildSec.toSeq)
      o.metrics("plan.build_jobs") = median(buildJobs.toSeq)
      o.metrics("materialize.rdds") = median(materialized.toSeq)
      o.metrics("store.build_s") = storeSec
      o.metrics("store.builds") = storeBuilds.toDouble
      o.metrics("store.builds_in_shots") = (graft.functions.StoreEvents.count - se0).toDouble
      names.foreach { q =>
        val k = q.takeWhile(_ != '_')
        o.metrics(s"query.$k.s") = median(perQuery(q).map(_._1).toSeq)
        o.metrics(s"query.$k.build_s") = median(perQuery(q).map(_._2).toSeq)
      }
    }
    o.info("queries") = names.mkString(",")
    o.info("cpu_each") = cpuTotals.map(t => f"$t%.3f").mkString(" ")
    o.info("query_cpu") = queryCpu.map { case (q, v) => q.takeWhile(_ != '_') + ":" + v.map(c => f"$c%.2f").mkString("/") }.mkString(" ")
    o.info("wall_each") = walls.map(t => f"$t%.3f").mkString(" ")
    o.info("stolen") = stolenShare.map(r => f"$r%.3f").mkString(" ")
    // timed passes whose result differs from the checked one, by query
    o.info("mismatches") = names.map(q => s"$q=${mismatches(q)}").mkString(" ")
    first
  }
}
