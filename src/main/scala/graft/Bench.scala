package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.functions.StoreEvents
import graft.plans.{QueryTrace, SharedFrames}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query catalog timing under one fixed protocol. For each query:
  * one untimed JIT warmup at sf0.001 (whole-stage codegen compiles once
  * per JVM, a constant that says nothing about data-proportional work),
  * then [[shots]] timed shots. Every query gets one JSONL record in
  * `target/bench_queries.jsonl` (walls, build split, store misses,
  * ambient load, session state and the median shot's [[QueryTrace]]
  * layers); the last stdout line is the one-line summary of record.
  *
  * Usage: runMain graft.Bench [qNN_name ...] (no names: the whole catalog)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_IDLE_LOAD, SPARK_GRAFT_IDLE_WAIT_SEC (the idle gate).
  */
object Bench {
  val shots = 3

  /** One query's outcome: shot walls, summed in-shot store-build
    * seconds, and its JSONL record. */
  final case class Record(name: String, walls: Seq[Double], storeMissS: Double, json: String) {
    def median: Double = walls.sorted.apply(walls.length / 2)
  }

  private final case class Shot(wall: Double, buildS: Double, buildJobs: Long,
      storeMissS: Double, layers: Map[String, Double])

  private def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def f1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** 1-min loadavg and MemAvailable GiB; -1 where /proc is absent. */
  private def hostLoad(): (Double, Double) = {
    def read(path: String)(pick: Seq[String] => Double): Double =
      try pick(Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq)
      catch { case _: Throwable => -1.0 }
    (read("/proc/loadavg")(_.head.split("\\s+")(0).toDouble),
      read("/proc/meminfo")(_.collectFirst { case l if l.startsWith("MemAvailable:") =>
        l.split("\\s+")(1).toDouble / (1024 * 1024) }.getOrElse(-1.0)))
  }

  /** Hashing the whole row forces every output column (a bare count()
    * lets Catalyst prune projection-only work) without a driver collect. */
  private def hashSink(df: DataFrame): Unit = { df.selectExpr("sum(xxhash64(struct(*)))").collect(); () }

  /** One timed shot. Build (the query function) and execution are timed
    * apart, with the trace settled between them off the clock, so
    * `buildJobs` counts exactly the jobs that ran while building. A
    * hash-incompatible output falls back to count(), re-timed from scratch. */
  private def shot(spark: SparkSession, trace: QueryTrace, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String): Shot = {
    def attempt(sink: DataFrame => Unit): Shot = {
      val s0 = trace.snapshot()
      val m0 = StoreEvents.count
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val build = (System.nanoTime() - t0) / 1e9
      val jobs = trace.snapshot()("exec.jobs") - s0("exec.jobs")
      val t1 = System.nanoTime()
      sink(df)
      val exec = (System.nanoTime() - t1) / 1e9
      Shot(build + exec, build, jobs.toLong, StoreEvents.since(m0).map(_.sec).sum,
        QueryTrace.diff(trace.snapshot(), s0))
    }
    try attempt(hashSink) catch { case e: Throwable =>
      System.err.println(s"[bench] $name: hash sink failed (${e.getClass.getSimpleName}); falling back to count()")
      attempt(df => { df.count(); () })
    }
  }

  /** The fixed protocol for one query: warmup at `warmDir`, [[shots]]
    * timed shots at `dir`, one record. */
  def measure(spark: SparkSession, trace: QueryTrace, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String, warmDir: Option[String]): Record = {
    warmDir.foreach(w => try hashSink(fn(spark, w)) catch { case _: Throwable => () })
    val load = hostLoad()._1
    val ss = Seq.fill(shots)(shot(spark, trace, name, fn, dir))
    val med = ss.sortBy(_.wall).apply(shots / 2)
    val info = spark.sparkContext.getRDDStorageInfo
    val gcS = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3
    }
    val walls = ss.map(_.wall)
    val miss = ss.map(_.storeMissS).sum
    val layers = med.layers.toSeq.sortBy(_._1).map { case (k, v) =>
      q(k) + ":" + (if (k.endsWith("_s")) f3(v) else v.toLong.toString) }
    val json = s"""{"query":${q(name)},"shots":[${walls.map(f3).mkString(",")}],""" +
      s""""min":${f3(walls.min)},"median":${f3(med.wall)},"max":${f3(walls.max)},""" +
      s""""build_s":${f3(med.buildS)},"build_jobs":${med.buildJobs},"store_miss_s":${f3(miss)},""" +
      s""""load_avg":${f1(load)},"rdd_blocks":${info.map(_.numCachedPartitions).sum},""" +
      s""""storage_bytes":${info.map(i => i.memSize + i.diskSize).sum},"gc_s":${f3(gcS)},""" +
      s""""layers":{${layers.mkString(",")}}}"""
    Record(name, walls, miss, json)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.catalog.keys.toSeq
    val unknown = names.filterNot(SparkEntry.catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warmup, then every table's relation resolved once (listing
    // and footers), so the first timed query pays neither.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach(t => try { Tables(spark, sfDir, t).schema; () } catch { case _: Throwable => () })
    val warmDir = Option(Paths.get(sfDir).getParent).map(_.resolve("sf0.001"))
      .filter(Files.isDirectory(_)).map(_.toString)
    // Store builds for this SF run here, off the clock, as their own
    // figures; a build inside a timed shot is reported as store_miss.
    val storeWarm = StoreWarmup.warmAll(spark, sfDir)
    storeWarm.foreach { case (k, sec, builds) =>
      System.err.println(f"[bench] store-warm $k: $sec%.2f s" + (if (builds > 0) s" ($builds build)" else " (hit)"))
    }
    val loadStart = hostLoad()
    // Idle gate: sleep off the clock until 1-min loadavg falls below the
    // threshold, within a wait budget; a run that still starts above it
    // says so as ambient_contaminated.
    val idleThreshold = sys.env.getOrElse("SPARK_GRAFT_IDLE_LOAD", "4.0").toDouble
    var idleWaited = 0.0
    val idleBudget = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT_SEC", "900").toDouble
    while (hostLoad()._1 > idleThreshold && idleWaited < idleBudget) { Thread.sleep(5000); idleWaited += 5.0 }
    val ambientContaminated = hostLoad()._1 > idleThreshold
    if (ambientContaminated) System.err.println("[bench] idle-gate exhausted: run is ambient_contaminated")
    val trace = QueryTrace.register(spark)
    val out = Paths.get("target", "bench_queries.jsonl")
    Files.createDirectories(out.getParent)
    val w = Files.newBufferedWriter(out, UTF_8)
    val results = try names.zipWithIndex.flatMap { case (name, i) =>
      // Local checkpoints pin their blocks until unpersisted, so a long
      // session drops the dead ones (and collects) between queries.
      if (i > 0 && i % 16 == 0) { SharedFrames.sweepDeadCheckpoints(spark); System.gc() }
      try {
        val r = measure(spark, trace, name, SparkEntry.catalog(name).fn, sfDir, warmDir)
        w.write(r.json); w.newLine(); w.flush()
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      }
    } finally w.close()
    val loadEnd = hostLoad()
    val total = results.map(_.median).sum
    val storeWarmJson = storeWarm.map { case (k, sec, b) => s"${q(k)}:[${f3(sec)},$b]" }.mkString("{", ",", "}")
    val storeMissJson = results.filter(_.storeMissS > 0.1).sortBy(_.name)
      .map(r => s"${q(r.name)}:${f3(r.storeMissS)}").mkString("{", ",", "}")
    def summaryLine(m: String, omitted: Int) =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$m,"total_sec":${f3(total)},"n_queries":${results.size},"queries_omitted":$omitted,"n_retimed":0,"n_oob":0,"n_band_aged":0,"load_avg":{"start":${f1(loadStart._1)},"end":${f1(loadEnd._1)},"mem_avail_gib":[${f1(loadStart._2)},${f1(loadEnd._2)}]},"idle_gate":{"threshold":${f1(idleThreshold)},"waited_sec":${f1(idleWaited)}},"ambient_contaminated":$ambientContaminated,"store_warm":$storeWarmJson,"store_miss":$storeMissJson,"sf":${q(sfDir)}}"""
    // The summary must fit the reader's ~2 KB tail window: it carries the
    // slowest medians under short keys ("q95") that fit, and the omitted
    // count; the JSONL holds every query.
    val budget = 1900 - 8 - summaryLine("{}", results.size).length
    val taken = results.sortBy(-_.median)
      .map(r => s"${q(r.name.takeWhile(_ != '_'))}:${String.format(java.util.Locale.ROOT, "%.2f", Double.box(r.median))}")
      .foldLeft(Vector.empty[String]) { (acc, e) =>
        if ((acc :+ e).mkString("{", ",", "}").length <= budget) acc :+ e else acc }
    spark.stop() // before the summary, so shutdown chatter cannot follow it
    System.err.flush()
    println(summaryLine(taken.mkString("{", ",", "}"), results.size - taken.size))
    System.out.flush()
  }
}
