package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.plans.QueryTrace
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** QueryTrace's snapshot diffs and Bench's per-query record, driven by
  * synthetic query functions on the shared test session. */
class BenchSpec extends SparkSpec {

  private val layerKeys = Set("exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
    "exec.cpu_s", "exec.gc_s", "scan.bytes", "scan.rows", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.write_s", "shuffle.fetch_wait_s", "exec.spill_disk_bytes")

  private def traced[A](f: QueryTrace => A): A = {
    val trace = QueryTrace.register(spark)
    try f(trace) finally spark.sparkContext.removeSparkListener(trace)
  }

  private def record(fn: (SparkSession, String) => DataFrame) =
    traced(t => Bench.measure(spark, t, "synthetic", fn, "unused", None))

  test("QueryTrace diffs around back-to-back parquet reads count each read once") {
    val dir = java.nio.file.Files.createTempDirectory("query-trace-spec").toString
    spark.range(1000).write.parquet(s"$dir/a")
    spark.range(300).write.parquet(s"$dir/b")
    traced { trace =>
      val s0 = trace.snapshot()
      spark.read.parquet(s"$dir/a").selectExpr("sum(id)").collect()
      val s1 = trace.snapshot()
      spark.read.parquet(s"$dir/b").selectExpr("sum(id)").collect()
      val spans = trace.timeline()
      val s2 = trace.snapshot()
      val (d1, d2) = (QueryTrace.diff(s1, s0), QueryTrace.diff(s2, s1))
      assert(d1.keySet == layerKeys)
      assert(d1("scan.rows") == 1000 && d1("exec.jobs") > 0, d1)
      assert(d2("scan.rows") == 300 && d2("exec.jobs") > 0, d2)
      assert(spans.exists(_.kind == "job") && spans.exists(_.kind == "stage"), spans)
      assert(spans.forall(s => s.startS >= 0 && s.wallS >= 0), spans)
      assert(trace.timeline().isEmpty, "a snapshot restarts the timeline")
    }
  }

  test("build_jobs counts eager work in the query function, none for a pure plan") {
    val eager = record((s, _) => s.range(1000).toDF("id").localCheckpoint())
    val pure = record((s, _) => s.range(1000).toDF("id").selectExpr("id * 2 AS x"))
    val mapper = new ObjectMapper
    assert(mapper.readTree(eager.json).get("build_jobs").asLong >= 1, eager.json)
    assert(mapper.readTree(pure.json).get("build_jobs").asLong == 0, pure.json)
  }

  test("a record holds 3 ordered shots and every layer field, as one JSON object") {
    val r = record((s, _) => s.range(5000).toDF("id").selectExpr("id % 7 AS k").groupBy("k").count())
    assert(!r.json.contains("\n"))
    val j = new ObjectMapper().readTree(r.json)
    val shots = j.get("shots").elements.asScala.map(_.asDouble).toSeq
    assert(shots.size == Bench.shots && r.walls.size == Bench.shots, r.json)
    val (lo, med, hi) = (j.get("min").asDouble, j.get("median").asDouble, j.get("max").asDouble)
    assert(lo <= med && med <= hi, r.json)
    assert(lo == shots.min && med == shots.sorted.apply(1) && hi == shots.max, r.json)
    Seq("query", "build_s", "build_jobs", "store_miss_s", "load_avg", "rdd_blocks",
      "storage_bytes", "gc_s").foreach(k => assert(j.has(k), s"$k missing: ${r.json}"))
    assert(j.get("layers").fieldNames.asScala.toSet == layerKeys, r.json)
    assert(j.get("layers").get("exec.jobs").asLong > 0, r.json)
  }
}
