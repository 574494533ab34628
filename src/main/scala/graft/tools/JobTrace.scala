package graft.tools

import graft.{Sessions, SparkEntry}
import graft.plans.QueryTrace
import org.apache.spark.sql.SparkSession

/** Dev-only job/stage tracer: runs a catalog query once (after a JIT
  * warmup run) and prints the [[QueryTrace]] timeline of every job and
  * stage with start offset, wall-clock, task count and name — localizes
  * SERIAL latency (broadcast collects, stage scheduling gaps) that
  * aggregate task metrics cannot see.
  *
  * Usage: runMain graft.tools.JobTrace qNN_name [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-jobtrace"),
      cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = QueryTrace.register(spark)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).selectExpr("sum(xxhash64(struct(*)))").collect() // JIT
      trace.snapshot()
      val t0 = System.nanoTime()
      fn(spark, sfDir).selectExpr("sum(xxhash64(struct(*)))").collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val spans = trace.timeline()
      println(f"=== $name wall=$wall%.2f s  jobs=${spans.count(_.kind == "job")}  " +
        f"stages=${spans.count(_.kind == "stage")}")
      spans.foreach { s =>
        val pad = if (s.kind == "job") "" else "    "
        println(f"$pad${s.kind}%s ${s.id}%4d t+${s.startS}%6.2f wall=${s.wallS}%6.3f " +
          f"tasks=${s.tasks}%4d  ${s.name}")
      }
    }
    spark.stop()
  }
}
