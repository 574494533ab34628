package graft.tools

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** Cross-PROCESS store-race probe: one JVM's worth of the scenario the
  * in-process thread test cannot reach — two separate Spark
  * sessions (separate block managers, separate temp dirs, separate
  * pids) racing `loadOrBuild` of the SAME key in a shared store
  * directory, the deployment shape of a cluster where many sessions
  * share one warm store. The spec forks two of these concurrently and
  * asserts both read the full frame and exactly one published entry
  * survives with no tmp residue (the Store's pid-scoped tmp siblings +
  * validated publish are the machinery under test).
  *
  * Usage: StoreRaceProbe <storeDir> — prints one JSON line, exits 2 on
  * a torn read. */
object StoreRaceProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.configure(
      SparkSession.builder().master("local[4]")
        .appName("graft-store-race"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val base = (1L to 200L).map(i => (i, i * 10L)).toDF("k", "v")
      val out = graft.functions.Store.loadOrBuild(spark, "xrace", 1,
        graft.functions.Store.fingerprint(base))(Seq("k", "v"), dir = dir) {
        Thread.sleep(500) // widen the build window so publishes collide
        base
      }
      val n = out.count()
      val sum = out.selectExpr("sum(v)").head().getLong(0)
      println(s"""{"metric":"store_race","rows":$n,"sum":$sum}""")
      // 200 rows summing to 10*(1+..+200): a torn entry fails loudly
      if (n != 200L || sum != 201000L) sys.exit(2)
    } finally spark.stop()
  }
}
