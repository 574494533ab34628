package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** SemanticDedupStream: cross-batch near-dup suppression against kept
  * state, per-entry aging under the watermark, post-expiry re-founding,
  * state-store eviction, and the only-canonicals-enter-state bound. */
class SemanticDedupStreamSpec extends TwinSpec {
  import spark.implicits._

  // two well-separated unit centroids: cluster 0 along e0, cluster 1 along e1
  private val cents = Array(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  // vectors: a-family near e0 (pairwise cos ~0.999), b near e1
  private val a1 = Seq(1.0, 0.02, 0.0, 0.0)
  private val a2 = Seq(1.0, 0.03, 0.01, 0.0)
  private val a3 = Seq(0.99, 0.02, 0.0, 0.01)
  private val b1 = Seq(0.01, 1.0, 0.0, 0.0)

  test("near-dups drop across micro-batches; distinct items found their own state") {
    assertTwin("semantic_dedup")
  }

  test("dropped duplicates never grow state: canonical count bounds the row") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = SemanticDedupStream.assign(
      ms.toDF().toDF("vec_id", "ts", "v"), cents, tau = 0.9,
      horizon = java.time.Duration.ofMinutes(10))
    val q = out.toDF().writeStream.outputMode("append").format("memory")
      .queryName("semdedup_bound_out").trigger(Trigger.ProcessingTime(0)).start()
    // ten near-dups of one item, one distinct item in the other cluster
    ms.addData((1L, t(10, 0), a1))
    q.processAllAvailable()
    ms.addData((2 to 11).map(i => (i.toLong, t(10, i), a2)): _*)
    q.processAllAvailable()
    ms.addData((20L, t(10, 12), b1))
    q.processAllAvailable()
    val live = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val kept = spark.table("semdedup_bound_out")
      .select("vec_id", "kept").as[(Long, Boolean)].collect()
    assert(kept.count(_._2) == 2, s"only the two canonicals keep: ${kept.mkString(",")}")
    // state rows = clusters with surviving canonicals (2), NOT arrivals (12)
    assert(live <= 2, s"dropped dups leaked into state: $live rows")
  }

  test("a near-dup sighting extends its canonical's retention") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = SemanticDedupStream.assign(
      ms.toDF().toDF("vec_id", "ts", "v"), cents, tau = 0.9,
      horizon = java.time.Duration.ofMinutes(10))
    val q = out.toDF().writeStream.outputMode("append").format("memory")
      .queryName("semdedup_extend_out").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData((1L, t(10, 0), a1)) // canonical at 10:00, would age at 10:10
    q.processAllAvailable()
    ms.addData((2L, t(10, 8), a2)) // dup sighting at 10:08 -> extends to 10:18
    q.processAllAvailable()
    // watermark to 10:05 (event 10:15 - 10m): past 10:00+10m? no — 10:05 < 10:10.
    // push watermark to 10:12: past the ORIGINAL aging point, inside the
    // extended one. A fresh dup must still drop against the canonical.
    ms.addData((90L, t(10, 22), b1)) // other cluster; watermark -> 10:12
    q.processAllAvailable()
    ms.addData((3L, t(10, 13), a3))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("semdedup_extend_out")
      .select("vec_id", "kept", "canonical_id")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(3L) == ((false, 1L)),
      s"canonical aged out despite the extending sighting: ${rows(3L)}")
  }
}
