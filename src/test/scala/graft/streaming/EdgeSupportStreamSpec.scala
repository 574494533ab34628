package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** EdgeSupportStream: the streaming co-occurrence/edge-support twin of
  * batch q102's projection — cross-batch support accumulation, exactly
  * one emission per threshold crossing, duplicate-membership dedup,
  * single-batch parity with the batch projection's edge set, and the
  * bounded-state/eviction contract. */
class EdgeSupportStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def startEdges(ms: MemoryStream[(Long, Long, Timestamp)],
      minShared: Long, name: String) = {
    val out = EdgeSupportStream.edges(
      ms.toDF().toDF("o", "p", "ts"), minShared, watermark = "30 minutes")
    out.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(0)).start()
  }

  test("support accumulates ACROSS micro-batches; one emission at the crossing") { StreamTwins.withCheckOff(spark) {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = startEdges(ms, minShared = 2, "edge_cross")
    try {
      // batch 1: basket 1 holds items {10, 20} -> pair (10,20) support 1
      ms.addData((1L, 10L, t(10, 0)), (1L, 20L, t(10, 1)))
      q.processAllAvailable()
      assert(spark.table("edge_cross").isEmpty,
        "support 1 must not emit at minShared=2")
      // batch 2: basket 2 repeats the pair -> support 2, the crossing;
      // basket 2 also introduces (10,30)/(20,30) at support 1 (silent)
      ms.addData((2L, 10L, t(10, 5)), (2L, 20L, t(10, 6)), (2L, 30L, t(10, 7)))
      q.processAllAvailable()
      val rows = spark.table("edge_cross")
        .select("u", "v", "support", "ts")
        .as[(Long, Long, Long, Timestamp)].collect()
      assert(rows.toSeq == Seq((10L, 20L, 2L, t(10, 6))),
        s"exactly the crossing event, ts = later item's time: ${rows.toSeq}")
      // batch 3: a THIRD co-occurrence must stay silent (already emitted)
      ms.addData((3L, 10L, t(10, 10)), (3L, 20L, t(10, 11)))
      q.processAllAvailable()
      assert(spark.table("edge_cross").count() == 1,
        "an edge emits exactly once, not on every post-threshold sighting")
    } finally q.stop()
  }}

  test("duplicate (basket, item) sightings do not inflate support") { StreamTwins.withCheckOff(spark) {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = startEdges(ms, minShared = 2, "edge_dedup")
    try {
      // basket 1 sights item 10 twice (the batch projection's DISTINCT):
      // pair (10,20) must count ONCE from this basket
      ms.addData((1L, 10L, t(9, 0)), (1L, 10L, t(9, 1)), (1L, 20L, t(9, 2)),
        (1L, 10L, t(9, 3))) // and a post-pair duplicate changes nothing
      q.processAllAvailable()
      assert(spark.table("edge_dedup").isEmpty,
        "one basket = support 1, below minShared=2 — duplicates inflated it")
      ms.addData((2L, 10L, t(9, 10)), (2L, 20L, t(9, 11)))
      q.processAllAvailable()
      val rows = spark.table("edge_dedup")
        .select("u", "v", "support").as[(Long, Long, Long)].collect()
      assert(rows.toSeq == Seq((10L, 20L, 2L)), s"${rows.toSeq}")
    } finally q.stop()
  }}

  test("single-batch replay equals the batch q102 projection's edge set") {
    assertTwin("edge_support")
  }

  test("state is bounded: baskets and edges evict after the watermark horizon") { StreamTwins.withCheckOff(spark) {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = startEdges(ms, minShared = 2, "edge_evict")
    try {
      ms.addData((1L, 10L, t(8, 0)), (1L, 20L, t(8, 1)))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length == 2,
        "exactly two stateful operators: basket pairing + edge support")
      // push the watermark far past 8:01 + 30min horizon
      ms.addData((9L, 90L, t(12, 0)))
      q.processAllAvailable()
      ms.addData((9L, 91L, t(12, 1))) // one more batch to fire timeouts
      q.processAllAvailable()
      val removed = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsRemoved).sum
      assert(removed >= 2,
        s"horizon-expired basket AND edge state must evict, removed=$removed")
      // horizon-limited support: the expired pair re-counts from zero
      ms.addData((10L, 10L, t(12, 5)), (10L, 20L, t(12, 6)))
      q.processAllAvailable()
      assert(spark.table("edge_evict").isEmpty,
        "pre-horizon support must not leak into the new horizon")
    } finally q.stop()
  }}
}
