package graft.streaming

import graft.operators.TemporalQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** AttributionStream: purchases credit the latest sealed in-window
  * touch, out-of-order arrivals re-sequence before attribution, the
  * window cutoff applies, and — on the real corpus — the emitted rows
  * equal batch q129's exactly. */
class AttributionStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("attribution waits for the seal; out-of-order touch re-sequences before the purchase") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = AttributionStream.attribute(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attr_out").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // deliver the purchase BEFORE its preceding click (same batch):
      // sealing must re-sequence so the click at 10:02 gets the credit,
      // not the view at 10:00
      ms.addData((3L, t(10, 5), 1L, "purchase"), (2L, t(10, 2), 1L, "click"),
        (1L, t(10, 0), 1L, "view"))
      q.processAllAvailable()
      assert(spark.table("attr_out").isEmpty,
        "nothing may emit while the watermark sits below the arrivals")
      ms.addData((4L, t(11, 0), 2L, "view")) // push the watermark
      q.processAllAvailable()
      ms.addData((5L, t(12, 0), 2L, "view")) // let the new wm seal batch 1
      q.processAllAvailable()
      val rows = spark.table("attr_out").as[AttributionStream.AttrOut].collect()
      assert(rows.map(r => (r.event_id, r.touch_type, r.touch_id, r.gap_sec))
        .toSeq == Seq((3L, Some("click"), Some(2L), Some(180L))),
        s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("a touch sealed in an EARLIER batch carries in state and still gets credit") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = AttributionStream.attribute(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attr_carry").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(9, 0), 1L, "click"))
      q.processAllAvailable()
      ms.addData((2L, t(10, 0), 1L, "purchase")) // wm passes the click
      q.processAllAvailable()
      ms.addData((3L, t(11, 0), 2L, "view")) // wm passes the purchase
      q.processAllAvailable()
      ms.addData((4L, t(12, 0), 2L, "view")) // seal batch 3's wm
      q.processAllAvailable()
      val rows = spark.table("attr_carry").as[AttributionStream.AttrOut].collect()
      assert(rows.map(r => (r.event_id, r.touch_type, r.gap_sec)).toSeq ==
        Seq((2L, Some("click"), Some(3600L))), s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("real corpus replay: emitted attributions equal batch q129 exactly") {
    assertTwin("attribution")
  }

  test("same-timestamp tie: a purchase with a SMALLER event_id than the tied touch still credits it (batch as-of parity)") {
    // The round-9 advisor finding: batch q129's as-of credits every touch
    // with t.ts <= p.ts — including a same-ts touch whose event_id
    // EXCEEDS the purchase's — so the sealed fold must rank touches
    // before purchases at equal timestamps, not rely on event_id order.
    // The real corpus never exercises this tie, so pin it synthetically
    // and cross-check the batch operator on the identical frame.
    val tie = Seq(
      (1L, t(10, 0), 1L, "view"),
      (5L, t(10, 5), 1L, "purchase"), // id 5 < tied click's id 7
      (7L, t(10, 5), 1L, "click"))
    val batch = TemporalQueries.lastTouchAttribution(
        tie.toDF("event_id", "ts", "user_id", "event_type"),
        windowSec = 604800L)
      .select(col("event_id"), col("touch_id"), col("gap_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch == Seq((5L, 7L, 0L)),
      s"batch semantics drifted — fix this test's premise first: $batch")
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = AttributionStream.attribute(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      watermark = "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attr_tie").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(tie)
      q.processAllAvailable()
      ms.addData((99L, t(12, 0), 2L, "view")) // push wm past the tie
      q.processAllAvailable()
      ms.addData((100L, t(13, 0), 2L, "view")) // seal it
      q.processAllAvailable()
      val rows = spark.table("attr_tie").as[AttributionStream.AttrOut].collect()
      assert(rows.map(r => (r.event_id, r.touch_id, r.gap_sec)).toSeq ==
        Seq((5L, Some(7L), Some(0L))), s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("state TTL: a drained user whose touch aged past the window is evicted; a returning user re-seeds") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = AttributionStream.attribute(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type"),
      watermark = "1 minute", windowSec = 3600L) // 1 h window
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("attr_ttl").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(9, 0), 1L, "click"))
      q.processAllAvailable()
      // march the watermark far past 10:00 (= click + window): user 1's
      // state must be evicted, so this purchase — inside no window and
      // with no live touch — emits uncredited rather than crediting the
      // expired click
      ms.addData((2L, t(15, 0), 2L, "view"))
      q.processAllAvailable()
      ms.addData((3L, t(16, 0), 1L, "purchase"))
      q.processAllAvailable()
      ms.addData((4L, t(18, 0), 2L, "view")) // seal the purchase
      q.processAllAvailable()
      val rows = spark.table("attr_ttl").as[AttributionStream.AttrOut].collect()
      assert(rows.map(r => (r.event_id, r.touch_id, r.gap_sec)).toSeq ==
        Seq((3L, None, None)), s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }
}
