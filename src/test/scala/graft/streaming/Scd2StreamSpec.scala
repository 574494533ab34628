package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Scd2Stream: closed intervals emit only after the watermark seals
  * them, out-of-order arrivals land in the right segment, state drains
  * with the watermark, and — on the real corpus — the emitted set
  * equals batch q80's closed rows exactly. */
class Scd2StreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("segments close in order; late-but-in-watermark arrival is re-sequenced") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = Scd2Stream.intervals(
      ms.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("scd2_out").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: A at :00/:01, B at :03 — but deliver B BEFORE the
      // second A to prove sealing re-sequences by event time
      ms.addData((1L, t(10, 3), 12L, "B"), (1L, t(10, 0), 10L, "A"),
        (1L, t(10, 1), 11L, "A"))
      q.processAllAvailable()
      assert(spark.table("scd2_out").isEmpty,
        "nothing may emit while the watermark sits below the arrivals")
      // batch 2: watermark pushes past batch 1 (wm = 11:00 - 5 min)
      ms.addData((1L, t(11, 0), 13L, "C"))
      q.processAllAvailable()
      // one more batch so the new watermark takes effect for sealing
      ms.addData((2L, t(12, 0), 14L, "X"))
      q.processAllAvailable()
      val rows = spark.table("scd2_out")
        .as[Scd2Stream.SegOut].collect().sortBy(_.valid_from.getTime)
      // sealed prefix: A-run [10:00, 10:03) with 2 events, B [10:03, 11:00)
      assert(rows.map(r => (r.user_id, r.event_type, r.valid_from,
        r.valid_to, r.n_events)).toSeq == Seq(
        (1L, "A", t(10, 0), t(10, 3), 2L),
        (1L, "B", t(10, 3), t(11, 0), 1L)),
        s"got: ${rows.mkString(", ")}")
      assert(rows(0).last_seen == t(10, 1), "last A sighting at 10:01")
    } finally q.stop()
  }

  test("real corpus: emitted closed intervals equal batch q80's closed rows") {
    assertTwin("scd2")
  }

  test("checkpoint restart: open-segment state survives and each closure emits once") {
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("scd2-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("scd2-out").toString
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    def runOnce(): Unit = {
      val q = Scd2Stream.intervals(
        ms.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        watermark = "5 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable()
      q.stop()
    }
    // open an A-segment, then STOP — the open segment now lives only in
    // the state store under the checkpoint
    ms.addData((1L, t(10, 0), 1L, "A"), (1L, t(10, 1), 2L, "A"))
    runOnce()
    // restart: B arrival must close the checkpointed A-segment (valid_to
    // = B's ts, n_events = 2 — both A sightings were pre-restart)
    ms.addData((1L, t(11, 0), 3L, "B"))
    runOnce()
    ms.addData((1L, t(12, 0), 4L, "B")) // watermark passes 11:00
    runOnce()
    ms.addData((1L, t(13, 0), 5L, "B")) // sealing batch for the close
    runOnce()
    val rows = spark.read.parquet(outDir).as[Scd2Stream.SegOut].collect()
    val aRows = rows.filter(_.event_type == "A")
    assert(aRows.length == 1, s"A closed exactly once across restarts: ${aRows.toSeq}")
    assert(aRows.head.valid_from == t(10, 0) && aRows.head.valid_to == t(11, 0)
      && aRows.head.last_seen == t(10, 1) && aRows.head.n_events == 2L,
      s"restart lost open-segment state: ${aRows.head}")
  }

  test("state drains: pending buffers empty once the watermark passes them") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val out = Scd2Stream.intervals(
      ms.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("scd2_state").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(10, 0), 1L, "A"), (2L, t(10, 0), 2L, "B"))
      q.processAllAvailable()
      ms.addData((3L, t(12, 0), 3L, "C"))
      q.processAllAvailable()
      ms.addData((3L, t(13, 0), 4L, "C"))
      q.processAllAvailable()
      // users 1 and 2: buffers sealed into open segments (no closures
      // emitted — single-type streams), state rows persist as the
      // constant-size open-segment entries; nothing emitted is fine,
      // the bound we assert is state ROWS == active users, not events
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 3, s"one state row per user, got $stateRows")
      assert(spark.table("scd2_state").isEmpty,
        "single-type histories never close a segment")
    } finally q.stop()
  }
}
