package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Parity + sealing semantics for the q174 streaming twin: the sealed
  * daily CUSUM rows must equal the batch recursion with the same k
  * exactly, unmonitored types must emit nothing, and an unsealed day
  * must stay unemitted until the watermark passes its end.
  */
class DriftStreamSpec extends TwinSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("replay == batch CUSUM recursion on the real corpus") {
    assertTwin("drift_cusum")
  }

  test("sealing: an open day holds back; unmonitored types emit nothing") {
    def t(day: Int, h: Int) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = DriftStream.monitor(
        ms.toDF().toDF("event_id", "ts", "event_type"),
        Map("a" -> 2000000L), watermark = "1 minute")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("drift_seal").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // day 1: three 'a' events; day 2: one 'a'; 'b' is unmonitored
      ms.addData((1L, t(1, 9), "a"), (2L, t(1, 10), "a"),
        (3L, t(1, 11), "a"), (4L, t(1, 12), "b"))
      q.processAllAvailable()
      assert(spark.table("drift_seal").isEmpty,
        "day 1 must not seal while the watermark sits inside it")
      ms.addData((5L, t(2, 9), "a"))
      q.processAllAvailable()
      ms.addData((6L, t(3, 9), "b")) // moves watermark past day 2's end
      q.processAllAvailable()
      ms.addData((7L, t(4, 9), "b")) // second pass delivers the timeout
      q.processAllAvailable()
      val got = spark.table("drift_seal").as[DriftStream.DriftOut]
        .collect().map(r =>
          (r.event_type, r.day.getTime, r.cnt, r.up_micro, r.down_micro))
        .toSet
      // k = 2 events/day: day1 dev = +1e6 (up 1e6), day2 dev = -1e6
      // (cs back to 0; down = max(0, maxCs=1e6) - 0 = 1e6)
      val d1 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val d2 = Timestamp.valueOf("2024-01-02 00:00:00").getTime
      assert(got == Set(
        ("a", d1, 3L, 1000000L, 0L),
        ("a", d2, 1L, 0L, 1000000L)), s"$got")
    } finally q.stop()
  }
}
