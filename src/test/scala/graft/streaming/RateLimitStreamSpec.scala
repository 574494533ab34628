package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** RateLimitStream: whole-second sealing (RANGE-peer parity), late
  * in-horizon arrivals raise earlier peers' counts, idle users leave
  * ZERO state, and the flagged set equals batch q112 on the real
  * corpus. */
class RateLimitStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)

  test("same-second peers count; late in-horizon arrival completes the frame") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long)]
    val out = RateLimitStream.flags(
      ms.toDF().toDF("user_id", "ts", "event_id"),
      windowSec = 100L, maxEvents = 2L, watermark = "60 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("rate_bridge").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // u1: events at 0, 10 — under the limit alone
      ms.addData((1L, t(0), 1L), (1L, t(10), 2L))
      q.processAllAvailable()
      // late arrivals: two more at second 10 (peers) — now 4 in window
      ms.addData((1L, t(10), 3L), (1L, t(10), 4L))
      q.processAllAvailable()
      // watermark driver
      ms.addData((9L, t(7200), 9L))
      q.processAllAvailable()
      ms.addData((9L, t(14400), 10L))
      q.processAllAvailable()
      val rows = spark.table("rate_bridge").as[RateLimitStream.FlagOut]
        .collect().filter(_.user_id == 1L)
        .map(r => r.event_id -> r.n_window).toMap
      // RANGE peers: all three second-10 events see n=4; the second-0
      // event's frame has n=1 (only itself precedes) -> not flagged
      assert(rows == Map(2L -> 4L, 3L -> 4L, 4L -> 4L), rows.toString)
    } finally q.stop()
  }

  test("idle users drop to zero state rows after window + horizon") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long)]
    val out = RateLimitStream.flags(
      ms.toDF().toDF("user_id", "ts", "event_id"),
      windowSec = 100L, maxEvents = 1L, watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("rate_clean").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(0), 1L), (1L, t(1), 2L))
      q.processAllAvailable()
      // push the watermark far past user 1's window + horizon; the
      // sentinel user's own state stays (pending seconds), user 1's goes
      ms.addData((9L, t(100000), 3L))
      q.processAllAvailable()
      ms.addData((9L, t(200000), 4L))
      q.processAllAvailable()
      ms.addData((9L, t(300000), 5L))
      q.processAllAvailable()
      val flagged = spark.table("rate_clean").as[RateLimitStream.FlagOut]
        .collect().filter(_.user_id == 1L)
      // trailing frames: event 1 sees only itself (n=1, under limit);
      // event 2's frame spans both seconds (n=2 > 1) — batch semantics
      assert(flagged.map(r => r.event_id -> r.n_window).toMap
        == Map(2L -> 2L), flagged.toSeq.toString)
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 1L,
        s"user 1 must be evicted entirely (only the sentinel may remain): $stateRows")
    } finally q.stop()
  }

  test("real corpus: flagged set equals batch q112") {
    assertTwin("rate_limit")
  }
}
