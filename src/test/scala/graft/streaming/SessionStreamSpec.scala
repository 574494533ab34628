package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** SessionStream: the late-arrival BRIDGE case (one session, not two),
  * watermark-delayed closure, timeout emission of idle sessions with
  * key cleanup, and full-set batch q103 parity on the real corpus. */
class SessionStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("late in-horizon arrival bridges two bursts into ONE session") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long)]
    // gap 900 s (15 min): 10:00 and 10:20 alone are two sessions; the
    // late 10:10 delivered AFTER them must bridge to one
    val out = SessionStream.sessions(
      ms.toDF().toDF("user_id", "ts", "event_id"),
      gapSec = 900L, watermark = "60 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_bridge").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(10, 0), 1L), (1L, t(10, 20), 2L))
      q.processAllAvailable()
      ms.addData((1L, t(10, 10), 3L)) // late, within the 60 min horizon
      q.processAllAvailable()
      // drive the watermark far past 10:20 + gap
      ms.addData((2L, t(14, 0), 4L))
      q.processAllAvailable()
      ms.addData((2L, t(15, 0), 5L))
      q.processAllAvailable()
      val rows = spark.table("sess_bridge").as[SessionStream.SessionOut]
        .collect().filter(_.user_id == 1L)
      assert(rows.length == 1, s"bridged into one session: ${rows.toSeq}")
      assert(rows.head.session_n == 1L && rows.head.n_events == 3L
        && rows.head.start_ts == t(10, 0) && rows.head.end_ts == t(10, 20)
        && rows.head.duration_sec == 1200L, s"${rows.head}")
    } finally q.stop()
  }

  test("sessions emit only after end + gap clears the watermark; idle key frees") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long)]
    val out = SessionStream.sessions(
      ms.toDF().toDF("user_id", "ts", "event_id"),
      gapSec = 900L, watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_close").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, t(10, 0), 1L), (1L, t(10, 5), 2L))
      q.processAllAvailable()
      // wm = 10:05 - 5 min = 10:00 — events sealed? 10:00 <= wm yes,
      // 10:05 no. Session cannot close: nothing may emit yet.
      assert(spark.table("sess_close").isEmpty)
      // push wm to 10:16: both sealed, but 10:16 < 10:05 + 15 min + 1 —
      // the session is still extendable, still nothing
      ms.addData((2L, t(10, 21), 3L))
      q.processAllAvailable()
      assert(spark.table("sess_close").isEmpty,
        "extension window still open under the watermark")
      // push wm past 10:05 + gap: the user-1 session must emit via
      // its event-time timeout even though user 1 sends nothing again
      ms.addData((2L, t(11, 30), 4L))
      q.processAllAvailable()
      ms.addData((2L, t(12, 30), 5L))
      q.processAllAvailable()
      val rows = spark.table("sess_close").as[SessionStream.SessionOut]
        .collect().filter(_.user_id == 1L)
      assert(rows.length == 1 && rows.head.n_events == 2L
        && rows.head.duration_sec == 300L, s"${rows.toSeq}")
      // user 1's buffer drained with the close; what remains is at most
      // the two constant registers (user 1's lifetime counter, user 2's
      // open session) — the state bound the scaladoc claims
      val prog = q.lastProgress
      val stateRows = prog.stateOperators(0).numRowsTotal
      assert(stateRows <= 2L, s"constant per-user state only: $stateRows rows")
    } finally q.stop()
  }

  test("real corpus: emission equals the FULL batch q103 row set") {
    assertTwin("sessionization")
  }
}
