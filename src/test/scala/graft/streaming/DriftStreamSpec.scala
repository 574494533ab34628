package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Parity + sealing semantics for the q174 streaming twin: the sealed
  * daily CUSUM rows must equal the batch recursion with the same k
  * exactly, unmonitored types must emit nothing, and an unsealed day
  * must stay unemitted until the watermark passes its end.
  */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def referenceFold(countsByDay: Seq[(Long, Long)], k: Long)
      : Vector[(Long, Long, Long, Long)] = {
    var cs = 0L; var mn = 0L; var mx = 0L
    countsByDay.sortBy(_._1).toVector.map { case (day, cnt) =>
      cs += 1000000L * cnt - k
      mn = math.min(mn, cs); mx = math.max(mx, cs)
      (day, cnt, cs - math.min(0L, mn), math.max(0L, mx) - cs)
    }
  }

  test("replay == batch CUSUM recursion on the real corpus") {
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[(Long, Timestamp, String)].collect()
    val dayOf = (ts: Timestamp) =>
      Math.floorDiv(ts.getTime, 86400000L) * 86400000L
    val byType = ev.groupBy(_._3).view.mapValues { rows =>
      rows.groupBy(r => dayOf(r._2)).view.mapValues(_.length.toLong)
        .toSeq
    }.toMap
    val kByType = byType.map { case (t, days) =>
      t -> 1000000L * days.map(_._2).sum / days.length
    }
    val expected = byType.flatMap { case (t, days) =>
      referenceFold(days, kByType(t)).map { case (d, c, up, dn) =>
        (t, new Timestamp(d), c, up, dn)
      }
    }.toSet
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = DriftStream.monitor(
        ms.toDF().toDF("event_id", "ts", "event_type"), kByType,
        watermark = "10 minutes")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("drift_replay").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // two micro-batches of real data in event-time order: Tables
      // returns events in no file order, and rows older than the
      // watermark are dropped as late
      val (b1, b2) = ev.splitAt(ev.length / 2)
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
      // far-future sentinel of an UNMONITORED type seals every real day
      val maxTs = ev.map(_._2.getTime).max
      ms.addData((999999L, new Timestamp(maxTs + 30L * 86400000L), "zz"))
      q.processAllAvailable()
      ms.addData((999998L, new Timestamp(maxTs + 31L * 86400000L), "zz"))
      q.processAllAvailable()
      val got = spark.table("drift_replay")
        .as[DriftStream.DriftOut].collect()
        .map(r => (r.event_type, r.day, r.cnt, r.up_micro, r.down_micro))
        .toSet
      assert(got.nonEmpty)
      assert(got == expected,
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    } finally q.stop()
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
