package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** FeatureSnapshotStream: labels wait for the watermark seal,
  * out-of-order feature events re-sequence before any same-or-later
  * label reads them, a same-timestamp feature event is absorbed before
  * the same-timestamp label (the batch `ORDER BY ts, tag` contract),
  * cold-start labels emit NULL features, and — on the real corpus —
  * the emitted snapshots equal batch q210's exactly. */
class FeatureSnapshotStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("seal + re-sequencing + same-ts tag order + cold start") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = FeatureSnapshotStream.snapshots(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("snap_out").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: cold-start purchase at 10:00 (no history), then a view
      // delivered OUT OF ORDER after a click, then a purchase at 10:05
      // SHARING its timestamp with a signup — the signup must be inside
      // the snapshot (features rank before labels at equal ts)
      ms.addData(
        (5L, t(10, 5), 1L, "purchase", 2.0),
        (4L, t(10, 5), 1L, "signup", 0.5),
        (1L, t(10, 0), 1L, "purchase", 1.0),
        (3L, t(10, 3), 1L, "click", 0.25),
        (2L, t(10, 2), 1L, "view", 0.75))
      q.processAllAvailable()
      assert(spark.table("snap_out").isEmpty,
        "nothing may emit while the watermark sits below the arrivals")
      ms.addData((90L, t(11, 0), 9L, "view", 0.0)) // push the watermark
      q.processAllAvailable()
      ms.addData((91L, t(12, 0), 9L, "view", 0.0)) // seal batch 1
      q.processAllAvailable()
      val rows = spark.table("snap_out")
        .as[FeatureSnapshotStream.SnapOut].collect()
        .map(r => (r.event_id, r.purchase_cents, r.n_events_asof,
          r.cents_asof, r.n_types_asof, r.last_type_asof)).toSet
      assert(rows == Set(
        (1L, 100L, None, None, None, None), // cold start: NULL features
        // view(75) + click(25) + signup(50) absorbed, 3 distinct types,
        // latest type = the same-ts signup
        (5L, 200L, Some(3L), Some(150L), Some(3L), Some("signup"))),
        s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("real corpus replay: emitted snapshots equal batch q210 exactly") {
    assertTwin("feature_snapshot")
  }
}
