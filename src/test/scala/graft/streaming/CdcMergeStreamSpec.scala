package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** CdcMergeStream: last-write-wins registers refresh per touched key,
  * stale out-of-order arrivals never regress the snapshot, tombstones
  * suppress older updates but newer ones resurrect, and — on the real
  * corpus — the final per-key emission equals batch q90's compaction. */
class CdcMergeStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def latestPerKey(table: String): Map[Long, (String, Timestamp, Double, Long, Boolean)] =
    spark.table(table)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_changes").desc)))
      .where(col("rn") === 1).drop("rn")
      .as[CdcMergeStream.SnapRow].collect()
      .map(r => r.user_id ->
        ((r.last_op, r.last_ts, r.last_value, r.n_changes, r.deleted)))
      .toMap

  test("stale arrivals never regress; tombstone suppresses, newer U resurrects") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = CdcMergeStream.snapshots(
      ms.toDF().toDF("user_id", "ts", "event_id", "op", "value"))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("cdc_out").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: key 1 updated at 10:30, key 2 deleted at 10:00
      ms.addData((1L, t(10, 30), 10L, "U", 3.0), (2L, t(10, 0), 11L, "D", 0.0))
      q.processAllAvailable()
      // batch 2: STALE update for key 1 (10:05 < 10:30) — must not win;
      // stale update for key 2 (9:00 < tombstone) — stays deleted
      ms.addData((1L, t(10, 5), 12L, "U", 99.0), (2L, t(9, 0), 13L, "U", 7.0))
      q.processAllAvailable()
      val afterStale = latestPerKey("cdc_out")
      assert(afterStale(1L) == (("U", t(10, 30), 3.0, 2L, false)),
        s"stale arrival regressed the register: ${afterStale(1L)}")
      assert(afterStale(2L)._1 == "D" && afterStale(2L)._5,
        "tombstone must survive an older update")
      // batch 3: genuinely newer U resurrects key 2
      ms.addData((2L, t(11, 0), 14L, "U", 5.5))
      q.processAllAvailable()
      val afterRes = latestPerKey("cdc_out")
      assert(afterRes(2L) == (("U", t(11, 0), 5.5, 3L, false)),
        s"newer update must resurrect: ${afterRes(2L)}")
    } finally q.stop()
  }

  test("real corpus: final registers equal batch q90's compaction exactly") {
    assertTwin("cdc_merge")
  }
}
