package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** MvRefreshStream: the streaming IVM fold — per-group cumulative CDF
  * deltas maintained by the built-in streaming aggregation. Scripted
  * scenarios pin the hand values, the commutativity claim (batch split
  * order cannot change the drained state, including an update whose
  * pre/post rows straddle a batch boundary), and the real-corpus
  * parity against batch q161 that StreamCheck replays as the driver-
  * visible gate. */
class MvRefreshStreamSpec extends TwinSpec {
  import spark.implicits._

  private def latest(table: String): Map[Long, (Long, Long, Long)] =
    spark.table(table)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("n_folded").desc)))
      .where(col("rn") === 1)
      .select("g", "d_n", "d_sum", "n_folded")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private def runScript(name: String)(
      batches: Seq[Seq[(Long, Long, String, Long)]]): Map[Long, (Long, Long, Long)] = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String, Long)]
    val q = MvRefreshStream.deltas(
        ms.toDF().toDF("k", "commit_ver", "change_type", "cents"))
      .writeStream.outputMode("update").format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      latest(name)
    } finally q.stop()
  }

  test("hand values: insert/delete move rows+cents, an update pair moves cents only") {
    // group 3 (keys 3, 13): insert +1/+100, delete -1/-250
    // group 7 (key 7): update 500 -> 530 as a pre/post pair
    val out = runScript("mv_hand")(Seq(Seq(
      (3L, 3L, "insert", 100L),
      (13L, 2L, "delete", 250L),
      (7L, 2L, "update_preimage", 500L),
      (7L, 2L, "update_postimage", 530L))))
    assert(out(3L) == ((0L, -150L, 2L)), s"${out(3L)}")
    assert(out(7L) == ((0L, 30L, 2L)), s"${out(7L)}")
    assert(out.keySet == Set(3L, 7L))
  }

  test("negative keys land in their pmod group (the v3 late-insert branch)") {
    // k = -1 -> ((-1 % 10) + 10) % 10 = 9
    val out = runScript("mv_neg")(Seq(Seq((-1L, 3L, "insert", 42L))))
    assert(out(9L) == ((1L, 42L, 1L)), s"${out(9L)}")
  }

  test("batch split order cannot change the drained state; a straddling update corrects") {
    val rows = Seq(
      (5L, 2L, "update_preimage", 900L),
      (5L, 2L, "update_postimage", 925L),
      (15L, 3L, "insert", 60L),
      (25L, 2L, "delete", 80L))
    // split the update PAIR across batches, reversed arrival order
    val a = runScript("mv_split")(Seq(
      Seq(rows(1), rows(3)), Seq(rows(0), rows(2))))
    // one batch, forward order
    val b = runScript("mv_one")(Seq(rows))
    assert(a == b, s"drained state depends on batch split:\n$a\n$b")
    // keys 5, 15, 25 all land in pmod group 5:
    // -900 + 925 (update pair) + 60 (insert) - 80 (delete) = +5, rows +1-1
    assert(a(5L) == ((0L, 5L, 4L)), s"${a(5L)}")
  }

  test("real corpus: v1 MV + streamed deltas == batch q161 recompute") {
    assertTwin("mv_refresh")
  }
}
