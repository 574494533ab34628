package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** PassAtKStream parity laws: the streamed counter grid equals the
  * batch rollup under any micro-batch split (counts commute), the
  * read-back equals batch q249 row for row, and a changed k re-derives
  * from the SAME stored cells with no replay. */
class PassAtKStreamSpec extends TwinSpec {
  import spark.implicits._
  implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def replay(samples: Seq[(Long, Long)], chunks: Int)
      : Seq[(Long, Long, Long)] = {
    val ms = MemoryStream[(Long, Long)]
    val q = PassAtKStream.grid(ms.toDF().toDF("task", "ok"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("passk_spec").trigger(Trigger.ProcessingTime(0)).start()
    try {
      samples.grouped(samples.length / chunks + 1).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
      spark.table("passk_spec").as[(Long, Long, Long)].collect().toSeq
    } finally q.stop()
  }

  test("streamed grid == batch rollup under different micro-batch splits") {
    val samples = (1 to 40).map(i => ((i % 4).toLong,
      if (i % 5 == 0) 1L else 0L))
    val want = graft.operators.CurationQueries
      .passTaskGrid(samples.toDF("task", "ok"))
      .as[(Long, Long, Long)].collect().toSet
    for (chunks <- Seq(1, 3, 7)) {
      val got = replay(scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(samples), chunks).toSet
      assert(got == want, s"chunks=$chunks")
    }
  }

  test("read-back over streamed cells == batch q249 on the corpus slice") {
    assertTwin("pass_at_k_grid")
  }

  test("changing k re-derives from the same cells — no replay needed") {
    val cells = Seq((1L, 10L, 2L), (2L, 3L, 1L)).toDF("task", "n", "c")
    val at5 = PassAtKStream.readBack(cells, 5)
      .as[(Long, Long, Long, Double)].collect().toList
    val at3 = PassAtKStream.readBack(cells, 3)
      .as[(Long, Long, Long, Double)].collect().toList
    // k=5: task 2 (n=3) filtered out; k=3 keeps it
    assert(at5.map(_._1) == List(1L))
    assert(at3.map(_._1) == List(1L, 2L))
    // task 1 at k=3: 1 - (8/10)*(7/9)*(6/8)
    assert(math.abs(at3.head._4 -
      (1.0 - (8.0 / 10) * (7.0 / 9) * (6.0 / 8))) < 1e-12)
  }
}
