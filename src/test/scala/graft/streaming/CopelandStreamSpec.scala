package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** CopelandStream parity laws: the streamed duel grid equals the batch
  * duel aggregate under any micro-batch split (counts commute), the
  * Copeland read-back equals batch q251 exactly (smoothing-invariant
  * verdicts), and a mid-stream read is a valid leaderboard of the
  * duels seen so far. */
class CopelandStreamSpec extends TwinSpec {
  import spark.implicits._
  implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def replay(duels: Seq[(Long, Long)], chunks: Int)
      : Seq[(Long, Long, Long, Long)] = {
    val ms = MemoryStream[(Long, Long)]
    val q = CopelandStream.grid(ms.toDF().toDF("w", "l"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("cope_spec").trigger(Trigger.ProcessingTime(0)).start()
    try {
      duels.grouped(duels.length / chunks + 1).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
      spark.table("cope_spec").as[(Long, Long, Long, Long)]
        .collect().toSeq
    } finally q.stop()
  }

  test("streamed grid == batch duel aggregate under shuffled splits") {
    val duels = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L),
      (3L, 2L), (1L, 3L), (1L, 3L))
    val want = duels.groupBy(d => (math.min(d._1, d._2),
        math.max(d._1, d._2)))
      .map { case ((u, v), ds) =>
        (u, v, ds.count(d => d._1 < d._2).toLong,
          ds.count(d => d._1 > d._2).toLong) }.toSet
    for (chunks <- Seq(1, 3, 5)) {
      val got = replay(scala.util.Random.javaRandomToRandom(
        new java.util.Random(11)).shuffle(duels), chunks).toSet
      assert(got == want, s"chunks=$chunks: $got")
    }
  }

  test("read-back over streamed cells == batch q251 on the corpus") {
    assertTwin("copeland_grid")
  }

  test("mid-stream read is a valid leaderboard of duels seen so far") {
    val ms = MemoryStream[(Long, Long)]
    val q = CopelandStream.grid(ms.toDF().toDF("w", "l"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("cope_mid").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq((1L, 2L), (1L, 2L))); q.processAllAvailable()
      val first = CopelandStream.readBack(
        spark.table("cope_mid")).as[(Long, Long, Long, Long, Boolean)]
        .collect().toList
      // only the 1-2 pair exists: 1 is a (trivial) Condorcet winner
      assert(first.head == ((1L, 1L, 1L, 2L, true)), s"$first")
      ms.addData(Seq((3L, 1L), (3L, 1L), (3L, 2L)))
      q.processAllAvailable()
      val second = CopelandStream.readBack(
        spark.table("cope_mid")).as[(Long, Long, Long, Long, Boolean)]
        .collect().toList
      // 3 beats both 1 and 2 -> new Condorcet winner; 1 loses the flag
      val m = second.map(r => r._2 -> r).toMap
      assert(m(3L)._5 && m(3L)._4 == 4L, s"$second")
      assert(!m(1L)._5, s"$second")
    } finally q.stop()
  }
}
