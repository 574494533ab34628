package graft.streaming

import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** DegreeProfileStream: the streaming degree-profile twin of batch
  * q144 — pair dedup (first sighting only), power-of-two bucket entry
  * events per node, cross-batch degree accumulation, and single-batch
  * replay parity with the batch degree distribution on the real
  * corpus. */
class DegreeProfileStreamSpec extends TwinSpec {
  import spark.implicits._

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  /** (log2_bucket, degree) crossings per node after replaying `batches`. */
  private def crossings(batches: Seq[(Long, Long, Timestamp)]*)
      : String => Seq[(Long, Long)] = {
    val out = StreamTwins.withCheckOff(spark) {
      StreamTwins.replay(spark, batches) { df =>
        DegreeProfileStream.degreeCrossings(df.toDF("c", "s", "ts"),
          watermark = "30 minutes")
      }.out.select("node", "log2_bucket", "degree")
        .as[(String, Long, Long)].collect()
    }
    node => out.toSeq.collect { case (`node`, b, d) => (b, d) }.sorted
  }

  test("crossings fire at degrees 1, 2, 4 — and duplicate pair sightings never inflate the degree") {
    // customer 1 buys from suppliers 10..13, with pair (1,10) sighted
    // THREE times — the dedup stage must count it once
    val got = crossings(
      Seq((1L, 10L, t(9, 0)), (1L, 10L, t(9, 1))),
      Seq((1L, 11L, t(9, 2)), (1L, 10L, t(9, 3)), (1L, 12L, t(9, 4)),
        (1L, 13L, t(9, 5))))
    // degree walked 1 -> 2 -> 3 -> 4: crossings at 1 (b0), 2 (b1), 4 (b2)
    assert(got("c1").toSet == Set((0L, 1L), (1L, 2L), (2L, 4L)),
      s"crossings must fire exactly at powers of two: ${got("c1")}")
    // every supplier saw exactly one distinct partner -> bucket 0 only
    assert(got("s10") == Seq((0L, 1L)), s"s10: ${got("s10")}")
  }

  test("degree accumulates ACROSS micro-batches") {
    val got = crossings(Seq((7L, 70L, t(10, 0))), Seq((7L, 71L, t(10, 5))))
    assert(got("c7").toSet == Set((0L, 1L), (1L, 2L)),
      s"second batch must continue from degree 1, not restart: ${got("c7")}")
  }

  test("keepalives: an active hub whose partner set stopped growing is NOT evicted and never restarts at degree 1") {
    val got = crossings(
      Seq((1L, 10L, t(9, 0))), // c1 degree 1
      Seq((1L, 10L, t(10, 0))), // RE-sighting: keepalive, no increment
      // watermark pusher with NO c1 data: wm -> 9:40, past c1's
      // pre-keepalive deadline (9:00 + 30 min) — without keepalives the
      // node state would time out here
      Seq((2L, 99L, t(10, 10))),
      Seq((1L, 11L, t(10, 20)))) // new partner: degree must be 2
    assert(got("c1") == Seq((0L, 1L), (1L, 2L)),
      s"a re-sighted hub must continue at degree 2, not restart: ${got("c1")}")
  }

  test("single-batch replay equals batch q144's profile on the real corpus") {
    assertTwin("degree_profile")
  }
}
