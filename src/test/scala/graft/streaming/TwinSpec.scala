package graft.streaming

import graft.SparkSpec

/** A spec over the streaming twins' single definitions in StreamTwins. */
trait TwinSpec extends SparkSpec {

  /** Runs twin `name` on sf0.001 and asserts its parity, with the twin's
    * diff as the message, and that the watermark dropped no row. */
  def assertTwin(name: String, disorder: Option[Long] = None): StreamTwins.Outcome = {
    val o = StreamTwins(name).run(spark, sf0001, disorder)
    assert(o.parity, s"$name: ${o.diff}")
    assert(o.droppedByWatermark == 0, s"$name: ${o.diff}")
    o
  }
}
