package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The reject count and the delivery stay exact when a load task fails
  * and is retried: RejectRetryProbe runs the pipeline in its own
  * `local[2,2]` JVM with one load partition failing its first attempt
  * after it has counted reject markers but before it posts a batch. */
class RejectRetrySpec extends AnyFunSuite {

  test("task retry: reject count exact, every valid record delivered exactly once") {
    val probe = graft.ForkedJvm.start(
      "graft.pipeline.RejectRetryProbe", Files.createTempDirectory("graft-reject-retry").toString)
    assert(probe.await(180), "probe timed out")
    val out = probe.output
    assert(probe.exitValue == 0, s"probe failed:\n${out.takeRight(3000)}")
    val line = out.linesIterator.find(_.contains("\"metric\":\"reject_retry\""))
      .getOrElse(fail(s"no metric line:\n${out.takeRight(3000)}"))
    def field(k: String): Long = s""""$k":(\\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    assert(field("failed_tasks") >= 1, s"the injected failure did not happen: $line")
    assert(field("planted") == 18, line)
    assert(field("rejected") == field("planted"), line)
    assert(field("received") == field("valid"), line)
    assert(field("distinct") == field("valid"), line)
    assert(field("spilled") == 0, line)
  }
}
