package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The reject count and the delivery stay exact when a load task fails
  * and is retried: RejectRetryProbe runs the pipeline in its own
  * `local[2,2]` JVM with one load partition failing its first attempt —
  * after it has counted reject markers but before it posts a batch, or
  * after it has posted or spilled its first batch. */
class RejectRetrySpec extends AnyFunSuite {

  /** One probe JVM for the modes that fail after the first POST: the
    * metric line of each mode. */
  private lazy val afterPost: Map[String, String] = {
    val probe = graft.ForkedJvm.start("graft.pipeline.RejectRetryProbe",
      Files.createTempDirectory("graft-retry-after-post").toString,
      "after-post", "spill-twice", "spill-then-post", "latency")
    assert(probe.await(300), "probe timed out")
    val out = probe.output
    assert(probe.exitValue == 0, s"probe failed:\n${out.takeRight(3000)}")
    out.linesIterator.filter(_.contains("\"metric\":\"reject_retry\"")).map { l =>
      "\"mode\":\"([a-z-]+)\"".r.findFirstMatchIn(l).get.group(1) -> l
    }.toMap
  }

  private def run(mode: String): String => Long = {
    val line = afterPost.getOrElse(mode, fail(s"no metric line for $mode: $afterPost"))
    k => s""""$k":(\\d+)""".r.findFirstMatchIn(line).getOrElse(fail(s"no $k in $line")).group(1).toLong
  }

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

  test("task retry after a POST: the retried batch is dropped by its key, every record stored once") {
    val field = run("after-post")
    assert(field("failed_tasks") >= 1)
    assert(field("received") == 400 && field("distinct") == 400)
    assert(field("duplicates") >= 1, "the retry re-posted its first batch under a new key")
    assert(field("sent") == 400 && field("spilled") == 0 && field("spill_files") == 0)
  }

  test("task retry after a spill: both attempts leave one file for the batch key, replayed once") {
    val field = run("spill-twice")
    assert(field("failed_tasks") >= 1)
    assert(field("files_at_failure") == 1, "attempt 0 did not spill before it failed")
    assert(field("spilled") == 50, "attempt 1 did not spill the batch")
    assert(field("spill_files") == 1, "the two attempts left more than one file")
    assert(afterPost("spill-twice").contains("\"spill_names\":[\"buffer_failed_worker1_"))
    assert(field("spill_keys_live") == 0 && field("spill_keys_stored") == 1, "the replay used another key")
    assert(field("replayed") == 50 && field("replay_deleted") == 1)
    assert(field("received") == 400 && field("distinct") == 400 && field("left") == 0)
  }

  test("task retry posts a spilled batch live: the later replay is dropped by its key") {
    val field = run("spill-then-post")
    assert(field("failed_tasks") >= 1)
    assert(field("files_at_failure") == 1, "attempt 0 did not spill before it failed")
    assert(field("spilled") == 0 && field("sent") == 400)
    assert(field("spill_files") == 1)
    assert(field("spill_keys_live") == 1, "the live POST and the spill file have different keys")
    assert(field("duplicates") == field("duplicates_before_replay") + 1)
    assert(field("replay_deleted") == 1 && field("left") == 0)
    assert(field("received") == 400 && field("distinct") == 400)
  }

  test("task retry on the completion-order extract path loses no valid record") {
    val field = run("latency")
    assert(field("failed_tasks") >= 1)
    assert(field("distinct") == 400, "a valid record was lost")
    assert(field("received") >= 400 && field("left") == 0)
  }
}
