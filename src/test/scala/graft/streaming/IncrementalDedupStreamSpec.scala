package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** IncrementalDedupStream: stream-static probe of the published corpus
  * index — all three verdict tiers across micro-batches, election
  * parity with batch q75 on the same data, the single-stateful-operator
  * bound, and watermark-driven emission/eviction. */
class IncrementalDedupStreamSpec extends TwinSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again today"
  private val docB = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  private val docC = "completely different content about spark query engines and shuffles here"

  private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def corpusIndex = IncrementalDedupStream.indexCorpus(
    Seq((10L, docA), (11L, docA), (12L, docC), (13L, "xy zz"))
      .toDF("doc_id", "text"))

  test("all three tiers across micro-batches; emission only after the watermark closes") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = IncrementalDedupStream.verdicts(
      ms.toDF().toDF("doc_id", "ts", "text"), corpusIndex, watermark = "5 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("incdedup_out").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: one arrival per tier (exact copy, near dup, novel text)
      ms.addData((100L, t(10, 0), docA), (101L, t(10, 1), docB),
        (102L, t(10, 2), "totally novel text about stream static probes and deltas"))
      q.processAllAvailable()
      // append mode: nothing can emit while the watermark sits below ts
      assert(spark.table("incdedup_out").isEmpty,
        "verdicts emitted before the watermark closed")
      // batch 2: shingle-less arrival + a watermark push past batch 1
      ms.addData((103L, t(10, 30), "two tokens"))
      q.processAllAvailable()
      val b1 = spark.table("incdedup_out")
        .select("doc_id", "verdict", "matched_id", "match_jac")
        .as[(Long, String, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(b1.keySet == Set(100L, 101L, 102L),
        s"batch-1 arrivals should close, 103 still in flight: ${b1.keySet}")
      assert(b1(100L) == (("exact_dup", Some(10L), Some(1.0))),
        s"exact tier (canonical = min corpus id 10, not 11): ${b1(100L)}")
      assert(b1(101L)._1 == "near_dup" && b1(101L)._2.contains(10L),
        s"near tier must elect the min-id max-jac corpus doc: ${b1(101L)}")
      assert(b1(101L)._3.exists(j => j >= 0.5 && j < 1.0), s"near jac: ${b1(101L)}")
      assert(b1(102L) == (("keep", None, None)), s"keep tier: ${b1(102L)}")
      // single stateful operator, state bounded by in-flight arrivals
      assert(q.lastProgress.stateOperators.length == 1,
        "exactly one stateful operator (the election aggregate)")
      // close batch 2 and check the shingle-less arrival + eviction
      ms.addData((104L, t(11, 0), docC))
      q.processAllAvailable()
      val all = spark.table("incdedup_out")
        .select("doc_id", "verdict", "matched_id", "match_jac")
        .as[(Long, String, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(all(103L) == (("keep", None, None)),
        s"shingle-less arrival must keep, not vanish: ${all.get(103L)}")
      val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed >= 3, s"closed arrivals must evict from state, removed=$removed")
    } finally q.stop()
  }

  test("stream verdicts EQUAL batch q75's incrementalDedup on the same corpus/delta") {
    assertTwin("incremental_dedup")
  }
}
