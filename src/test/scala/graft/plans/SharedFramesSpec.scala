package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD

/** SharedFrames lifecycle around LOCALLY CHECKPOINTED entries (r13
  * advice): q180's kcore rounds register `df.localCheckpoint()` frames,
  * whose checkpointed RDDs must survive the dead-checkpoint sweep
  * for as long as the entry is live — dropping them truncates lineage
  * and a later cache miss dies with "checkpoint block not found".
  * liveRddIds is the protection contract sweepDeadCheckpoints consumes. */
class SharedFramesSpec extends SparkSpec {

  private def planRddIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet

  test("liveRddIds protects a registered localCheckpoint through the sweep") {
    import spark.implicits._
    val name = "sharedframes_spec_live"
    val ck = (1L to 500L).toDF("id").localCheckpoint()
    val ckIds = planRddIds(ck)
    assert(ckIds.nonEmpty, "premise: a localCheckpoint plan is a LogicalRDD")
    val shared = SharedFrames(spark, "sfspec-dir", name)(ck)
    assert(shared.count() == 500L)
    try {
      val live = SharedFrames.liveRddIds(spark)
      assert(ckIds.subsetOf(live),
        s"live entry's checkpoint RDD ids $ckIds missing from $live")
      // The sweep unpersists every checkpointed RDD NOT backing a live
      // entry. The registered frame must stay readable afterwards even
      // when its persist layer is dropped (the cache-miss path the r13
      // advice flagged).
      SharedFrames.sweepDeadCheckpoints(spark)
      shared.unpersist(blocking = true) // force the cache miss
      assert(shared.count() == 500L,
        "sweep must not truncate a live entry's checkpoint lineage")
    } finally SharedFrames.clear(spark)
    assert(SharedFrames.liveRddIds(spark).intersect(ckIds).isEmpty,
      "cleared entries must release their RDD ids to the sweep")
  }
}
