package graft.streaming

import graft.pipeline.{ApplianceSource, HttpSink, Model, Transform}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import java.nio.file.{Files, Paths}

/** Structured Streaming upgrade of the batch ETL pipeline (SURVEY.md §7.4):
  * the reference's bespoke spill/replay protocol (at-least-once with a
  * loss window, /root/reference/etl/main.go:311-340) is replaced by
  * checkpointed micro-batches + an idempotent foreachBatch sink =
  * effectively-once delivery to the HTTP endpoint.
  *
  * Mechanics: Spark's checkpoint guarantees each micro-batch is replayed
  * until committed; the sink keeps its own tiny commit log (one marker
  * file per delivered batchId, on what would be shared storage in a
  * cluster). A replayed already-committed batch is skipped, so a crash
  * between delivery and checkpoint does not double-send. The streaming
  * path never writes dead-letter spill files (checkpoint retry is the
  * durability mechanism; a spill copy would be redelivered by the retry
  * anyway and then double-delivered by any later Spill.replay). Within a
  * batch, partial redelivery can still duplicate — full exactly-once
  * needs a transactional sink, which a plain HTTP POST endpoint cannot
  * offer.
  */
object StreamingEtl {

  /** Wrap a CpuStats-shaped streaming frame with the standard transform
    * and the idempotent batched HTTP sink, triggered AvailableNow (drain
    * everything pending, then stop). Caller starts the query. */
  def writer(
      cpuStream: DataFrame,
      sink: HttpSink.Config,
      commitLogDir: String,
      loadPartitions: Int = 10): DataStreamWriter[Row] = {
    val device = Transform.toDeviceData(cpuStream)
    device.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deliverBatch(batch, batchId, sink, commitLogDir, loadPartitions)
      }
  }

  /** Idempotent per-micro-batch delivery. Visible for tests.
    *
    * Crash-mid-batch is the hard case the layout below exists for: if the
    * query dies AFTER some HTTP groups landed but BEFORE the commit
    * marker, checkpoint retry redelivers the whole micro-batch. Every
    * group therefore carries a DETERMINISTIC idempotency key
    * (`<stream>#b<batchId>#p<pid>#<group>@<size>`, HttpSink.writeKeyed),
    * and the frame is laid out deterministically — hash-partitioned on
    * the serialized row content and sorted within partitions — so the
    * retried delivery reproduces the exact same (key -> row extent)
    * mapping no matter how the source re-ordered the replayed rows. A
    * keyed endpoint then drops the already-received prefix: zero loss,
    * zero duplicates (proven end to end in StreamingSpec). */
  def deliverBatch(
      batch: DataFrame,
      batchId: Long,
      sink: HttpSink.Config,
      commitLogDir: String,
      loadPartitions: Int): Unit = {
    val marker = Paths.get(commitLogDir, s"batch-$batchId.committed")
    if (Files.exists(marker)) return // replay of an already-delivered batch
    val json = Transform.deviceDataJson(batch)
      .repartition(loadPartitions, org.apache.spark.sql.functions.col("json"))
      .sortWithinPartitions("json")
    // Key prefix ties to this stream's commit log (stable across restarts
    // of the same checkpoint, distinct between streams sharing a sink).
    val streamTag = Integer.toHexString(commitLogDir.hashCode)
    // writeKeyed never spills: in streaming the checkpoint retry IS the
    // durability mechanism. Spilling here would leave dead-letter copies
    // of records the retried micro-batch delivers anyway — a systematic
    // double-delivery path for any Spill.replay sharing this Config.
    val stats = HttpSink.writeKeyed(json, sink, keyPrefix = s"$streamTag#b$batchId")
    if (stats.spilledBatches > 0)
      throw new IllegalStateException(
        s"batch $batchId: ${stats.spilledBatches} groups undeliverable; failing the micro-batch for checkpoint retry")
    Files.createDirectories(marker.getParent)
    Files.write(marker, java.util.Arrays.asList(stats.sentRecords.toString))
  }

  /** Streaming twin of the batch pipeline's source+extract: watch a
    * directory for appliance CSV files (the reference's "run it again"
    * becomes file-arrival micro-batches), extract via projection, and
    * return the CpuStats-shaped stream ready for [[writer]]. */
  def csvSource(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      fixedTimestamp: Option[Long] = None): DataFrame = {
    val raw = spark.readStream
      .schema(Model.applianceSchema)
      .option("header", "false")
      .option("maxFilesPerTrigger", "10")
      .csv(dir)
      .where(ApplianceSource.valid)
    graft.pipeline.ProjectionExtractor(fixedTimestamp).extract(spark, raw)
  }

  /** Convenience: start against a checkpoint dir and await termination of
    * an AvailableNow run (batch-like drain of everything pending). */
  def runAvailable(
      cpuStream: DataFrame,
      sink: HttpSink.Config,
      checkpointDir: String,
      loadPartitions: Int = 10): StreamingQuery = {
    val q = writer(cpuStream, sink, s"$checkpointDir/sink-commits", loadPartitions)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q
  }
}
