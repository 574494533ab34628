package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end ETL pipeline (reference lifecycle, SURVEY.md §3.1) as one
  * declarative Spark job:
  *
  *   csv scan -> [replay union] -> extract -> transform ->
  *   repartition(loadPartitions) -> batched HTTP sink (spill on failure)
  *
  * The reference hand-rolls steps the planner owns here: goroutine
  * fan-out becomes task parallelism + AsyncMap, channel routing becomes a
  * single round-robin repartition (the pipeline's one shuffle,
  * main.go:143-145), per-worker buffers become `grouped(batchSize)` in
  * the sink, and the bounded-channel backpressure is Spark's pull-based
  * iterators. Replay happens *before* the live run and through the same
  * sink (fixing the reference's enqueue-then-delete loss window).
  */
final case class EtlConfig(
    csvPath: String,
    sink: HttpSink.Config,
    extractor: Extractor = ProjectionExtractor(),
    loadPartitions: Int = 10,
    lenientCast: Boolean = true,
    // Counting rejects is an extra scan job; the reference only logs them
    // as it goes (main.go:415-417). Off for latency-critical runs.
    countRejected: Boolean = true)

final case class EtlRunStats(
    inputRows: Long,
    rejectedRows: Long,
    replayedRecords: Long,
    replayedFilesDeleted: Int,
    sink: HttpSink.Stats,
    wallMillis: Long,
    replayMillis: Long = 0,
    rejectScanMillis: Long = 0,
    mainJobMillis: Long = 0)

class EtlPipeline(spark: SparkSession, cfg: EtlConfig) {

  /** The transformed DeviceData frame (pre-sink) — exposed for tests and
    * for relational use of the pipeline's output.
    *
    * The pipeline's one exchange sits *before* extract, not after: the
    * reference routes post-extract through channels (main.go:143-145), but
    * repartitioning the thin appliance rows and fusing
    * extract->transform->sink into a single stage (i) shuffles bytes of
    * (ip,hostname) instead of fat DeviceData, and (ii) lets loading
    * overlap extraction exactly like the reference's channel pipelining —
    * a post-extract shuffle would be a stage barrier that serializes the
    * 24 s extract and the sink flushes. */
  def deviceData(): (DataFrame, DataFrame) = {
    val src = ApplianceSource.read(spark, cfg.csvPath)
    // round-robin routing, like the reference's index % workers (O9)
    val routed = src.ok.repartition(cfg.loadPartitions)
    val cpu = cfg.extractor.extract(spark, routed)
    (Transform.toDeviceData(cpu, cfg.lenientCast), src.rejected)
  }

  /** Typed boundary (SURVEY.md §1.4): the transformed output as
    * Dataset[DeviceData]. */
  def deviceDataset(): org.apache.spark.sql.Dataset[DeviceData] = {
    import spark.implicits._
    deviceData()._1.as[DeviceData]
  }

  def run(): EtlRunStats = {
    val t0 = System.nanoTime()

    // Startup recovery first, like the reference (main.go:107) — but
    // delivered through the sink, not re-enqueued (no loss window).
    val (replayed, deleted) = Spill.replay(spark, cfg.sink)
    val t1 = System.nanoTime()

    val (device, rejected) = deviceData()
    val rejectedRows = if (cfg.countRejected) rejected.count() else -1L
    val t2 = System.nanoTime()

    val json = Transform.deviceDataJson(device)
    val stats = HttpSink.write(json, cfg.sink)
    val t3 = System.nanoTime()

    EtlRunStats(
      inputRows = stats.sentRecords + stats.spilledRecords,
      rejectedRows = rejectedRows,
      replayedRecords = replayed,
      replayedFilesDeleted = deleted,
      sink = stats,
      wallMillis = (t3 - t0) / 1000000L,
      replayMillis = (t1 - t0) / 1000000L,
      rejectScanMillis = (t2 - t1) / 1000000L,
      mainJobMillis = (t3 - t2) / 1000000L)
  }
}
