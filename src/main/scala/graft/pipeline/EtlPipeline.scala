package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end ETL pipeline (reference lifecycle, SURVEY.md §3.1) as one
  * declarative Spark job that reads the CSV once:
  *
  *   csv scan -> route by position (loadPartitions) -> extract ->
  *   transform -> batched HTTP sink (spill on failure, count rejects)
  *
  * The reference hand-rolls steps the planner owns here: goroutine
  * fan-out becomes task parallelism + AsyncMap, per-worker buffers become
  * `grouped(batchSize)` in the sink, and the bounded-channel backpressure
  * is Spark's pull-based iterators. Replay happens *before* the live run
  * and re-posts each spilled batch under its key (fixing the reference's
  * enqueue-then-delete loss window). Each run draws one batch-key tag on
  * the driver ([[HttpSink.batchKey]]): a retried load task re-posts its
  * batches under the same keys, and a deliberate re-run under new ones.
  *
  * Routing (the pipeline's one exchange, main.go:143-145) sends row i of
  * an input split to load partition `pmod(monotonically_increasing_id, n)`
  * with `repartitionById`: like the reference's index % workers (O9) and
  * like round-robin, each split spreads its rows over the partitions
  * within ±1 row, but with no hash and no pre-sort. Round-robin needs
  * Spark's local sort before the exchange because its input order may
  * change on a retry; here the exchange reads the file scan directly, a
  * split's row order is stable, and so each row's id and partition are
  * the same on every attempt. Spark reports the shuffle's input
  * DETERMINATE and its output UNORDERED, exactly as for the sorted
  * round-robin.
  *
  * Malformed rows (a null `ip` or `hostname`) travel through the same
  * exchange as reject markers: the extractor makes no call for them
  * ([[Extractor]]'s marker contract), their JSON is null, and the sink
  * counts and skips them. The count is taken action-side, in the sink's
  * result tasks, because Spark applies one successful attempt's
  * accumulator updates per result partition; an accumulator updated in a
  * transformation or a map stage could count a retried task twice.
  */
final case class EtlConfig(
    csvPath: String,
    sink: HttpSink.Config,
    extractor: Extractor = ProjectionExtractor(),
    loadPartitions: Int = 10)

final case class EtlRunStats(
    inputRows: Long,
    rejectedRows: Long,
    replayedRecords: Long,
    replayedFilesDeleted: Int,
    sink: HttpSink.Stats,
    wallMillis: Long,
    replayMillis: Long = 0,
    mainJobMillis: Long = 0)

class EtlPipeline(spark: SparkSession, cfg: EtlConfig) {

  /** Every CSV row, reject markers included, routed, extracted and
    * transformed; a marker's `name` is null.
    *
    * The pipeline's one exchange sits *before* extract, not after: the
    * reference routes post-extract through channels (main.go:143-145), but
    * repartitioning the thin appliance rows and fusing
    * extract->transform->sink into a single stage (i) shuffles bytes of
    * (ip,hostname) instead of fat DeviceData, and (ii) lets loading
    * overlap extraction exactly like the reference's channel pipelining —
    * a post-extract shuffle would be a stage barrier that serializes the
    * 24 s extract and the sink flushes. */
  private def loadRows(): DataFrame = {
    val n = cfg.loadPartitions
    val routed = ApplianceSource.scan(spark, cfg.csvPath)
      .repartitionById(n, pmod(monotonically_increasing_id(), lit(n.toLong)).cast("int"))
    Transform.toDeviceData(cfg.extractor.extract(spark, routed))
  }

  /** The transformed DeviceData frame (pre-sink, no reject markers) —
    * exposed for tests and for relational use of the pipeline's output. */
  def deviceData(): DataFrame = loadRows().where(col("name").isNotNull)

  /** Typed boundary (SURVEY.md §1.4): the transformed output as
    * Dataset[DeviceData]. */
  def deviceDataset(): Dataset[DeviceData] = {
    import spark.implicits._
    deviceData().as[DeviceData]
  }

  def run(): EtlRunStats = {
    val t0 = System.nanoTime()

    // Startup recovery first, like the reference (main.go:107) — but
    // delivered through the sink, not re-enqueued (no loss window).
    val (replayed, deleted) = Spill.replay(spark, cfg.sink)
    val t1 = System.nanoTime()

    val stats = HttpSink.write(Transform.deviceDataJson(loadRows()), cfg.sink,
      tag = java.util.UUID.randomUUID().toString, spill = true)
    val t2 = System.nanoTime()

    EtlRunStats(
      inputRows = stats.sentRecords + stats.spilledRecords,
      rejectedRows = stats.rejectedRows,
      replayedRecords = replayed,
      replayedFilesDeleted = deleted,
      sink = stats,
      wallMillis = (t2 - t0) / 1000000L,
      replayMillis = (t1 - t0) / 1000000L,
      mainJobMillis = (t2 - t1) / 1000000L)
  }
}
