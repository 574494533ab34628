package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.zip.GZIPOutputStream

/** Dead-letter spill + replay protocol (reference O15-O18,
  * /root/reference/etl/main.go:311-394).
  *
  * Spill files are gzip streams holding one JSON array of DeviceData wire
  * rows, named `buffer_failed_worker<pid>_<uuid>.json.gz` — same format
  * and name shape as the reference (main.go:271,378-394), with a uuid so
  * concurrent workers never collide.
  *
  * Divergence from the reference, on purpose (SURVEY.md §2.2): the
  * reference deletes a spill file right after re-*enqueueing* its records
  * (main.go:329-337), leaving a crash window that loses the batch. Here
  * replay delivers through the same sink loop as a live load and deletes
  * a file only after every one of its rows was re-*delivered* —
  * at-least-once with no loss window (a keyed endpoint drops the
  * already-delivered batches of a partially-replayed file, an unkeyed
  * one may store them twice; exactly-once is the streaming upgrade in
  * graft.streaming).
  *
  * On a cluster the spill dir would be shared storage (HDFS/S3); the
  * format is plain gzip JSON precisely so `spark.read.json` replays it
  * with no custom reader.
  */
object Spill {

  def writeBatch(spillDir: String, workerId: Int, jsonRows: Seq[String]): File =
    writeBatch(spillDir, workerId, HttpSink.payload(jsonRows.map(_.getBytes("UTF-8"))))

  /** Spill one batch's body, the JSON array the sink failed to post. */
  def writeBatch(spillDir: String, workerId: Int, payload: Array[Byte]): File = {
    Files.createDirectories(Paths.get(spillDir))
    val tmp = new File(spillDir, s".tmp_${UUID.randomUUID()}")
    val out = new GZIPOutputStream(Files.newOutputStream(tmp.toPath))
    try out.write(payload)
    finally out.close()
    // atomic publish so replay never sees a half-written file
    val dest = new File(spillDir, s"buffer_failed_worker${workerId}_${UUID.randomUUID()}.json.gz")
    Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    dest
  }

  def listSpillFiles(spillDir: String): Seq[File] = {
    val d = new File(spillDir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles((_, n) => n.startsWith("buffer_failed_worker") && n.endsWith(".json.gz")).toSeq
  }

  /** The one spill-file read recipe (schema + multiLine gzip JSON) —
    * readSpilled and replay both go through here so the format cannot
    * drift between them.
    *
    * LOAD-BEARING FORMAT ASSUMPTION: replay's idempotency key
    * `<file>#<batchIdx>@<batchSize>` is stable across replay rounds ONLY
    * because multiLine JSON files are unsplittable — each file is read
    * whole, in one task, with stable intra-file row order, so batch index
    * i always covers the same row extent. Switching this recipe to a
    * splittable format (e.g. line-delimited JSON) would alias keys over
    * different extents and a keyed sink would silently drop undelivered
    * tail rows. SpillRoundtripSpec's "each spill file occupies exactly one
    * partition" test breaks loudly if this recipe ever changes.
    * (package-visible so that test exercises the real recipe) */
  private[pipeline] def readRaw(spark: SparkSession, files: Seq[File]): DataFrame =
    spark.read
      .schema(Model.deviceDataSchema)
      .option("multiLine", "true")
      .json(files.map(_.getPath): _*)

  /** Read all spill files back as a DeviceData frame. gzip is transparent
    * to Spark's JSON source; multiLine handles the array-per-file shape.
    * The original worker id is recovered from the filename (reference O18,
    * main.go:361-372 — malformed names route to 0 there; here they cannot
    * occur but the same regexp+coalesce guard applies). */
  def readSpilled(spark: SparkSession, spillDir: String): DataFrame = {
    val files = listSpillFiles(spillDir)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Model.deviceDataSchema)
        .withColumn("worker_id", lit(0))
    else
      readRaw(spark, files)
        .withColumn("worker_id",
          coalesce(
            nullif(regexp_extract(input_file_name(), "worker(\\d+)", 1), lit("")).cast("int"),
            lit(0)))
  }

  /** Replay through the sink's one delivery loop ([[HttpSink.deliver]])
    * with each spill file as a segment: a file's rows go out as their own
    * batches, and the file is deleted as soon as ITS rows are all
    * delivered — one still-failing file does not pin the delivered ones
    * into the next replay round.
    *
    * Replay batches are keyed `<spillFile>#<batchIndex>@<batchSize>`,
    * stable across replay rounds, so a keyed sink drops the second copy of
    * the delivered part of a partially-replayed file. batchSize is in the
    * key because under another batch size the same index covers a
    * DIFFERENT row extent, and deduping it would silently drop tail rows.
    * Failed batches are NOT re-spilled (the original files remain the
    * single durable copy). One distributed job regardless of file count —
    * multiLine JSON reads each gzip file whole in one task, so a file's
    * rows are always consecutive within a partition. Returns
    * (replayedRecords, deletedFiles). */
  def replay(spark: SparkSession, cfg: HttpSink.Config): (Long, Int) = {
    val files = listSpillFiles(cfg.spillDir)
    if (files.isEmpty) return (0L, 0)
    val json = Transform.deviceDataJson(readRaw(spark, files))
      .withColumn("segment", input_file_name())
    val (stats, delivered) = HttpSink.deliver(json, cfg, spill = false)((_, file, i, _) =>
      s"${baseName(file)}#$i@${cfg.batchSize}")
    // file paths come back as URIs; match on the (uuid-unique) basename
    val okNames = delivered.map(baseName)
    val deleted = files.count(f => okNames(f.getName) && Files.deleteIfExists(f.toPath))
    (stats.sentRecords, deleted)
  }

  private def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)
}
