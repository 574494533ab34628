package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.util.Try

/** Dead-letter spill + replay protocol (reference O15-O18,
  * /root/reference/etl/main.go:311-394).
  *
  * A spill file is one failed POST: a gzip stream holding exactly the
  * JSON array the sink could not deliver, named
  * `buffer_failed_worker<pid>_<key>.json.gz` after that POST's batch key
  * ([[HttpSink.batchKey]]) — the reference's format and name shape
  * (main.go:271,378-394), with the key where the reference has nothing.
  * A retried task that spills the same batch again replaces the file
  * under the same name instead of adding a second one.
  *
  * Replay is a deferred retry: it re-posts each file's bytes under the
  * key in its name, so an endpoint that already holds the batch (a retry
  * delivered it live) drops the copy by key. Files named before keys
  * (`buffer_failed_worker<pid>_<uuid>.json.gz`) and the reference's own
  * `buffer_failed_worker<pid>.json.gz` replay under their name stem.
  *
  * Divergence from the reference, on purpose (SURVEY.md §2.2): the
  * reference deletes a spill file right after re-*enqueueing* its records
  * (main.go:329-337), leaving a crash window that loses the batch. Here a
  * file is deleted only after its POST was acknowledged; a file is either
  * delivered whole or kept whole.
  *
  * On a cluster the spill dir would be shared storage (HDFS/S3); the
  * format is plain gzip JSON precisely so `spark.read.json` reads it with
  * no custom reader.
  */
object Spill {

  /** Spill one failed POST's body under its batch key. A file of the same
    * key is replaced atomically: replay never sees a half-written file. */
  def writeBatch(spillDir: String, workerId: Int, key: String, payload: Array[Byte]): File = {
    Files.createDirectories(Paths.get(spillDir))
    val tmp = new File(spillDir, s".tmp_${UUID.randomUUID()}")
    val out = new GZIPOutputStream(Files.newOutputStream(tmp.toPath))
    try out.write(payload)
    finally out.close()
    val dest = new File(spillDir, s"buffer_failed_worker${workerId}_$key.json.gz")
    Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    dest
  }

  def listSpillFiles(spillDir: String): Seq[File] = {
    val d = new File(spillDir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles((_, n) => n.startsWith("buffer_failed_worker") && n.endsWith(".json.gz")).toSeq
  }

  /** The batch key a spill file is replayed under: the name between
    * `buffer_failed_worker<pid>_` and `.json.gz`, or the whole stem when
    * the name has no key part (the reference's own files). */
  private[pipeline] def keyOf(fileName: String): String = {
    val stem = fileName.stripSuffix(".json.gz")
    "^buffer_failed_worker\\d+_(.+)$".r.findFirstMatchIn(stem).fold(stem)(_.group(1))
  }

  /** The spill-file read recipe behind [[readSpilled]] (schema + multiLine
    * gzip JSON).
    *
    * LOAD-BEARING FORMAT ASSUMPTION: a spill file is ONE JSON array, so
    * it must be read whole, in one task. multiLine JSON files are
    * unsplittable, which gives exactly that; a splittable recipe (e.g.
    * line-delimited JSON) would cut an array apart and read corrupt rows.
    * SpillRoundtripSpec's "each spill file occupies exactly one
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

  @transient private lazy val mapper = new ObjectMapper()

  /** Re-post every spill file, in one Spark job over the file list: each
    * file's gunzipped bytes go out as one POST under [[keyOf]] its name,
    * with the sink's retries, and are never re-spilled (the file stays the
    * one durable copy). The files whose POST was acknowledged are
    * deleted; a file that fails, or does not hold a JSON array, is kept
    * whole for the next round. Returns (replayedRecords, deletedFiles),
    * the records counted as the delivered arrays' sizes. */
  def replay(spark: SparkSession, cfg: HttpSink.Config): (Long, Int) = {
    val files = listSpillFiles(cfg.spillDir).map(_.getPath)
    if (files.isEmpty) return (0L, 0)
    val sc = spark.sparkContext
    val delivered = sc.parallelize(files, math.min(files.size, sc.defaultParallelism)).flatMap { path =>
      val file = new File(path)
      val sent = Try {
        val in = new GZIPInputStream(Files.newInputStream(file.toPath))
        val body = try in.readAllBytes() finally in.close()
        val records = mapper.readTree(body)
        require(records.isArray, "not a JSON array")
        HttpSink.postWithRetry(cfg, body, keyOf(file.getName)).map(_ => records.size.toLong)
      }.fold(e => Left(e.toString), identity)
      sent.left.foreach(err => System.err.println(s"[replay] ${file.getName} kept ($err)"))
      sent.toOption.map(path -> _)
    }.collect()
    (delivered.map(_._2).sum, delivered.count { case (p, _) => Files.deleteIfExists(Paths.get(p)) })
  }
}
