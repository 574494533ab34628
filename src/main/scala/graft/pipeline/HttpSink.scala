package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Batched, authenticated HTTP JSON sink — the reference's load stage
  * (O11-O15, /root/reference/etl/main.go:240-305) as a `foreachPartition`
  * sink. The one genuinely custom physical component (SURVEY.md §4.2).
  *
  * Contract matched to the reference client (main.go:283-305):
  * `Authorization: Bearer <token>`, `Content-Type: application/json`,
  * configurable timeout, success = 2xx. Each partition streams its rows
  * in `batchSize` groups (count-based micro-batching, main.go:250) and
  * POSTs one JSON array per group; a failed batch is spilled to the
  * gzip-JSON dead-letter dir ([[Spill]]) instead of lost. A null row is a
  * reject marker ([[Extractor]]): it is counted and never posted.
  *
  * Scale notes: one shared HttpClient per executor JVM (never per row);
  * sink parallelism = partition count of the input, decoupled from
  * shuffle partitions via `EtlPipeline`'s repartition; payloads are built
  * from pre-serialized JSON strings so the sink does zero row encoding.
  */
object HttpSink {

  final case class Config(
      url: String,
      authToken: String,
      batchSize: Int = 200,
      timeout: Duration = Duration.ofSeconds(15),
      spillDir: String = "spill",
      // Transient-failure retries before a batch spills (the reference
      // spills immediately, main.go:268-271; retries cut spill volume for
      // blips while the dead-letter path still catches real outages).
      maxRetries: Int = 0,
      retryBackoffMillis: Long = 200)

  final case class Stats(
      sentBatches: Long, sentRecords: Long, spilledBatches: Long, spilledRecords: Long,
      rejectedRows: Long)

  // One client per JVM: HttpClient is thread-safe and holds the
  // connection pool; per-partition construction would leak sockets.
  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  /** One POST attempt per retry budget; exponential backoff between.
    *
    * Every attempt shares ONE idempotency key, so a batch the endpoint
    * received but failed to acknowledge is droppable server-side on the
    * retry. The default key is a fresh UUID per *delivery* (a deliberate
    * re-run of the same input must not be deduped as a duplicate); pass
    * `key` to widen the scope — Spill.replay keys each batch by
    * `<spillFile>#<batchIndex>` so replay ROUNDS of the same file share
    * keys and a partially-replayed file cannot double-deliver. */
  def postBatchWithRetry(
      cfg: Config, jsonRows: Seq[String], key: Option[String] = None): Either[String, Unit] = {
    val k = key.getOrElse(java.util.UUID.randomUUID().toString)
    var attempt = 0
    var last: Either[String, Unit] = Left("unattempted")
    while (attempt <= cfg.maxRetries) {
      last = postBatch(cfg, jsonRows, k)
      if (last.isRight) return last
      attempt += 1
      if (attempt <= cfg.maxRetries)
        Thread.sleep(cfg.retryBackoffMillis * (1L << math.min(attempt - 1, 6)))
    }
    last
  }

  def postBatch(
      cfg: Config, jsonRows: Seq[String],
      idempotencyKey: String = java.util.UUID.randomUUID().toString): Either[String, Unit] = {
    val payload = jsonRows.mkString("[", ",", "]")
    try {
      val req = HttpRequest.newBuilder(URI.create(cfg.url))
        .timeout(cfg.timeout)
        .header("Content-Type", "application/json")
        .header("Authorization", s"Bearer ${cfg.authToken}")
        .header("X-Idempotency-Key", idempotencyKey)
        .POST(HttpRequest.BodyPublishers.ofString(payload))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 200 && resp.statusCode() < 300) Right(())
      else Left(s"status ${resp.statusCode()}: ${resp.body().take(200)}")
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Sink a frame of wire-format rows (single string column `json`, see
    * Transform.deviceDataJson). Returns per-run delivery stats.
    *
    * `spillOnFailure=false` is the replay mode: a failed batch is only
    * counted, never re-spilled — the original dead-letter files stay the
    * single durable copy, so repeated failed replays cannot duplicate
    * records in the spill dir. */
  def write(json: DataFrame, cfg: Config, spillOnFailure: Boolean = true): Stats =
    writeInternal(json, cfg, spillOnFailure, keyFor = None)

  /** Keyed write for RETRIED deliveries (the streaming micro-batch path):
    * every POST carries the deterministic idempotency key
    * `<keyPrefix>#p<pid>#<groupIdx>@<batchSize>#<contentMd5>`, stable
    * across re-runs of the same delivery, so a keyed endpoint drops the
    * already-received prefix of a crashed-mid-way delivery instead of
    * storing it twice.
    *
    * The content hash is load-bearing: without it the key identifies only
    * a POSITION, and two different payloads could alias — a checkpoint
    * wipe that restarts batchIds at 0 against an endpoint whose key store
    * persists (corrected-feed reprocessing) would have its new rows ACKed
    * as duplicates and silently dropped. With it, aliasing requires the
    * same position AND the same bytes, in which case dedup is the desired
    * outcome.
    *
    * The caller MUST hand over a frame with a DETERMINISTIC partition
    * layout (content-hash partitioning + sortWithinPartitions — see
    * StreamingEtl.deliverBatch); under a nondeterministic layout the same
    * key would cover a different row extent on retry and a keyed sink
    * would drop undelivered rows (same contract as Spill.replay's
    * `<file>#<batchIdx>` keys). Never spills: the retry of the whole
    * delivery is the durability mechanism.
    *
    * KEY-FORMAT STABILITY: the key string (including the md5 framing) is
    * a wire contract with the endpoint's dedup store. Changing it while a
    * crashed delivery is pending redelivery makes the retried batches
    * look new to the endpoint (one-time duplicates). Drain or fully
    * deliver in-flight streams before deploying a key-format change. */
  def writeKeyed(json: DataFrame, cfg: Config, keyPrefix: String): Stats =
    writeInternal(json, cfg, spillOnFailure = false,
      keyFor = Some((pid: Int, group: Long, batch: Seq[String]) =>
        s"$keyPrefix#p$pid#$group@${cfg.batchSize}#${contentMd5(batch)}"))

  private def contentMd5(batch: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    batch.foreach { s =>
      val b = s.getBytes("UTF-8")
      // length framing: without it ["ab","c"] and ["a","bc"] — different
      // payloads — would hash (and therefore key) identically
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def writeInternal(
      json: DataFrame, cfg: Config, spillOnFailure: Boolean,
      keyFor: Option[(Int, Long, Seq[String]) => String]): Stats = {
    val spark = json.sparkSession
    val sentB = spark.sparkContext.longAccumulator("sink.sentBatches")
    val sentR = spark.sparkContext.longAccumulator("sink.sentRecords")
    val spillB = spark.sparkContext.longAccumulator("sink.spilledBatches")
    val spillR = spark.sparkContext.longAccumulator("sink.spilledRecords")
    val rejected = spark.sparkContext.longAccumulator("sink.rejectedRows")
    writeWith(json, cfg, spillOnFailure, keyFor, sentB, sentR, spillB, spillR, rejected)
    Stats(sentB.value, sentR.value, spillB.value, spillR.value, rejected.value)
  }

  /** The accumulators are updated in result tasks only, where Spark
    * applies the updates of one successful attempt per partition and drops
    * those of failed attempts: every count is exact under task retry. */
  private def writeWith(
      json: DataFrame, cfg: Config, spillOnFailure: Boolean,
      keyFor: Option[(Int, Long, Seq[String]) => String],
      sentB: LongAccumulator, sentR: LongAccumulator,
      spillB: LongAccumulator, spillR: LongAccumulator, rejected: LongAccumulator): Unit = {
    json.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
      var groupIdx = -1L
      val wire = rows.map(_.getString(0)).filter { j =>
        if (j == null) rejected.add(1)
        j != null
      }
      wire.grouped(cfg.batchSize).foreach { batch =>
        groupIdx += 1
        postBatchWithRetry(cfg, batch, keyFor.map(f => f(pid, groupIdx, batch))) match {
          case Right(_) =>
            sentB.add(1); sentR.add(batch.size)
          case Left(err) =>
            if (spillOnFailure) Spill.writeBatch(cfg.spillDir, pid, batch)
            spillB.add(1); spillR.add(batch.size)
            System.err.println(s"[sink] worker $pid: batch of ${batch.size} failed ($err)" +
              (if (spillOnFailure) "; spilled" else "; kept in original spill files"))
        }
      }
    }
  }
}
