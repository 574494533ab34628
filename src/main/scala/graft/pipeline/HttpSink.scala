package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.Platform

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
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
  * One batch key for every delivery ([[batchKey]]): batch i of partition
  * p goes out as `X-Idempotency-Key: <tag>_p<p>_<i>_<batchSize>_<hash>`,
  * where the hash is 128 bits of the posted body. The load draws its tag
  * once per run, so a deliberate re-run is never deduped; a stream uses
  * its own tag plus the micro-batch id. A retried task that yields the
  * same rows in the same order rebuilds the same keys, so a keyed endpoint
  * drops what the failed attempt already posted, and a spill file, named
  * after its key, is replaced rather than doubled; [[Spill.replay]]
  * re-sends a spilled body under its key. This holds on the
  * [[ProjectionExtractor]] path, whose exchange is DETERMINATE. The
  * [[AsyncMap]] extractors emit rows in completion order, so a retried
  * batch there hashes differently: no record is lost, but one may be
  * stored twice.
  *
  * Scale notes: one shared HttpClient per executor JVM (never per row);
  * sink parallelism = partition count of the input, decoupled from
  * shuffle partitions via `EtlPipeline`'s repartition; each batch's body
  * is built once from the rows' UTF-8 bytes, and the same bytes are
  * posted, hashed into the batch key and spilled.
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
    * Every attempt shares ONE idempotency key, so a batch the endpoint
    * received but failed to acknowledge is droppable server-side on the
    * retry. */
  private[pipeline] def postWithRetry(cfg: Config, body: Array[Byte], key: String): Either[String, Unit] = {
    var attempt = 0
    var last: Either[String, Unit] = Left("unattempted")
    while (attempt <= cfg.maxRetries) {
      last = post(cfg, body, key)
      if (last.isRight) return last
      attempt += 1
      if (attempt <= cfg.maxRetries)
        Thread.sleep(cfg.retryBackoffMillis * (1L << math.min(attempt - 1, 6)))
    }
    last
  }

  /** The JSON array of a batch of wire rows, as UTF-8 bytes: `[`, the
    * rows joined by `,`, `]`. The sink posts it, [[Spill]] writes it. */
  private[pipeline] def payload(rows: Seq[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](rows.iterator.map(_.length + 1).sum + 1)
    out(0) = '['
    var at = 1
    rows.foreach { r =>
      if (at > 1) { out(at) = ','; at += 1 }
      System.arraycopy(r, 0, out, at, r.length)
      at += r.length
    }
    out(at) = ']'
    out
  }

  /** One POST of one batch, outside any delivery: perfbench times the
    * sink's wire cost with it. No pipeline path calls it; they all key
    * through [[write]]. */
  def postBatch(
      cfg: Config, jsonRows: Seq[String],
      idempotencyKey: String = java.util.UUID.randomUUID().toString): Either[String, Unit] =
    post(cfg, payload(jsonRows.map(_.getBytes(UTF_8))), idempotencyKey)

  private def post(cfg: Config, body: Array[Byte], idempotencyKey: String): Either[String, Unit] =
    try {
      val req = HttpRequest.newBuilder(URI.create(cfg.url))
        .timeout(cfg.timeout)
        .header("Content-Type", "application/json")
        .header("Authorization", s"Bearer ${cfg.authToken}")
        .header("X-Idempotency-Key", idempotencyKey)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 200 && resp.statusCode() < 300) Right(())
      else Left(s"status ${resp.statusCode()}: ${resp.body().take(200)}")
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** The one batch key: `<tag>_p<pid>_<i>_<size>_<hash>`, the hash two
    * seeded XXH64s of the body (128 bits; a guard against accidental
    * aliasing, not against an adversary). The body hash is what keeps two
    * different payloads at one position apart: a stream whose commit log
    * was wiped restarts its batch ids at 0, and its new rows must not be
    * acknowledged as duplicates. Only `[A-Za-z0-9._-]` appear, so the key
    * is safe in a file name ([[Spill]]), a Hadoop path and a URI.
    *
    * KEY-FORMAT STABILITY: the key is a wire contract with the endpoint's
    * dedup store. Changing it while a crashed delivery is pending
    * redelivery makes the redelivered batches look new (one-time
    * duplicates). Drain or fully deliver in-flight streams before
    * deploying a key-format change. */
  private[pipeline] def batchKey(tag: String, pid: Int, i: Int, size: Int, body: Array[Byte]): String = {
    def h(seed: Long) = XXH64.hashUnsafeBytes(body, Platform.BYTE_ARRAY_OFFSET, body.length, seed)
    f"${tag}_p${pid}_${i}_${size}_${h(0L)}%016x${h(0x9e3779b97f4a7c15L)}%016x"
  }

  /** Sink a frame of wire-format rows (column 0 is the JSON row, see
    * Transform.deviceDataJson; null = reject marker). Batch i of a
    * partition is posted under `batchKey(tag, partitionId, i, batchSize,
    * body)`; a batch that still fails after the retries is spilled under
    * that key when `spill`, and otherwise only counted. A streaming
    * caller does not spill: the retry of its micro-batch is its
    * durability mechanism.
    *
    * The caller hands over a frame whose partitions hold the same rows in
    * the same order on every attempt wherever it wants a retry deduped.
    *
    * The accumulators are updated in result tasks only, where Spark
    * applies the updates of one successful attempt per partition and drops
    * those of failed attempts: every count is exact under task retry. */
  def write(json: DataFrame, cfg: Config, tag: String, spill: Boolean): Stats = {
    require(tag.matches("[A-Za-z0-9._-]+"), s"batch key tag '$tag' must match [A-Za-z0-9._-]+")
    val sc = json.sparkSession.sparkContext
    val sentB = sc.longAccumulator("sink.sentBatches")
    val sentR = sc.longAccumulator("sink.sentRecords")
    val spillB = sc.longAccumulator("sink.spilledBatches")
    val spillR = sc.longAccumulator("sink.spilledRecords")
    val rejected = sc.longAccumulator("sink.rejectedRows")
    // The rows are read as Catalyst rows, so a wire row's UTF-8 bytes are
    // copied out as they are, with no String decode and re-encode; the
    // run is still one SQL execution of `json`'s plan, as a Dataset
    // action would make it.
    val qe = json.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition"))(qe.toRdd.foreachPartition {
      (rows: Iterator[InternalRow]) =>
        val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val wire = rows.flatMap { r =>
          if (r.isNullAt(0)) { rejected.add(1); None } else Some(r.getUTF8String(0).getBytes)
        }
        wire.grouped(cfg.batchSize).zipWithIndex.foreach { case (batch, i) =>
          val body = payload(batch)
          val key = batchKey(tag, pid, i, cfg.batchSize, body)
          postWithRetry(cfg, body, key) match {
            case Right(_) =>
              sentB.add(1); sentR.add(batch.size)
            case Left(err) =>
              if (spill) Spill.writeBatch(cfg.spillDir, pid, key, body)
              spillB.add(1); spillR.add(batch.size)
              System.err.println(s"[sink] worker $pid: batch $i of ${batch.size} rows failed ($err)" +
                (if (spill) "; spilled" else "; not spilled"))
          }
        }
    })
    Stats(sentB.value, sentR.value, spillB.value, spillR.value, rejected.value)
  }
}
