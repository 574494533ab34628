package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

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
  * reject marker ([[Extractor]]): it is counted and never posted. Load,
  * stream and replay all deliver through one partition loop
  * ([[deliver]]); they differ only in the key of a batch and in whether a
  * failed batch spills.
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
  private def postWithRetry(cfg: Config, body: Array[Byte], key: String): Either[String, Unit] = {
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

  /** Sink a frame of wire-format rows (single string column `json`, see
    * Transform.deviceDataJson) and spill each batch that fails. Every
    * batch carries a fresh UUID key: a deliberate re-run of the same input
    * must not be deduped as a duplicate. Returns per-run delivery stats. */
  def write(json: DataFrame, cfg: Config): Stats =
    deliver(json, cfg, spill = true)((_, _, _, _) => java.util.UUID.randomUUID().toString)._1

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
    deliver(json, cfg, spill = false)((pid, _, group, batch) =>
      s"$keyPrefix#p$pid#$group@${cfg.batchSize}#${contentMd5(batch)}")._1

  private def contentMd5(batch: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    batch.foreach { b =>
      // length framing: without it ["ab","c"] and ["a","bc"] — different
      // payloads — would hash (and therefore key) identically
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The one delivery loop, behind [[write]], [[writeKeyed]] and
    * [[Spill.replay]]. Column 0 of `json` is the wire row (null = reject
    * marker). An optional column 1 names each row's segment, whose rows
    * are consecutive within a partition (a spill file on replay); without
    * it the whole partition is one segment. Batches of at most `batchSize`
    * rows never cross a segment; batch i of a segment is posted under
    * `key(partitionId, segment, i, rows)`, and spilled on failure only
    * when `spill`. Returns the stats and the segments delivered in full.
    *
    * The accumulators are updated in result tasks only, where Spark
    * applies the updates of one successful attempt per partition and drops
    * those of failed attempts: every count is exact under task retry. */
  private[pipeline] def deliver(json: DataFrame, cfg: Config, spill: Boolean)(
      key: (Int, String, Int, Seq[Array[Byte]]) => String): (Stats, Set[String]) = {
    val sc = json.sparkSession.sparkContext
    val sentB = sc.longAccumulator("sink.sentBatches")
    val sentR = sc.longAccumulator("sink.sentRecords")
    val spillB = sc.longAccumulator("sink.spilledBatches")
    val spillR = sc.longAccumulator("sink.spilledRecords")
    val rejected = sc.longAccumulator("sink.rejectedRows")
    val delivered = sc.collectionAccumulator[String]("sink.deliveredSegments")
    val segmented = json.columns.length > 1
    // The rows are read as Catalyst rows, so a wire row's UTF-8 bytes are
    // copied out as they are, with no String decode and re-encode; the
    // run is still one SQL execution of `json`'s plan, as a Dataset
    // action would make it.
    val qe = json.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition"))(qe.toRdd.foreachPartition {
      (rows: Iterator[InternalRow]) =>
        val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val wire = rows.flatMap { r =>
          if (r.isNullAt(0)) { rejected.add(1); None }
          else Some((r.getUTF8String(0).getBytes, if (segmented) r.getUTF8String(1).toString else ""))
        }.buffered
        while (wire.hasNext) {
          val segment = wire.head._2
          val segRows = new Iterator[Array[Byte]] {
            def hasNext: Boolean = wire.hasNext && wire.head._2 == segment
            def next(): Array[Byte] = wire.next()._1
          }
          var whole = true
          segRows.grouped(cfg.batchSize).zipWithIndex.foreach { case (batch, i) =>
            val body = payload(batch)
            postWithRetry(cfg, body, key(pid, segment, i, batch)) match {
              case Right(_) =>
                sentB.add(1); sentR.add(batch.size)
              case Left(err) =>
                whole = false
                if (spill) Spill.writeBatch(cfg.spillDir, pid, body)
                spillB.add(1); spillR.add(batch.size)
                System.err.println(s"[sink] worker $pid: batch $i of ${batch.size} rows" +
                  (if (segmented) s" from $segment" else "") + s" failed ($err)" +
                  (if (spill) "; spilled" else "; not spilled"))
            }
          }
          if (whole) delivered.add(segment)
        }
    })
    import scala.jdk.CollectionConverters._
    (Stats(sentB.value, sentR.value, spillB.value, spillR.value, rejected.value),
      delivered.value.asScala.toSet)
  }
}
