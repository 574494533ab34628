package graft.streaming

import graft.{SparkEntry, Tables}
import graft.operators.{AgreementQueries, CurationQueries, DedupQueries, GraphQueries, TemporalQueries}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The 29 streaming twins, each defined once: its input replay, the
  * stream operator, the batch anchor and the equality check.
  * `StreamCheck` runs them all as a main; each twin's spec runs the same
  * definition, so a recipe is mended in one place.
  *
  * Each check is the strongest determinism its operator supports:
  *
  *   - REAL-CORPUS EQUALITY (attribution, cdc_merge, cms_cells,
  *     degree_profile, drift_cusum, edge_support, incremental_dedup,
  *     mv_refresh, rate_limit, scd2, sessionization, the grids, and
  *     event_tumbling/sliding/sessions): a replay of the corpus through
  *     MemoryStream/file-source micro-batches, sentinel rows to close the
  *     watermark, then exact equality against the batch operator on the
  *     same rows. A replay of more than one batch arrives in event-time
  *     order (`orderBy("ts", "event_id")` before the split): `Tables`
  *     returns events in no file order, and Spark drops every row older
  *     than the watermark. The commutative grids also replay in reversed
  *     order and hold their state bound.
  *   - SYNTHETIC DETERMINISM (corpus_clean, dedup_cluster, fuzzy_dedup,
  *     semantic_dedup): the parity anchor is first-arrival founder
  *     semantics that only a scripted arrival order pins down, so a
  *     scripted scenario runs with its exact expected output and its
  *     state-eviction bounds (the batch operator elects the global min
  *     id, the stream the first arrival; they agree only under the
  *     scripts' conditions).
  *   - DELIVERY ACCOUNTING (streaming_etl): an AvailableNow drain of a
  *     CSV directory through the idempotent HTTP sink against a local
  *     zero-delay endpoint; the commit log must acknowledge every input
  *     record, with zero dead-letter spills.
  *
  * Every outcome carries the sum of `numRowsDroppedByWatermark` over the
  * query's progress: a row fed behind the watermark vanishes without an
  * error, and this count names that cause.
  *
  * The six event-time twins (`reorders`) also take a disorder seed:
  * their rows then arrive in three batches, each permuted, with every
  * row within half the watermark delay before a cut moved into the next
  * batch (`arrive`). Their answer must still equal batch.
  */
object StreamTwins {

  /** One twin run: row counts, parity, a short diff for the failure
    * message, the rows the watermark dropped as late, and the query's
    * progress (for state-bound checks). */
  final case class Outcome(streamRows: Long, batchRows: Long,
      parity: Boolean, diff: String, droppedByWatermark: Long,
      progress: Seq[StreamingQueryProgress])

  final case class Twin(name: String, check: String, reorders: Boolean = false)(
      body: (SparkSession, String, Option[Long]) => Outcome) {
    /** `disorder` is a seed for the disorder replay; only `reorders`
      * twins read it. */
    def run(spark: SparkSession, sfDir: String,
        disorder: Option[Long] = None): Outcome = body(spark, sfDir, disorder)
  }

  val all: Vector[Twin] = Vector(
    Twin("attribution", "replay == batch lastTouchAttribution (q129)",
      reorders = true)(new Defs(_, _, _).attribution),
    Twin("feature_snapshot", "replay == batch q210 feature snapshots",
      reorders = true)(new Defs(_, _, _).featureSnapshot),
    Twin("cdc_merge", "final registers == batch compaction (q90 aggregate)")(
      new Defs(_, _, _).cdcMerge),
    Twin("degree_profile", "max crossings == batch buckets + q144 histogram")(
      new Defs(_, _, _).degreeProfile),
    Twin("edge_support", "edge set == batch coOccurrenceEdges (q102 projection)")(
      new Defs(_, _, _).edgeSupport),
    Twin("incremental_dedup", "verdicts == batch incrementalDedup (q75)")(
      new Defs(_, _, _).incrementalDedup),
    Twin("rate_limit", "flagged set == batch rateLimitAudit (q112)",
      reorders = true)(new Defs(_, _, _).rateLimit),
    Twin("scd2", "closed intervals == batch scd2History (q80) closed rows",
      reorders = true)(new Defs(_, _, _).scd2),
    Twin("sessionization", "emission == FULL batch sessionize (q103) rows",
      reorders = true)(new Defs(_, _, _).sessionization),
    Twin("event_tumbling", "file-source tumbling counts == batch (q24 semantics)")(
      new Defs(_, _, _).eventTumbling),
    Twin("event_sliding", "sliding window counts == batch (q25 semantics)")(
      new Defs(_, _, _).eventSliding),
    Twin("event_sessions", "session windows == batch session_window (q26 semantics)")(
      new Defs(_, _, _).eventSessions),
    Twin("corpus_clean", "scripted dedup-within-watermark + quality gate")(
      new Defs(_, _, _).corpusClean),
    Twin("dedup_cluster", "scripted first-seen founder + state expiry")(
      new Defs(_, _, _).dedupCluster),
    Twin("fuzzy_dedup", "scripted LSH founder join + expiry re-founding")(
      new Defs(_, _, _).fuzzyDedup),
    Twin("semantic_dedup", "scripted cosine keep/drop + expiry re-founding")(
      new Defs(_, _, _).semanticDedup),
    Twin("mv_refresh", "streamed CDF deltas + v1 MV == batch recompute (q161)")(
      new Defs(_, _, _).mvRefresh),
    Twin("drift_cusum", "sealed daily CUSUM == batch recursion with batch k (q174)",
      reorders = true)(new Defs(_, _, _).driftCusum),
    Twin("cms_cells", "streamed CMS grid == batch fold (q185 sketch)")(
      new Defs(_, _, _).cmsCells),
    Twin("calibration_bins", "streamed reliability grid == batch fold (q206 read-back)")(
      new Defs(_, _, _).calibrationBins),
    Twin("holt_forecast", "streamed month grid + read-back == batch q220 rows")(
      new Defs(_, _, _).holtForecast),
    Twin("shard_grid", "streamed HRW movement grid + read-back == batch q228 rows")(
      new Defs(_, _, _).shardGrid),
    Twin("agreement_grid",
      "streamed annotator-agreement grid + kappa read-back == batch q235 rows")(
      new Defs(_, _, _).agreementGrid),
    Twin("dp_count_grid",
      "streamed per-source count grid + DP read-back == batch q247 rows")(
      new Defs(_, _, _).dpCountGrid),
    Twin("pass_at_k_grid",
      "streamed per-task (n,c) counters + estimator read == batch q249 rows")(
      new Defs(_, _, _).passAtKGrid),
    Twin("copeland_grid",
      "streamed per-pair duel counters + Copeland read == batch q251 rows")(
      new Defs(_, _, _).copelandGrid),
    Twin("context_sizing_grid",
      "streamed per-cap pricing counters + read == batch q260 rows")(
      new Defs(_, _, _).contextSizingGrid),
    Twin("loo_ablation_grid",
      "streamed per-source ledger + rest=total-self read == batch q253 rows")(
      new Defs(_, _, _).looAblationGrid),
    Twin("streaming_etl", "AvailableNow drain: commit log acks every input record")(
      new Defs(_, _, _).streamingEtl))

  def apply(name: String): Twin = all.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no streaming twin $name"))

  /** A drained query: its memory sink, all its progress, and its
    * progress after each input batch. */
  final case class Replayed(out: DataFrame, progress: Seq[StreamingQueryProgress],
      steps: Seq[StreamingQueryProgress]) {
    def dropped: Long =
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    def removedRows: Long =
      progress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    /** State rows held after input batch `step`. */
    def liveRows(step: Int): Long =
      steps(step).stateOperators.map(_.numRowsTotal).sum
    def ++(o: Replayed): Replayed =
      copy(progress = progress ++ o.progress, steps = steps ++ o.steps)
  }

  private val sinks = new AtomicLong

  /** Writes `stream` to a fresh memory sink, lets `drive` feed it, and
    * stops the query in any case. */
  private def drain(spark: SparkSession, stream: Dataset[_], mode: String)(
      drive: StreamingQuery => Seq[StreamingQueryProgress]): Replayed = {
    val name = s"twin_sink_${sinks.incrementAndGet()}"
    val q = stream.toDF().writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val steps = drive(q)
      Replayed(spark.table(name), q.recentProgress.toSeq, steps)
    } finally q.stop()
  }

  /** Replays `batches` through `op` into a memory sink: each batch is
    * added and drained before the next, and `afterBatch` sees the sink
    * after each. */
  def replay[A: Encoder](spark: SparkSession, batches: Seq[Seq[A]],
      mode: String = "append",
      afterBatch: (Int, DataFrame) => Unit = (_: Int, _: DataFrame) => ())(
      op: DataFrame => Dataset[_]): Replayed = {
    val ms = MemoryStream[A](implicitly[Encoder[A]], spark.sqlContext)
    drain(spark, op(ms.toDF()), mode) { q =>
      batches.toVector.zipWithIndex.map { case (b, i) =>
        ms.addData(b)
        q.processAllAvailable()
        afterBatch(i, q.sparkSession.table(q.name))
        q.lastProgress
      }
    }
  }

  /** Stream rows against batch rows as sets; each of `checks` is a
    * further condition, named in the diff when it fails. */
  def outcome(r: Replayed, streamed: Iterable[Any], batch: Iterable[Any],
      checks: (String, Boolean)*): Outcome = {
    val s = streamed.toSet
    val b = batch.toSet
    val failed = checks.collect { case (what, false) => s"; failed: $what" }
    def some(xs: Set[Any]) = xs.take(3).mkString("[", ", ", "]")
    Outcome(s.size, b.size, s.nonEmpty && s == b && failed.isEmpty,
      s"stream ${s.size} rows vs batch ${b.size}; only-stream=${some(s -- b)} " +
        s"only-batch=${some(b -- s)}; dropped_by_watermark=${r.dropped}" +
        failed.mkString,
      r.dropped, r.progress)
  }

  /** Event-time-sorted `rows` cut into `n` batches. With a seed they are
    * cut into three instead: every row whose ts lies within half the
    * watermark `delayMs` before a cut moves into the next batch, and
    * each batch is permuted with the seed. A moved row still lies above
    * the watermark that the batches before it set. */
  def arrive[A](rows: Seq[A], delayMs: Long, n: Int, disorder: Option[Long])(
      ts: A => Long): Seq[Seq[A]] = {
    def cut(k: Int) = (0 until k).map(i =>
      rows.slice(rows.length * i / k, rows.length * (i + 1) / k))
    disorder.fold(cut(n)) { seed =>
      val parts = cut(3)
      val cutTs = parts.tail.map(p => ts(p.head))
      val late = (i: Int) => (r: A) => ts(r) >= cutTs(i) - delayMs / 2
      val out = parts.indices.map { i =>
        val moved = if (i > 0) parts(i - 1).filter(late(i - 1)) else Nil
        val kept = if (i < cutTs.length) parts(i).filterNot(late(i)) else parts(i)
        new scala.util.Random(seed + i).shuffle(moved ++ kept)
      }
      for (i <- 1 until out.length) {
        val wm = out.take(i).flatten.map(ts).max - delayMs
        require(out(i).forall(r => ts(r) > wm), s"batch $i arrives behind the watermark")
      }
      out
    }
  }

  /** Runs `body` with Spark's stateful-operator correctness check off,
    * then restores the key's prior value, or unsets it. A stateful
    * operator chained after flatMapGroupsWithState trips Spark's
    * global-watermark heuristic; the three twins that do so document why
    * it is safe for them (FuzzyDedupStream.assign, EdgeSupportStream.edges,
    * DegreeProfileStream). Scoped, so the guard stays on for every other
    * query in the session. */
  def withCheckOff[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getAll.get(key) // getOption would return the default
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def deleteTree(dir: Path): Unit =
    try {
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally st.close()
    } catch { case _: java.io.IOException => () }

  private final class Defs(spark: SparkSession, sf: String, disorder: Option[Long]) {
    import spark.implicits._

    private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
    private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    private def events(cols: String*) = Tables.events(spark, sf).select(cols.map(col): _*)
    private def docs = Tables.documents(spark, sf)
    private def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    private def after(ts: Long, sec: Long) = new Timestamp(ts + sec * 1000L)
    private val farFuture = Timestamp.valueOf("2030-01-01 00:00:00")
    /** The last update-mode row per key. */
    private def latest(out: DataFrame, key: String, by: String) = out
      .withColumn("rn", row_number().over(Window.partitionBy(key).orderBy(col(by).desc)))
      .where(col("rn") === 1).drop("rn")

    def attribution: Outcome = {
      val ev = events("event_id", "ts", "user_id", "event_type")
      val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long, String)]
        .collect().toSeq
      val r = replay(spark, arrive(data, 60000L, 1, disorder)(_._2.getTime) :+
          Seq((999999L, farFuture, 999999L, "view"))) { df =>
        AttributionStream.attribute(df.toDF("event_id", "ts", "user_id", "event_type"),
          watermark = "1 minute", windowSec = 604800L)
      }
      outcome(r, rows(r.out.select("event_id", "user_id", "ts", "touch_type",
          "touch_id", "gap_sec")),
        rows(TemporalQueries.lastTouchAttribution(ev, windowSec = 604800L)))
    }

    def featureSnapshot: Outcome = {
      val data = events("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id").as[(Long, Timestamp, Long, String, Double)]
        .collect().toSeq
      val r = replay(spark, arrive(data, 60000L, 1, disorder)(_._2.getTime) :+
          Seq((999999L, farFuture, 999999L, "view", 0.0))) { df =>
        FeatureSnapshotStream.snapshots(
            df.toDF("event_id", "ts", "user_id", "event_type", "value"),
            watermark = "1 minute")
          .select("user_id", "ts", "event_id", "purchase_cents",
            "n_events_asof", "cents_asof", "n_types_asof", "last_type_asof")
      }
      outcome(r, rows(r.out), rows(q("q210_feature_snapshot")))
    }

    def cdcMerge: Outcome = {
      val changes = events("user_id", "ts", "event_id", "event_type", "value")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"),
          col("value"))
      val batch = changes.groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("op"), col("value")))
          .as("m"), count(lit(1)).as("n"))
        .select(col("user_id"), col("m.op"), col("m.ts"), col("m.value"), col("n"))
        .as[(Long, String, Timestamp, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._2 == "D")))
      val data = changes.as[(Long, Timestamp, Long, String, Double)].collect().toSeq
      // three arbitrary micro-batches: the merge commutes, so the split
      // cannot matter
      val r = replay(spark, data.grouped(math.max(1, data.length / 3)).toSeq,
          "update") { df =>
        CdcMergeStream.snapshots(df.toDF("user_id", "ts", "event_id", "op", "value"))
      }
      outcome(r, latest(r.out, "user_id", "n_changes").as[CdcMergeStream.SnapRow]
        .collect().map(s => s.user_id ->
          ((s.last_op, s.last_ts, s.last_value, s.n_changes, s.deleted))), batch)
    }

    def degreeProfile: Outcome = withCheckOff(spark) {
      // real purchase pairs, each stamped with its order date, one batch
      val pairs = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"),
          col("o_orderdate").as("ts"))
        .as[(Long, Long, Timestamp)].collect().toSeq
      // batch truth: per-node floor(log2(degree)) from the same pair set
      val batch = pairs.map(p => (p._1, p._2)).distinct
        .flatMap { case (c, s) => Seq(("c" + c, "s" + s), ("s" + s, "c" + c)) }
        .groupBy(_._1).view.mapValues(es =>
          63L - java.lang.Long.numberOfLeadingZeros(es.map(_._2).distinct.length.toLong))
        .toMap
      val r = replay(spark, Seq(pairs)) { df =>
        DegreeProfileStream.degreeCrossings(df.toDF("c", "s", "ts"),
          watermark = "30 minutes")
      }
      val got = r.out.groupBy("node").agg(max("log2_bucket").as("b"))
        .as[(String, Long)].collect().toMap
      val hist = q("q144_degree_distribution").select("log2_bucket", "n_nodes")
        .as[(Long, Long)].collect().map { case (b, n) => b -> n.toInt }.toMap
      outcome(r, got, batch, "stream-derived histogram == q144 n_nodes" ->
        (got.values.groupBy(identity).view.mapValues(_.size).toMap == hist))
    }

    def edgeSupport: Outcome = withCheckOff(spark) {
      // the order/part membership, one batch; 2,000 rows keep it fast
      val membership = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).limit(2000)
        .withColumn("ts", lit(t(12, 0))).as[(Long, Long, Timestamp)].collect().toSeq
      val batch = GraphQueries.coOccurrenceEdges(
          membership.toDF("o", "p", "ts").select("o", "p"), minShared = 2)
        .select("u", "v").as[(Long, Long)].collect()
      val r = replay(spark, Seq(membership)) { df =>
        EdgeSupportStream.edges(df.toDF("o", "p", "ts"), minShared = 2,
          watermark = "30 minutes")
      }
      outcome(r, r.out.select("u", "v").as[(Long, Long)].collect(), batch,
        "every emitted support is the crossing value 2" ->
          (r.out.select("support").as[Long].collect().toSet == Set(2L)))
    }

    def incrementalDedup: Outcome = {
      val corpus = docs.where(col("doc_id") % 10 < 8).select("doc_id", "text")
      val delta = docs.where(col("doc_id") % 10 >= 8)
      val batch = DedupQueries.incrementalDedup(corpus, delta)
        .as[(Long, String, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
      val arrivals = delta.select("doc_id", "text").as[(Long, String)].collect().toSeq
      val (d1, d2) = arrivals.splitAt(arrivals.length / 2)
      // two micro-batches, then a sentinel far ahead to close them all
      val r = replay(spark, Seq(d1.map(d => (d._1, t(10, 0), d._2)),
          d2.map(d => (d._1, t(10, 1), d._2)),
          Seq((999999L, t(12, 0), "watermark closing sentinel row")))) { df =>
        IncrementalDedupStream.verdicts(df.toDF("doc_id", "ts", "text"),
          IncrementalDedupStream.indexCorpus(corpus), watermark = "1 minute")
      }
      outcome(r, r.out.where(col("doc_id") =!= 999999L)
          .select("doc_id", "verdict", "matched_id", "match_jac")
          .as[(Long, String, Option[Long], Option[Double])].collect()
          .map(v => v._1 -> ((v._2, v._3, v._4))), batch,
        "the corpus holds a cross-split near_dup" -> batch.exists(_._2._1 == "near_dup"))
    }

    def rateLimit: Outcome = {
      val ev = events("user_id", "ts", "event_id")
      val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long)].collect().toSeq
      val maxTs = data.map(_._2.getTime).max
      val r = replay(spark, arrive(data, 600000L, 2, disorder)(_._2.getTime) ++ Seq(
          Seq((999999L, after(maxTs, 90000L), 1L)),
          Seq((999999L, after(maxTs, 180000L), 2L)))) { df =>
        RateLimitStream.flags(df.toDF("user_id", "ts", "event_id"),
          windowSec = 86400L, maxEvents = 5L, watermark = "10 minutes")
      }
      outcome(r, r.out.as[RateLimitStream.FlagOut].collect()
          .filter(_.user_id != 999999L).map(f => (f.user_id, f.event_id, f.n_window)),
        TemporalQueries.rateLimitAudit(ev, windowSec = 86400L, maxEvents = 5L)
          .select("user_id", "event_id", "n_24h").as[(Long, Long, Long)].collect())
    }

    def scd2: Outcome = {
      val ev = events("user_id", "ts", "event_id", "event_type")
      val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long, String)]
        .collect().toSeq
      val maxTs = data.map(_._2.getTime).max
      // sentinel pushes for a throwaway user drive the watermark past
      // every real event
      val r = replay(spark, arrive(data, 600000L, 2, disorder)(_._2.getTime) ++ Seq(
          Seq((999999L, after(maxTs, 3600L), 1L, "Z")),
          Seq((999999L, after(maxTs, 7200L), 2L, "Z")))) { df =>
        Scd2Stream.intervals(df.toDF("user_id", "ts", "event_id", "event_type"),
          watermark = "10 minutes")
      }
      outcome(r, r.out.as[Scd2Stream.SegOut].collect().map(s =>
          (s.user_id, s.event_type, s.valid_from, s.valid_to, s.last_seen, s.n_events)),
        TemporalQueries.scd2History(ev).where(col("valid_to").isNotNull)
          .select("user_id", "event_type", "valid_from", "valid_to", "last_seen",
            "n_events")
          .as[(Long, String, Timestamp, Timestamp, Timestamp, Long)].collect())
    }

    def sessionization: Outcome = {
      val gap = 43200L
      val ev = events("user_id", "ts", "event_id")
      val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long)].collect().toSeq
      val maxTs = data.map(_._2.getTime).max
      // sentinel pushes drive the watermark past every session's end + gap,
      // so the open tails emit via timeout too
      val r = replay(spark, arrive(data, 600000L, 2, disorder)(_._2.getTime) ++ Seq(
          Seq((999999L, after(maxTs, gap + 3600), 1L)),
          Seq((999999L, after(maxTs, gap + 7200), 2L)))) { df =>
        SessionStream.sessions(df.toDF("user_id", "ts", "event_id"),
          gapSec = gap, watermark = "10 minutes")
      }
      outcome(r, r.out.as[SessionStream.SessionOut].collect()
          .filter(_.user_id != 999999L)
          .map(s => (s.user_id, s.session_n, s.start_ts, s.end_ts, s.n_events,
            s.duration_sec)),
        TemporalQueries.sessionize(ev, gapSec = gap)
          .as[(Long, Long, Timestamp, Timestamp, Long, Long)].collect())
    }

    def eventTumbling: Outcome = {
      // stage the single-file table as a streaming source directory; the
      // file declares ts as TIMESTAMP_NTZ, normalized like Tables.events
      val dir = Files.createTempDirectory("twin-stream-src")
      Files.copy(Paths.get(sf, "events.parquet"), dir.resolve("events.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir.toString).withColumn("ts", col("ts").cast(TimestampType))
      val r = try drain(spark, EventStreams.tumbling(stream, watermark = "10 minutes"),
          "complete") { q => q.processAllAvailable(); Nil }
        finally deleteTree(dir)
      def counts(df: DataFrame) = df.collect()
        .map(c => (c.getTimestamp(0), c.getString(1), c.getLong(2)))
      outcome(r, counts(r.out.select("window_start", "event_type", "n")),
        counts(Tables.events(spark, sf)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n")).select(col("w.start"), col("event_type"), col("n"))))
    }

    def eventSliding: Outcome = {
      val ev = events("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreams.Event].collect().toSeq
      val r = replay(spark, ev.grouped(ev.length / 2 + 1).toSeq, "complete") {
        EventStreams.sliding(_, watermark = "10 minutes")
      }
      // counts only: sum_value is a parallel double sum whose addend order
      // differs run to run
      def counts(df: DataFrame) = df.collect().map(c => (c.getTimestamp(0), c.getLong(1)))
      outcome(r, counts(r.out.select("window_start", "n")),
        counts(Tables.events(spark, sf)
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n")).select(col("w.start"), col("n"))))
    }

    def eventSessions: Outcome = {
      val ev = events("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreams.Event].collect().toSeq
      val maxTs = ev.map(_.ts.getTime).max
      // ONE batch of corpus rows: session_window is a built-in aggregation,
      // whose watermark drops late input; then two sentinel pushes close
      // every real session
      val r = replay(spark, Seq(ev,
          Seq(EventStreams.Event(999999L, after(maxTs, 3600L), 999999L, "z", 0.0)),
          Seq(EventStreams.Event(999998L, after(maxTs, 7200L), 999999L, "z", 0.0)))) {
        EventStreams.sessions(_, watermark = "10 minutes")
      }
      def sessions(df: DataFrame) = df.collect()
        .map(s => (s.getLong(0), s.getTimestamp(1), s.getTimestamp(2), s.getLong(3)))
      outcome(r, sessions(r.out.where(col("user_id") =!= 999999L)
          .select("user_id", "session_start", "session_end", "n_events")),
        sessions(Tables.events(spark, sf)
          .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start"), col("w.end"), col("n_events"))))
    }

    def corpusClean: Outcome = {
      val good = "the cat and the dog walked to a house of friends."
      val r = replay(spark, Seq(
          Seq((1L, t(10, 0), "en", good),
            (2L, t(10, 1), "en", good), // duplicate content, same batch
            (3L, t(10, 2), "es", "el la de los y siempre"), // not predicted en
            (4L, t(10, 3), "en", "x")), // too short
          Seq((5L, t(10, 4), "en", good)))) { df => // duplicate, later batch
        CorpusCleanStream.clean(df.toDF("doc_id", "ts", "lang", "text"),
          watermark = "10 minutes", minTokens = 3)
      }
      outcome(r, r.out.select("doc_id").as[Long].collect(), Seq(1L))
    }

    def dedupCluster: Outcome = {
      val textA = "identical content a"
      val r = replay(spark, Seq(
          Seq((10L, t(10, 0), textA), (11L, t(10, 1), textA),
            (20L, t(10, 2), "different content b")),
          Seq((12L, t(10, 5), textA)), // later micro-batch, same content
          // jump event time 3 hours: the watermark passes every timeout
          Seq((30L, t(13, 0), "unrelated late marker")),
          Seq((40L, t(13, 1), textA)))) { df => // hash A re-arrives after expiry
        DedupClusterStream.assign(df.toDF("doc_id", "ts", "text"),
          watermark = "10 minutes")
      }
      // full map equality: the markers found their own clusters too, so a
      // state leak that only mislabels an unchecked doc fails
      outcome(r, r.out.select("doc_id", "cluster_id", "is_canonical")
          .as[(Long, Long, Boolean)].collect().map(c => c._1 -> ((c._2, c._3))),
        Map(10L -> ((10L, true)), 11L -> ((10L, false)), 12L -> ((10L, false)),
          20L -> ((20L, true)), 30L -> ((30L, true)), 40L -> ((40L, true))),
        s"live state rows ${r.liveRows(1)} >= 2" -> (r.liveRows(1) >= 2),
        s"state rows removed ${r.removedRows} >= 2 (A and B evicted)" ->
          (r.removedRows >= 2))
    }

    def fuzzyDedup: Outcome = withCheckOff(spark) {
      // 20-word base; each variant changes ONE word -> shingle Jaccard
      // 17/19 ~ 0.89 against the base, above the sketch confirm threshold
      val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
      val r = replay(spark, Seq(
          Seq((10L, t(10, 0), base), (11L, t(10, 1), base.replace("tango", "zulu")),
            (20L, t(10, 2), "stone bridges span quiet rivers where autumn " +
              "rain falls gently on moss covered arches beneath grey morning " +
              "skies forever"),
            (4L, t(10, 3), "x")),
          Seq((12L, t(10, 5), base.replace("alpha", "yankee"))),
          // jump event time 3 hours: the watermark passes every bucket
          // timeout and flushes the candidate-merge rows of the 10:xx docs
          Seq((30L, t(13, 0), "completely unrelated watermark marker text one")),
          Seq((40L, t(13, 1), base)), // base re-arrives after expiry
          Seq((50L, t(16, 0), "another unrelated watermark marker text two")))) { df =>
        FuzzyDedupStream.assign(df.toDF("doc_id", "ts", "text"), watermark = "10 minutes")
      }
      // full map equality: the shingle-less doc 4 is a singleton, both
      // markers found singletons; doc 50 (the last watermark mover) never
      // flushes, as append mode holds it until a later watermark pass
      outcome(r, r.out.select("doc_id", "cluster_id", "is_canonical")
          .as[(Long, Long, Boolean)].collect().map(c => c._1 -> ((c._2, c._3))),
        Map(10L -> ((10L, true)), 11L -> ((10L, false)), 12L -> ((10L, false)),
          20L -> ((20L, true)), 4L -> ((4L, true)), 30L -> ((30L, true)),
          40L -> ((40L, true))),
        s"live state rows ${r.liveRows(1)} >= 8" -> (r.liveRows(1) >= 8),
        s"state rows removed ${r.removedRows} >= 8" -> (r.removedRows >= 8))
    }

    def semanticDedup: Outcome = {
      // two well-separated unit centroids; the a-family lies near e0
      // (pairwise cosine ~0.999), b near e1
      val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
      val a1 = Seq(1.0, 0.02, 0.0, 0.0)
      val r = replay(spark, Seq(
          Seq((10L, t(10, 0), a1), (11L, t(10, 1), Seq(1.0, 0.03, 0.01, 0.0)),
            (20L, t(10, 2), Seq(0.01, 1.0, 0.0, 0.0))),
          // a later near-dup drops against the canonical in state
          Seq((12L, t(10, 5), Seq(0.99, 0.02, 0.0, 0.01))),
          // the zero-vector marker is kept but never stored (no defined
          // cosine): it moves the watermark without refreshing a cluster
          Seq((30L, t(13, 0), Seq(0.0, 0.0, 0.0, 0.0))),
          Seq((40L, t(13, 1), a1)))) { df => // re-founds after expiry
        SemanticDedupStream.assign(df.toDF("vec_id", "ts", "v"), cents, tau = 0.9,
          horizon = java.time.Duration.ofMinutes(10))
      }
      outcome(r, r.out.select("vec_id", "kept", "canonical_id")
          .as[(Long, Boolean, Long)].collect().map(c => c._1 -> ((c._2, c._3))),
        Map(10L -> ((true, 10L)), 11L -> ((false, 10L)), 20L -> ((true, 20L)),
          12L -> ((false, 10L)), 30L -> ((true, 30L)), 40L -> ((true, 40L))),
        s"live state rows ${r.liveRows(1)} >= 2" -> (r.liveRows(1) >= 2),
        s"state rows removed ${r.removedRows} >= 2" -> (r.removedRows >= 2))
    }

    def mvRefresh: Outcome = {
      // the production IVM path: q160's change feed arrives in three
      // micro-batches, the streaming aggregation maintains the per-group
      // delta, and v1 + streamed delta must equal q161's full recompute
      val cdf = q("q160_change_data_feed")
        .select(col("c_custkey").as("k"), col("commit_ver"), col("change_type"),
          col("cents"))
        .as[(Long, Long, String, Long)].collect().toSeq
      val batch = q("q161_incremental_mv_refresh")
        .select("g", "n_v1", "sum_v1", "d_n", "d_sum", "n_full", "sum_full")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      val r = replay(spark, cdf.grouped(math.max(1, cdf.length / 3)).toSeq,
          "update") { df =>
        MvRefreshStream.deltas(df.toDF("k", "commit_ver", "change_type", "cents"))
      }
      val got = latest(r.out, "g", "n_folded").select("g", "d_n", "d_sum", "n_folded")
        .as[(Long, Long, Long, Long)].collect()
      val delta = got.map(g => g._1 -> ((g._2, g._3))).toMap
      outcome(r, delta, batch.map(b => b._1 -> ((b._4, b._5))),
        "v1 + streamed delta == full recompute" -> batch.forall {
          case (g, nV1, sumV1, _, _, nFull, sumFull) => delta.get(g).exists {
            case (dN, dSum) => nV1 + dN == nFull && sumV1 + dSum == sumFull }
        },
        "every CDF row folded exactly once" -> (got.map(_._4).sum == cdf.length))
    }

    def driftCusum: Outcome = {
      val data = events("event_id", "ts", "event_type").orderBy("ts", "event_id")
        .as[(Long, Timestamp, String)].collect().toSeq
      val dayOf = (ts: Timestamp) => Math.floorDiv(ts.getTime, 86400000L) * 86400000L
      val byType = data.groupBy(_._3).view.mapValues(rows =>
        rows.groupBy(r => dayOf(r._2)).view.mapValues(_.length.toLong).toSeq).toMap
      val kByType = byType.map { case (tp, days) =>
        tp -> 1000000L * days.map(_._2).sum / days.length }
      // the batch recursion with the same k
      val expected = byType.flatMap { case (tp, days) =>
        var cs = 0L; var mn = 0L; var mx = 0L
        days.sortBy(_._1).map { case (day, cnt) =>
          cs += 1000000L * cnt - kByType(tp)
          mn = math.min(mn, cs); mx = math.max(mx, cs)
          (tp, new Timestamp(day), cnt, cs - math.min(0L, mn), math.max(0L, mx) - cs)
        }
      }
      val maxTs = data.map(_._2.getTime).max
      // far-future sentinels of an unmonitored type seal every real day
      val r = replay(spark, arrive(data, 600000L, 2, disorder)(_._2.getTime) ++ Seq(
          Seq((999999L, after(maxTs, 30L * 86400L), "zz")),
          Seq((999998L, after(maxTs, 31L * 86400L), "zz")))) { df =>
        DriftStream.monitor(df.toDF("event_id", "ts", "event_type"), kByType,
          watermark = "10 minutes")
      }
      outcome(r, r.out.as[DriftStream.DriftOut].collect()
        .map(d => (d.event_type, d.day, d.cnt, d.up_micro, d.down_micro)), expected)
    }

    def cmsCells: Outcome = {
      val keys = Tables.orders(spark, sf).select(col("o_custkey").as("k"))
        .as[Long].collect().toSeq
      val batch = SketchStream.cmsCells(keys.toDF("k")).as[(Long, Long, Long)].collect()
      // CMS increments commute: neither order nor split may matter
      def grid(chunks: Seq[Seq[Long]]) =
        replay(spark, chunks, "complete")(df => SketchStream.cmsCells(df.toDF("k")))
      val fwd = grid(keys.grouped(keys.length / 3 + 1).toSeq)
      val rev = grid(keys.reverse.grouped(7).toSeq)
      val cells = fwd.out.as[(Long, Long, Long)].collect()
      // read back with q185's min rule: the catalog's estimates, each an
      // overestimate of the exact count
      val byRow = cells.groupBy(_._1).map { case (row, cs) =>
        row -> cs.map(c => c._2 -> c._3).toMap }
      val catalog = q("q185_countmin_estimate").collect()
        .map(c => (c.getLong(0), c.getLong(1), c.getLong(2)))
      outcome(fwd ++ rev, cells, batch,
        "reversed arrival in 7-key batches == batch" ->
          (rev.out.as[(Long, Long, Long)].collect().toSet == batch.toSet),
        "within the d*w = 4*256 cell bound" -> (cells.length <= 4 * 256),
        "min-rule read-back == the 20 q185 estimates, each >= exact" ->
          (catalog.length == 20 && catalog.forall { case (k, exact, est) =>
            val got = (0 until 4).map(i => byRow(i.toLong)(SketchStream.cellOf(i, k))).min
            got == est && got >= exact
          }))
    }

    def calibrationBins: Outcome = {
      val d = docs.select(col("lang"), col("text")).as[(String, String)].collect().toSeq
      val batch = CalibrationStream.calibrationCells(d.toDF("lang", "text"))
        .as[(Long, Long, Long)].collect()
      // bin counts commute: neither order nor split may matter
      def grid(chunks: Seq[Seq[(String, String)]]) = replay(spark, chunks, "complete")(
        df => CalibrationStream.calibrationCells(df.toDF("lang", "text")))
      val fwd = grid(d.grouped(d.length / 3 + 1).toSeq)
      val rev = grid(d.reverse.grouped(97).toSeq)
      val cells = fwd.out.as[(Long, Long, Long)].collect()
      outcome(fwd ++ rev, cells, batch,
        "reversed arrival in 97-doc batches == batch" ->
          (rev.out.as[(Long, Long, Long)].collect().toSet == batch.toSet),
        "within the 11-cell bound" -> (cells.length <= 11),
        "read-back == the q206 catalog rows" ->
          (rows(CalibrationStream.readBack(cells.toSeq.toDF("score_bin", "n", "n_pos")))
            == rows(q("q206_calibration_bins"))))
    }

    def holtForecast: Outcome = {
      val orders = Tables.orders(spark, sf)
        .select(col("o_orderdate").cast("timestamp"), col("o_totalprice"))
        .as[(Timestamp, Double)].collect().toSeq
      // month as epoch micros: the on-disk o_orderdate is TIMESTAMP_NTZ and
      // the streamed side TIMESTAMP; the values agree under the session's
      // UTC clock, the printed types would not
      def canon(df: DataFrame) = rows(df.select(
        unix_micros(col("month").cast("timestamp")).as("mu"), col("y_cents"),
        col("n_train"), col("level"), col("trend"), col("yhat"), col("err")))
      // month sums commute: an arbitrary split
      val r = replay(spark, orders.grouped(orders.length / 3 + 1).toSeq, "complete") {
        df => ForecastStream.monthCells(df.toDF("o_orderdate", "o_totalprice"))
      }
      // collect the cells before the fold's self-join (a streaming memory
      // relation cannot alias-resolve twice)
      val cells = r.out.as[(Timestamp, Double)].collect().toSeq
      outcome(r, canon(ForecastStream.readBack(cells.toDF("m", "y"))),
        canon(q("q220_holt_backtest")))
    }

    def shardGrid: Outcome = {
      val ids = docs.select(col("doc_id")).as[Long].collect().toSeq
      // cell counts commute: forward and reversed arrival, two splits
      def grid(chunks: Seq[Seq[Long]]) =
        replay(spark, chunks, "complete")(df => ShardStream.grid(df.toDF("doc_id")))
      val fwd = grid(ids.grouped(ids.length / 3 + 1).toSeq)
      val rev = grid(ids.reverse.grouped(ids.length / 5 + 1).toSeq)
      val cells = fwd.out.as[(Long, Long, Long)].collect().toSeq
      val batch = ShardStream.grid(ids.toDF("doc_id")).as[(Long, Long, Long)]
        .collect().toSet
      outcome(fwd ++ rev, rows(ShardStream.readBack(cells.toDF("wb", "wa", "n_docs"))),
        rows(q("q228_rendezvous_sharding")),
        "forward and reversed grids == batch grid" -> (cells.toSet == batch &&
          rev.out.as[(Long, Long, Long)].collect().toSet == batch),
        s"within the 72-cell bound (${cells.size})" -> (cells.size <= 72))
    }

    def agreementGrid: Outcome = {
      val d = docs.select(col("n_chars").cast("long"), col("text"))
        .as[(Long, String)].collect().toSeq
      // cell counts commute: forward and reversed arrival, two splits
      def grid(chunks: Seq[Seq[(Long, String)]]) = replay(spark, chunks, "complete")(
        df => AgreementStream.grid(df.toDF("n_chars", "text")))
      val fwd = grid(d.grouped(d.length / 3 + 1).toSeq)
      val rev = grid(d.reverse.grouped(d.length / 5 + 1).toSeq)
      val cells = fwd.out.as[(Long, Long, Long)].collect().toSeq
      val batch = AgreementStream.grid(d.toDF("n_chars", "text"))
        .as[(Long, Long, Long)].collect().toSet
      outcome(fwd ++ rev, rows(AgreementStream.readBack(cells.toDF("a", "b", "n_cell"))),
        rows(q("q235_cohens_kappa")),
        "forward and reversed grids == batch grid" -> (cells.toSet == batch &&
          rev.out.as[(Long, Long, Long)].collect().toSet == batch),
        s"within the 9-cell bound (${cells.size})" -> (cells.size <= 9))
    }

    def dpCountGrid: Outcome = {
      val ss = docs.select(col("source")).as[String].collect().toSeq
      // source counts commute: forward and reversed arrival, two splits
      def grid(chunks: Seq[Seq[String]]) =
        replay(spark, chunks, "complete")(df => DpCountStream.grid(df.toDF("source")))
      val fwd = grid(ss.grouped(ss.length / 3 + 1).toSeq)
      val rev = grid(ss.reverse.grouped(ss.length / 5 + 1).toSeq)
      val cells = fwd.out.as[(String, Long)].collect().toSeq
      val batch = DpCountStream.grid(ss.toDF("source")).as[(String, Long)].collect().toSet
      // the mechanism is deterministic per release key: two reads of the
      // same state release identical noise
      def release() = rows(DpCountStream.readBack(cells.toDF("source", "n_docs")))
      val r1 = release()
      outcome(fwd ++ rev, r1, rows(q("q247_dp_count_release")),
        "forward and reversed grids == batch grid" -> (cells.toSet == batch &&
          rev.out.as[(String, Long)].collect().toSet == batch),
        s"within the |sources|-cell bound (${cells.size})" ->
          (cells.size <= ss.distinct.size),
        "a second read releases the same rows" -> (release() == r1))
    }

    def passAtKGrid: Outcome = {
      val samples = CurationQueries.passSamples(Tables.lineitem(spark, sf))
        .as[(Long, Long)].collect().toSeq
      val r = replay(spark, samples.grouped(samples.length / 5 + 1).toSeq, "complete")(
        df => PassAtKStream.grid(df.toDF("task", "ok")))
      val cells = r.out.as[(Long, Long, Long)].collect().toSeq
      outcome(r, rows(PassAtKStream.readBack(cells.toDF("task", "n", "c"))),
        rows(q("q249_pass_at_k")))
    }

    def copelandGrid: Outcome = {
      val duels = AgreementQueries.duels(Tables.lineitem(spark, sf))
        .as[(Long, Long)].collect().toSeq
      val r = replay(spark, duels.grouped(duels.length / 4 + 1).toSeq, "complete")(
        df => CopelandStream.grid(df.toDF("w", "l")))
      val cells = r.out.as[(Long, Long, Long, Long)].collect().toSeq
      outcome(r, rows(CopelandStream.readBack(cells.toDF("u", "v", "w_uv", "w_vu"))),
        rows(q("q251_condorcet_copeland")))
    }

    def contextSizingGrid: Outcome = {
      val ns = docs.select(size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
        .as[Long].collect().toSeq
      val r = replay(spark, ns.grouped(ns.length / 4 + 1).toSeq, "complete")(
        df => ContextSizingStream.grid(df.toDF("n")))
      val cells = r.out.as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      outcome(r, rows(ContextSizingStream.readBack(cells.toDF("cap", "n_docs",
          "tokens_total", "tokens_truncated", "tokens_padded", "useful"))),
        rows(q("q260_context_length_sizing")))
    }

    def looAblationGrid: Outcome = {
      val ss = docs.select(col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        .as[(String, Long)].collect().toSeq
      def read(cells: DataFrame) = LooAblationStream.readBack(
        cells.as[(String, Long, Long)].collect().toSeq.toDF("source", "n_docs", "tok"))
      // mid-stream, the law rest = total - self must hold on whatever has
      // arrived: delta signs partition consistently
      var midOk = false
      val r = replay(spark, ss.grouped(ss.length / 2 + 1).toSeq, "complete",
          afterBatch = (i: Int, sink: DataFrame) => if (i == 0) {
            val mid = read(sink).as[(String, Long, Long, Long, Double)].collect()
            midOk = mid.nonEmpty && mid.forall(m => math.abs(m._4) <= 1L)
          })(df => LooAblationStream.grid(df.toDF("source", "n_tok")))
      outcome(r, rows(read(r.out)), rows(q("q253_loo_source_ablation")),
        "mid-stream read keeps |delta| <= 1" -> midOk)
    }

    def streamingEtl: Outcome = {
      val dir = Files.createTempDirectory("twin-etl")
      val n = 500L
      val csvDir = dir.resolve("in")
      Files.createDirectories(csvDir)
      Files.writeString(csvDir.resolve("appliances.csv"),
        (1 to n.toInt).map(i => s"192.168.${i / 256}.${i % 256},device-$i").mkString("\n"))
      val server = new graft.MockLoadServerMain(delayMillis = 0)
      try {
        val ckpt = dir.resolve("ckpt").toString
        val sink = graft.pipeline.HttpSink.Config(server.loadUrl, "secret-token",
          batchSize = 100, spillDir = dir.resolve("spill").toString)
        val q = StreamingEtl.runAvailable(StreamingEtl.csvSource(spark, csvDir.toString,
          fixedTimestamp = Some(1700000000L)), sink, ckpt)
        val progress = q.recentProgress.toSeq
        q.stop()
        def files(p: Path) =
          if (!Files.isDirectory(p)) Vector.empty[Path]
          else { val st = Files.list(p); try st.iterator().asScala.toVector finally st.close() }
        // every record acknowledged by a commit-log marker, none spilled
        val delivered = files(Paths.get(ckpt, "sink-commits"))
          .filter(_.getFileName.toString.endsWith(".committed"))
          .map(f => Files.readString(f).trim.toLong).sum
        val spills = files(dir.resolve("spill")).size
        val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        Outcome(delivered, n, delivered == n && spills == 0,
          s"delivered $delivered of $n records; $spills spill files; " +
            s"dropped_by_watermark=$dropped", dropped, progress)
      } finally {
        server.stop()
        deleteTree(dir)
      }
    }
  }
}
