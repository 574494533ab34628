package graft.streaming

import graft.{Sessions, Tables}
import graft.operators.{DedupQueries, GraphQueries, TemporalQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Driver-visible streaming-parity gate (round-9 verdict item 5): the
  * streaming twins were ScalaTest-verified only, leaving their parity
  * evidence outside the driver's signal. This main replays the sf0.001
  * corpus (or a deterministic synthetic scenario where the spec's parity
  * anchor is synthetic) through all 29 twin checks and emits ONE JSON
  * line per twin — stream rows, batch-anchor rows, and a parity
  * verdict — plus a compact summary as the LAST stdout line, mirrored
  * to target/stream_parity.json (the bench_summary.json pattern).
  *
  * Each check is the strongest determinism its spec proves:
  *
  *   - REAL-CORPUS EQUALITY (attribution, cdc_merge, cms_cells,
  *     degree_profile, drift_cusum, edge_support, incremental_dedup,
  *     mv_refresh, rate_limit, scd2, sessionization,
  *     event_tumbling/sliding/sessions): full replay of the sf0.001
  *     frame through MemoryStream/file-source micro-batches, sentinel
  *     rows to close the watermark, then exact set/map equality against
  *     the batch operator on the same rows — the specs' own recipes,
  *     re-run as a main. A two-batch replay must arrive in event-time
  *     order (`orderBy("ts", "event_id")` before the split): `Tables`
  *     returns events in no file order, and the flatMapGroupsWithState
  *     twins run under EventTimeTimeout, so Spark drops every row older
  *     than the watermark. (session_window feeds ONE batch, because its
  *     built-in aggregation drops watermark-late input too.)
  *   - SYNTHETIC DETERMINISM (corpus_clean, dedup_cluster, fuzzy_dedup,
  *     semantic_dedup): the twin's parity anchor is first-arrival
  *     founder semantics that only a scripted arrival order pins down;
  *     the spec's scripted scenario runs verbatim with its exact expected
  *     output (real-corpus equality would over-claim: the batch operator
  *     elects global min-id, the stream elects first-arrival — equal only
  *     under the single-batch equal-ts conditions the scripts create).
  *   - DELIVERY ACCOUNTING (streaming_etl): AvailableNow drain of a CSV
  *     directory through the idempotent HTTP sink against a local
  *     zero-delay mock endpoint; every input record must be acknowledged
  *     by the commit log (sum of per-batch sentRecords markers), with
  *     zero dead-letter spills — the StreamingSpec delivery contract.
  *
  * Run: sbt "runMain graft.streaming.StreamCheck [sfDir]"
  */
object StreamCheck {

  final case class TwinResult(twin: String, check: String,
      streamRows: Long, batchRows: Long, parity: Boolean,
      err: Option[String])

  private def t(h: Int, m: Int) =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local("graft-streamcheck", cores = cpus)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // agg/stateful-op chained after flatMapGroupsWithState trips Spark's
    // global-watermark heuristic; safe for the three twins that need it
    // (FuzzyDedupStream.assign / EdgeSupportStream.edges /
    // DegreeProfileStream scaladocs). Scoped per twin — a blanket
    // disable would also mute the guard for the other twelve (round-10
    // review finding).
    def withCheckOff[T](body: => T): T = {
      val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    def run(name: String, check: String)(body: => (Long, Long, Boolean)): TwinResult =
      try {
        val (s, b, ok) = body
        TwinResult(name, check, s, b, ok, None)
      } catch { case e: Throwable =>
        TwinResult(name, check, -1, -1, parity = false,
          Some(e.toString.replaceAll("\\s+", " ").take(180)))
      }

    val results = Vector(
      // ---------------------------------------------------- attribution
      run("attribution", "replay == batch lastTouchAttribution (q129)") {
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        val batch = TemporalQueries.lastTouchAttribution(ev, windowSec = 604800L)
          .collect().map(_.toString).toSet
        val ms = MemoryStream[(Long, Timestamp, Long, String)]
        val q = AttributionStream.attribute(
            ms.toDF().toDF("event_id", "ts", "user_id", "event_type"),
            watermark = "1 minute", windowSec = 604800L)
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_attr").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ms.addData(ev.as[(Long, Timestamp, Long, String)].collect().toSeq)
          q.processAllAvailable()
          ms.addData((999999L, Timestamp.valueOf("2030-01-01 00:00:00"),
            999999L, "view"))
          q.processAllAvailable()
          val streamed = spark.table("sc_attr")
            .select(col("event_id"), col("user_id"), col("ts"),
              col("touch_type"), col("touch_id"), col("gap_sec"))
            .collect().map(_.toString).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ----------------------------------------------- feature_snapshot
      run("feature_snapshot", "replay == batch q210 feature snapshots") {
        val batch = graft.SparkEntry.queries("q210_feature_snapshot")(
            spark, sfDir)
          .collect().map(_.toString).toSet
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val q = FeatureSnapshotStream.snapshots(
            ms.toDF().toDF("event_id", "ts", "user_id", "event_type",
              "value"),
            watermark = "1 minute")
          .toDF()
          .select("user_id", "ts", "event_id", "purchase_cents",
            "n_events_asof", "cents_asof", "n_types_asof",
            "last_type_asof")
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_snap").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ms.addData(ev.as[(Long, Timestamp, Long, String, Double)]
            .collect().toSeq)
          q.processAllAvailable()
          ms.addData((999999L, Timestamp.valueOf("2030-01-01 00:00:00"),
            999999L, "view", 0.0))
          q.processAllAvailable()
          val streamed = spark.table("sc_snap")
            .collect().map(_.toString).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ------------------------------------------------------ cdc_merge
      run("cdc_merge", "final registers == batch compaction (q90 aggregate)") {
        val changes = Tables.events(spark, sfDir)
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
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._2 == "D"))).toMap
        val data = changes.as[(Long, Timestamp, Long, String, Double)].collect()
        val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val q = CdcMergeStream.snapshots(
            ms.toDF().toDF("user_id", "ts", "event_id", "op", "value"))
          .writeStream.outputMode("update").format("memory")
          .queryName("sc_cdc").trigger(Trigger.ProcessingTime(0)).start()
        try {
          data.grouped(math.max(1, data.length / 3))
            .foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
          val streamed = spark.table("sc_cdc")
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("user_id").orderBy(col("n_changes").desc)))
            .where(col("rn") === 1).drop("rn")
            .as[CdcMergeStream.SnapRow].collect()
            .map(r => r.user_id ->
              ((r.last_op, r.last_ts, r.last_value, r.n_changes, r.deleted)))
            .toMap
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ------------------------------------------------- degree_profile
      run("degree_profile", "max crossings == batch buckets + q144 histogram") { withCheckOff {
        val pairs = Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_suppkey")
          .join(Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"),
            col("o_orderdate").as("ts"))
          .as[(Long, Long, Timestamp)].collect()
        val batchBuckets = pairs.map(p => (p._1, p._2)).distinct
          .flatMap { case (c, s) => Seq(("c" + c, "s" + s), ("s" + s, "c" + c)) }
          .groupBy(_._1).view.mapValues { es =>
            val d = es.map(_._2).distinct.length.toLong
            63L - java.lang.Long.numberOfLeadingZeros(d)
          }.toMap
        val ms = MemoryStream[(Long, Long, Timestamp)]
        val q = DegreeProfileStream.degreeCrossings(
            ms.toDF().toDF("c", "s", "ts"), watermark = "30 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_deg").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ms.addData(pairs.toSeq)
          q.processAllAvailable()
          val got = spark.table("sc_deg")
            .groupBy("node").agg(max("log2_bucket").as("b"))
            .as[(String, Long)].collect().toMap
          val histGot = got.values.groupBy(identity).view.mapValues(_.size).toMap
          val histBatch = graft.SparkEntry
            .queries("q144_degree_distribution")(spark, sfDir)
            .select("log2_bucket", "n_nodes").as[(Long, Long)].collect()
            .map { case (b, n) => b -> n.toInt }.toMap
          (got.size, batchBuckets.size,
            got.nonEmpty && got == batchBuckets && histGot == histBatch)
        } finally q.stop()
      }},

      // ----------------------------------------------------- edge_support
      run("edge_support", "edge set == batch coOccurrenceEdges (q102 projection)") { withCheckOff {
        val membership = Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .limit(2000)
          .withColumn("ts", lit(t(12, 0)))
          .as[(Long, Long, Timestamp)].collect()
        val expected = GraphQueries.coOccurrenceEdges(
            membership.toSeq.toDF("o", "p", "ts").select("o", "p"), minShared = 2)
          .select("u", "v").as[(Long, Long)].collect().toSet
        val ms = MemoryStream[(Long, Long, Timestamp)]
        val q = EdgeSupportStream.edges(
            ms.toDF().toDF("o", "p", "ts"), minShared = 2,
            watermark = "30 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_edge").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ms.addData(membership.toSeq)
          q.processAllAvailable()
          val got = spark.table("sc_edge")
            .select("u", "v").as[(Long, Long)].collect().toSet
          (got.size, expected.size, expected.nonEmpty && got == expected)
        } finally q.stop()
      }},

      // ----------------------------------------------- incremental_dedup
      run("incremental_dedup", "verdicts == batch incrementalDedup (q75)") {
        val corpus = Tables.documents(spark, sfDir)
          .where(col("doc_id") % 10 < 8).select("doc_id", "text")
        val delta = Tables.documents(spark, sfDir)
          .where(col("doc_id") % 10 >= 8).select("doc_id", "text")
        val expected = DedupQueries.incrementalDedup(
            corpus, Tables.documents(spark, sfDir).where(col("doc_id") % 10 >= 8))
          .as[(Long, String, Option[Long], Option[Double])].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        val ms = MemoryStream[(Long, Timestamp, String)]
        val q = IncrementalDedupStream.verdicts(
            ms.toDF().toDF("doc_id", "ts", "text"),
            IncrementalDedupStream.indexCorpus(corpus), watermark = "1 minute")
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_inc").trigger(Trigger.ProcessingTime(0)).start()
        try {
          val rows = delta.as[(Long, String)].collect()
          val (d1, d2) = rows.splitAt(rows.length / 2)
          ms.addData(d1.map { case (id, tx) => (id, t(10, 0), tx) }.toSeq: _*)
          q.processAllAvailable()
          ms.addData(d2.map { case (id, tx) => (id, t(10, 1), tx) }.toSeq: _*)
          q.processAllAvailable()
          ms.addData((999999L, t(12, 0), "watermark closing sentinel row"))
          q.processAllAvailable()
          val got = spark.table("sc_inc")
            .where(col("doc_id") =!= 999999L)
            .select("doc_id", "verdict", "matched_id", "match_jac")
            .as[(Long, String, Option[Long], Option[Double])].collect()
            .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
          (got.size, expected.size, got.nonEmpty && got == expected)
        } finally q.stop()
      },

      // ------------------------------------------------------ rate_limit
      run("rate_limit", "flagged set == batch rateLimitAudit (q112)") {
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), col("ts"), col("event_id"))
        val batch = TemporalQueries.rateLimitAudit(ev,
            windowSec = 86400L, maxEvents = 5L)
          .select("user_id", "event_id", "n_24h")
          .as[(Long, Long, Long)].collect().toSet
        val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long)].collect()
        val maxTs = data.map(_._2.getTime).max
        val ms = MemoryStream[(Long, Timestamp, Long)]
        val q = RateLimitStream.flags(
            ms.toDF().toDF("user_id", "ts", "event_id"),
            windowSec = 86400L, maxEvents = 5L, watermark = "10 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_rate").trigger(Trigger.ProcessingTime(0)).start()
        try {
          val (b1, b2) = data.splitAt(data.length / 2)
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq); q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + 90000L * 1000L), 1L))
          q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + 180000L * 1000L), 2L))
          q.processAllAvailable()
          val streamed = spark.table("sc_rate").as[RateLimitStream.FlagOut]
            .collect().filter(_.user_id != 999999L)
            .map(r => (r.user_id, r.event_id, r.n_window)).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ------------------------------------------------------------ scd2
      run("scd2", "closed intervals == batch scd2History (q80) closed rows") {
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val batchClosed = TemporalQueries.scd2History(ev)
          .where(col("valid_to").isNotNull)
          .select("user_id", "event_type", "valid_from", "valid_to",
            "last_seen", "n_events")
          .as[(Long, String, Timestamp, Timestamp, Timestamp, Long)]
          .collect().toSet
        val data = ev.orderBy("ts", "event_id")
          .as[(Long, Timestamp, Long, String)].collect()
        val maxTs = data.map(_._2.getTime).max
        val ms = MemoryStream[(Long, Timestamp, Long, String)]
        val q = Scd2Stream.intervals(
            ms.toDF().toDF("user_id", "ts", "event_id", "event_type"),
            watermark = "10 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_scd2").trigger(Trigger.ProcessingTime(0)).start()
        try {
          val (b1, b2) = data.splitAt(data.length / 2)
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq); q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + 3600L * 1000), 1L, "Z"))
          q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + 7200L * 1000), 2L, "Z"))
          q.processAllAvailable()
          val streamed = spark.table("sc_scd2").as[Scd2Stream.SegOut].collect()
            .map(r => (r.user_id, r.event_type, r.valid_from, r.valid_to,
              r.last_seen, r.n_events)).toSet
          (streamed.size, batchClosed.size,
            streamed.nonEmpty && streamed == batchClosed)
        } finally q.stop()
      },

      // -------------------------------------------------- sessionization
      run("sessionization", "emission == FULL batch sessionize (q103) rows") {
        val gap = 43200L
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), col("ts"), col("event_id"))
        val batch = TemporalQueries.sessionize(ev, gapSec = gap)
          .as[(Long, Long, Timestamp, Timestamp, Long, Long)]
          .collect().toSet
        val data = ev.orderBy("ts", "event_id").as[(Long, Timestamp, Long)].collect()
        val maxTs = data.map(_._2.getTime).max
        val ms = MemoryStream[(Long, Timestamp, Long)]
        val q = SessionStream.sessions(
            ms.toDF().toDF("user_id", "ts", "event_id"),
            gapSec = gap, watermark = "10 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_sess").trigger(Trigger.ProcessingTime(0)).start()
        try {
          val (b1, b2) = data.splitAt(data.length / 2)
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq); q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + (gap + 3600) * 1000L), 1L))
          q.processAllAvailable()
          ms.addData((999999L, new Timestamp(maxTs + (gap + 7200) * 1000L), 2L))
          q.processAllAvailable()
          val streamed = spark.table("sc_sess").as[SessionStream.SessionOut]
            .collect().filter(_.user_id != 999999L)
            .map(r => (r.user_id, r.session_n, r.start_ts, r.end_ts,
              r.n_events, r.duration_sec)).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // -------------------------------------------------- event_tumbling
      run("event_tumbling", "file-source tumbling counts == batch (q24 semantics)") {
        val dir = Files.createTempDirectory("sc-stream-src")
        Files.copy(Paths.get(sfDir, "events.parquet"),
          dir.resolve("events.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampNTZType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir.toString)
          .withColumn("ts", col("ts").cast(TimestampType))
        val q = EventStreams.tumbling(stream, watermark = "10 minutes")
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_tumble").start()
        try q.processAllAvailable()
        finally {
          q.stop()
          try {
            Files.deleteIfExists(dir.resolve("events.parquet"))
            Files.deleteIfExists(dir)
          } catch { case _: java.io.IOException => () }
        }
        val streamed = spark.table("sc_tumble")
          .select("window_start", "event_type", "n")
          .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
        val batch = Tables.events(spark, sfDir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start"), col("event_type"), col("n"))
          .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
        (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
      },

      // --------------------------------------------------- event_sliding
      run("event_sliding", "sliding window counts == batch (q25 semantics)") {
        val ev = Tables.events(spark, sfDir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Event].collect()
        // counts only: sum_value is a parallel double sum whose addend
        // order differs run to run — counts are the deterministic signal
        val batch = Tables.events(spark, sfDir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start"), col("n"))
          .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
        val ms = MemoryStream[EventStreams.Event]
        val q = EventStreams.sliding(ms.toDF(), watermark = "10 minutes")
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_slide").start()
        try {
          val (b1, b2) = ev.splitAt(ev.length / 2)
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq); q.processAllAvailable()
          val streamed = spark.table("sc_slide")
            .select("window_start", "n")
            .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // -------------------------------------------------- event_sessions
      run("event_sessions", "session windows == batch session_window (q26 semantics)") {
        val ev = Tables.events(spark, sfDir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Event].collect()
        val batch = Tables.events(spark, sfDir)
          .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start"), col("w.end"), col("n_events"))
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getLong(3))).toSet
        val maxTs = ev.map(_.ts.getTime).max
        val ms = MemoryStream[EventStreams.Event]
        val q = EventStreams.sessions(ms.toDF(), watermark = "10 minutes")
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_sess_win").start()
        try {
          // ONE batch: session_window is a real aggregation, so Spark's
          // watermark DROPS late input rows — a two-batch split of
          // unordered historical data would lose the overlap (the custom
          // flatMapGroupsWithState twins tolerate the split because that
          // operator sees every row; built-in aggs do not)
          ms.addData(ev.toSeq); q.processAllAvailable()
          // sentinel pushes close every real session behind the watermark
          ms.addData(EventStreams.Event(999999L,
            new Timestamp(maxTs + 3600L * 1000), 999999L, "z", 0.0))
          q.processAllAvailable()
          ms.addData(EventStreams.Event(999998L,
            new Timestamp(maxTs + 7200L * 1000), 999999L, "z", 0.0))
          q.processAllAvailable()
          val streamed = spark.table("sc_sess_win")
            .where(col("user_id") =!= 999999L)
            .select("user_id", "session_start", "session_end", "n_events")
            .collect()
            .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
              r.getLong(3))).toSet
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ---------------------------------------------------- corpus_clean
      run("corpus_clean", "scripted dedup-within-watermark + quality gate") {
        val ms = MemoryStream[(Long, Timestamp, String, String)]
        val q = CorpusCleanStream.clean(
            ms.toDF().toDF("doc_id", "ts", "lang", "text"),
            watermark = "10 minutes", minTokens = 3)
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_clean").trigger(Trigger.ProcessingTime(0)).start()
        val good = "the cat and the dog walked to a house of friends."
        try {
          ms.addData(
            (1L, t(10, 0), "en", good),
            (2L, t(10, 1), "en", good),
            (3L, t(10, 2), "es", "el la de los y siempre"),
            (4L, t(10, 3), "en", "x"))
          q.processAllAvailable()
          ms.addData((5L, t(10, 4), "en", good))
          q.processAllAvailable()
          val rows = spark.table("sc_clean")
            .select("doc_id").as[Long].collect().sorted.toSeq
          (rows.size, 1L, rows == Seq(1L))
        } finally q.stop()
      },

      // --------------------------------------------------- dedup_cluster
      run("dedup_cluster", "scripted first-seen founder + state expiry") {
        val ms = MemoryStream[(Long, Timestamp, String)]
        val q = DedupClusterStream.assign(
            ms.toDF().toDF("doc_id", "ts", "text"), watermark = "10 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_dedup").trigger(Trigger.ProcessingTime(0)).start()
        val textA = "identical content a"
        try {
          ms.addData((10L, t(10, 0), textA), (11L, t(10, 1), textA),
            (20L, t(10, 2), "different content b"))
          q.processAllAvailable()
          ms.addData((12L, t(10, 5), textA))
          q.processAllAvailable()
          ms.addData((30L, t(13, 0), "unrelated late marker"))
          q.processAllAvailable()
          ms.addData((40L, t(13, 1), textA))
          q.processAllAvailable()
          val rows = spark.table("sc_dedup")
            .select("doc_id", "cluster_id", "is_canonical")
            .as[(Long, Long, Boolean)].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          // FULL map equality (round-10 review): the markers must found
          // their own clusters too — a state leak that only mislabels an
          // unchecked doc must fail this gate, not slip past it
          val expected = Map(
            10L -> ((10L, true)), 11L -> ((10L, false)),
            12L -> ((10L, false)), 20L -> ((20L, true)),
            30L -> ((30L, true)), 40L -> ((40L, true)))
          (rows.size, expected.size, rows == expected)
        } finally q.stop()
      },

      // ----------------------------------------------------- fuzzy_dedup
      run("fuzzy_dedup", "scripted LSH founder join + expiry re-founding") { withCheckOff {
        val ms = MemoryStream[(Long, Timestamp, String)]
        val q = FuzzyDedupStream.assign(
            ms.toDF().toDF("doc_id", "ts", "text"), watermark = "10 minutes")
          .writeStream.outputMode("append").format("memory")
          .queryName("sc_fuzzy").trigger(Trigger.ProcessingTime(0)).start()
        val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
          "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
        try {
          ms.addData((10L, t(10, 0), base),
            (11L, t(10, 1), base.replace("tango", "zulu")),
            (20L, t(10, 2), "stone bridges span quiet rivers where autumn " +
              "rain falls gently on moss covered arches beneath grey " +
              "morning skies forever"),
            (4L, t(10, 3), "x"))
          q.processAllAvailable()
          ms.addData((12L, t(10, 5), base.replace("alpha", "yankee")))
          q.processAllAvailable()
          ms.addData((30L, t(13, 0), "completely unrelated watermark marker text one"))
          q.processAllAvailable()
          ms.addData((40L, t(13, 1), base))
          q.processAllAvailable()
          ms.addData((50L, t(16, 0), "another unrelated watermark marker text two"))
          q.processAllAvailable()
          val rows = spark.table("sc_fuzzy")
            .select("doc_id", "cluster_id", "is_canonical")
            .as[(Long, Long, Boolean)].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          // FULL map equality: both watermark markers found singletons;
          // doc 50 (the final watermark mover) legitimately never
          // flushes — append mode holds it until a later watermark pass
          val expected = Map(
            10L -> ((10L, true)), 11L -> ((10L, false)),
            12L -> ((10L, false)), 20L -> ((20L, true)),
            4L -> ((4L, true)), 30L -> ((30L, true)),
            40L -> ((40L, true)))
          (rows.size, expected.size, rows == expected)
        } finally q.stop()
      }},

      // -------------------------------------------------- semantic_dedup
      run("semantic_dedup", "scripted cosine keep/drop + expiry re-founding") {
        val cents = Array(
          Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
        val ms = MemoryStream[(Long, Timestamp, Seq[Double])]
        val q = SemanticDedupStream.assign(
            ms.toDF().toDF("vec_id", "ts", "v"), cents, tau = 0.9,
            horizon = java.time.Duration.ofMinutes(10))
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_sem").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ms.addData((10L, t(10, 0), Seq(1.0, 0.02, 0.0, 0.0)),
            (11L, t(10, 1), Seq(1.0, 0.03, 0.01, 0.0)),
            (20L, t(10, 2), Seq(0.01, 1.0, 0.0, 0.0)))
          q.processAllAvailable()
          ms.addData((12L, t(10, 5), Seq(0.99, 0.02, 0.0, 0.01)))
          q.processAllAvailable()
          ms.addData((30L, t(13, 0), Seq(0.0, 0.0, 0.0, 0.0)))
          q.processAllAvailable()
          ms.addData((40L, t(13, 1), Seq(1.0, 0.02, 0.0, 0.0)))
          q.processAllAvailable()
          val rows = spark.table("sc_sem")
            .select("vec_id", "kept", "canonical_id")
            .as[(Long, Boolean, Long)].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          // FULL map equality: the zero-vector marker is kept (no
          // defined cosine) as its own canonical, never stored
          val expected = Map(
            10L -> ((true, 10L)), 11L -> ((false, 10L)),
            20L -> ((true, 20L)), 12L -> ((false, 10L)),
            30L -> ((true, 30L)), 40L -> ((true, 40L)))
          (rows.size, expected.size, rows == expected)
        } finally q.stop()
      },

      // --------------------------------------------------- streaming_etl
      // ----------------------------------------------------- mv_refresh
      run("mv_refresh", "streamed CDF deltas + v1 MV == batch recompute (q161)") {
        // the production IVM path: q160's change feed arrives in three
        // micro-batches; the built-in streaming aggregation maintains the
        // per-group delta, and v1 + streamed delta must equal q161's full
        // recompute columns exactly at the drained point
        val cdf = graft.SparkEntry.queries("q160_change_data_feed")(spark, sfDir)
          .select(col("c_custkey").as("k"), col("commit_ver"),
            col("change_type"), col("cents"))
          .as[(Long, Long, String, Long)].collect()
        val batch = graft.SparkEntry
          .queries("q161_incremental_mv_refresh")(spark, sfDir)
          .select("g", "n_v1", "sum_v1", "d_n", "d_sum", "n_full", "sum_full")
          .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
          .map(r => r._1 -> r).toMap
        val ms = MemoryStream[(Long, Long, String, Long)]
        val q = MvRefreshStream.deltas(
            ms.toDF().toDF("k", "commit_ver", "change_type", "cents"))
          .writeStream.outputMode("update").format("memory")
          .queryName("sc_mv").trigger(Trigger.ProcessingTime(0)).start()
        try {
          cdf.grouped(math.max(1, cdf.length / 3))
            .foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
          val streamed = spark.table("sc_mv")
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("g").orderBy(col("n_folded").desc)))
            .where(col("rn") === 1)
            .select("g", "d_n", "d_sum")
            .as[(Long, Long, Long)].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          val ok = streamed.keySet == batch.keySet && batch.forall {
            case (g, (_, nV1, sumV1, dN, dSum, nFull, sumFull)) =>
              streamed(g) == ((dN, dSum)) &&
                nV1 + dN == nFull && sumV1 + dSum == sumFull
          }
          (streamed.size.toLong, batch.size.toLong, ok)
        } finally q.stop()
      },

      // ----------------------------------------------------- drift_cusum
      run("drift_cusum", "sealed daily CUSUM == batch recursion with batch k (q174)") {
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts"), col("event_type"))
          .orderBy("ts", "event_id")
          .as[(Long, Timestamp, String)].collect()
        val dayOf = (ts: Timestamp) =>
          Math.floorDiv(ts.getTime, 86400000L) * 86400000L
        val byType = ev.groupBy(_._3).view.mapValues { rows =>
          rows.groupBy(r => dayOf(r._2)).view
            .mapValues(_.length.toLong).toSeq
        }.toMap
        val kByType = byType.map { case (tp, days) =>
          tp -> 1000000L * days.map(_._2).sum / days.length
        }
        val expected = byType.flatMap { case (tp, days) =>
          var cs = 0L; var mn = 0L; var mx = 0L
          days.sortBy(_._1).map { case (day, cnt) =>
            cs += 1000000L * cnt - kByType(tp)
            mn = math.min(mn, cs); mx = math.max(mx, cs)
            (tp, new Timestamp(day), cnt,
              cs - math.min(0L, mn), math.max(0L, mx) - cs)
          }
        }.toSet
        val ms = MemoryStream[(Long, Timestamp, String)]
        val q = DriftStream.monitor(
            ms.toDF().toDF("event_id", "ts", "event_type"), kByType,
            watermark = "10 minutes")
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("sc_drift").trigger(Trigger.ProcessingTime(0)).start()
        try {
          val (b1, b2) = ev.splitAt(ev.length / 2)
          ms.addData(b1.toSeq); q.processAllAvailable()
          ms.addData(b2.toSeq); q.processAllAvailable()
          val maxTs = ev.map(_._2.getTime).max
          ms.addData((999999L, new Timestamp(maxTs + 30L * 86400000L), "zz"))
          q.processAllAvailable()
          ms.addData((999998L, new Timestamp(maxTs + 31L * 86400000L), "zz"))
          q.processAllAvailable()
          val got = spark.table("sc_drift").as[DriftStream.DriftOut]
            .collect().map(r =>
              (r.event_type, r.day, r.cnt, r.up_micro, r.down_micro))
            .toSet
          (got.size, expected.size, got.nonEmpty && got == expected)
        } finally q.stop()
      },

      // ------------------------------------------------------- cms_cells
      run("cms_cells", "streamed CMS grid == batch fold (q185 sketch)") {
        val keys = Tables.orders(spark, sfDir)
          .select(col("o_custkey").as("k")).as[Long].collect()
        val batch = SketchStream.cmsCells(
            spark.createDataset(keys.toSeq).toDF("k"))
          .as[(Long, Long, Long)].collect().toSet
        val ms = MemoryStream[Long]
        val q = SketchStream.cmsCells(ms.toDF().toDF("k"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_cms").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: CMS increments commute, so the
          // final grid must not depend on it
          keys.grouped(keys.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val got = spark.table("sc_cms").as[(Long, Long, Long)]
            .collect().toSet
          val bounded = got.size <= 4 * 256
          (got.size.toLong, batch.size.toLong,
            got.nonEmpty && bounded && got == batch)
        } finally q.stop()
      },

      // ------------------------------------------- calibration_bins
      run("calibration_bins",
        "streamed reliability grid == batch fold (q206 read-back)") {
        val docs = Tables.documents(spark, sfDir)
          .select(col("lang"), col("text"))
          .as[(String, String)].collect()
        val batch = CalibrationStream.calibrationCells(
            spark.createDataset(docs.toSeq).toDF("lang", "text"))
          .as[(Long, Long, Long)].collect().toSet
        val ms = MemoryStream[(String, String)]
        val q = CalibrationStream.calibrationCells(
            ms.toDF().toDF("lang", "text"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_cal").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: bin counts commute, so the
          // final grid must not depend on it
          docs.grouped(docs.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val got = spark.table("sc_cal").as[(Long, Long, Long)]
            .collect().toSet
          val bounded = got.size <= 11
          (got.size.toLong, batch.size.toLong,
            got.nonEmpty && bounded && got == batch)
        } finally q.stop()
      },

      // --------------------------------------------- holt_forecast
      run("holt_forecast",
        "streamed month grid + read-back == batch q220 rows") {
        val orders = Tables.orders(spark, sfDir)
          .select(col("o_orderdate").cast("timestamp"),
            col("o_totalprice"))
          .as[(Timestamp, Double)].collect()
        // canonical projection: month as epoch micros (the on-disk
        // o_orderdate is TIMESTAMP_NTZ; the streamed side arrives as
        // TIMESTAMP — values agree under the session UTC clock, the
        // printed types would not)
        def canon(df: org.apache.spark.sql.DataFrame) = df
          .select(unix_micros(col("month").cast("timestamp")).as("mu"),
            col("y_cents"), col("n_train"), col("level"), col("trend"),
            col("yhat"), col("err"))
          .collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries("q220_holt_backtest")(
          spark, sfDir))
        val ms = MemoryStream[(Timestamp, Double)]
        val q = ForecastStream.monthCells(
            ms.toDF().toDF("o_orderdate", "o_totalprice"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_holt").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: month sums commute
          orders.grouped(orders.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          // materialize the stored cells before the fold's self-join
          // (a streaming memory relation can't alias-resolve twice)
          val cells = spark.table("sc_holt")
            .as[(Timestamp, Double)].collect()
          val streamed = canon(ForecastStream.readBack(
            spark.createDataset(cells.toSeq).toDF("m", "y")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // --------------------------------------------- shard_grid
      run("shard_grid",
        "streamed HRW movement grid + read-back == batch q228 rows") {
        val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
          .as[Long].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q228_rendezvous_sharding")(spark, sfDir))
        val ms = MemoryStream[Long]
        val q = ShardStream.grid(ms.toDF().toDF("doc_id"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_shard").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: cell counts commute
          ids.grouped(ids.length / 4 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          // materialize stored cells before the read-back's self-agg
          // (a streaming memory relation can't alias-resolve twice)
          val cells = spark.table("sc_shard")
            .as[(Long, Long, Long)].collect()
          val streamed = canon(ShardStream.readBack(
            spark.createDataset(cells.toSeq).toDF("wb", "wa", "n_docs")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // --------------------------------------------- agreement_grid
      run("agreement_grid",
        "streamed annotator-agreement grid + kappa read-back == batch q235 rows") {
        val ds = Tables.documents(spark, sfDir)
          .select(col("n_chars").cast("long"), col("text"))
          .as[(Long, String)].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q235_cohens_kappa")(spark, sfDir))
        val ms = MemoryStream[(Long, String)]
        val q = AgreementStream.grid(ms.toDF().toDF("n_chars", "text"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_agree").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: cell counts commute
          ds.grouped(ds.length / 4 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          // materialize stored cells before the read-back's self-joins
          // (a streaming memory relation can't alias-resolve twice)
          val cells = spark.table("sc_agree")
            .as[(Long, Long, Long)].collect()
          val streamed = canon(AgreementStream.readBack(
            spark.createDataset(cells.toSeq).toDF("a", "b", "n_cell")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // --------------------------------------------- dp_count_grid
      run("dp_count_grid",
        "streamed per-source count grid + DP read-back == batch q247 rows") {
        val ss = Tables.documents(spark, sfDir)
          .select(col("source")).as[String].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q247_dp_count_release")(spark, sfDir))
        val ms = MemoryStream[String]
        val q = DpCountStream.grid(ms.toDF().toDF("source"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_dp").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: source counts commute
          ss.grouped(ss.length / 4 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val cells = spark.table("sc_dp").as[(String, Long)].collect()
          val streamed = canon(DpCountStream.readBack(
            spark.createDataset(cells.toSeq).toDF("source", "n_docs")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // --------------------------------------------- pass_at_k_grid
      run("pass_at_k_grid",
        "streamed per-task (n,c) counters + estimator read == batch q249 rows") {
        val ss = graft.operators.CurationQueries
          .passSamples(Tables.lineitem(spark, sfDir))
          .as[(Long, Long)].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q249_pass_at_k")(spark, sfDir))
        val ms = MemoryStream[(Long, Long)]
        val q = PassAtKStream.grid(ms.toDF().toDF("task", "ok"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_passk").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: sample counts commute
          ss.grouped(ss.length / 5 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val cells = spark.table("sc_passk")
            .as[(Long, Long, Long)].collect()
          val streamed = canon(PassAtKStream.readBack(
            spark.createDataset(cells.toSeq).toDF("task", "n", "c")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // --------------------------------------------- copeland_grid
      run("copeland_grid",
        "streamed per-pair duel counters + Copeland read == batch q251 rows") {
        val ss = graft.operators.AgreementQueries
          .duels(Tables.lineitem(spark, sfDir))
          .as[(Long, Long)].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q251_condorcet_copeland")(spark, sfDir))
        val ms = MemoryStream[(Long, Long)]
        val q = CopelandStream.grid(ms.toDF().toDF("w", "l"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_cope").trigger(Trigger.ProcessingTime(0)).start()
        try {
          // arbitrary micro-batch split: duel counts commute
          ss.grouped(ss.length / 4 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val cells = spark.table("sc_cope")
            .as[(Long, Long, Long, Long)].collect()
          val streamed = canon(CopelandStream.readBack(
            spark.createDataset(cells.toSeq)
              .toDF("u", "v", "w_uv", "w_vu")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ----------------------------------------- context_sizing_grid
      run("context_sizing_grid",
        "streamed per-cap pricing counters + read == batch q260 rows") {
        val ss = Tables.documents(spark, sfDir)
          .select(size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n"))
          .as[Long].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q260_context_length_sizing")(spark, sfDir))
        val ms = MemoryStream[Long]
        val q = ContextSizingStream.grid(ms.toDF().toDF("n"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_sizing").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ss.grouped(ss.length / 4 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val cells = spark.table("sc_sizing")
            .as[(Long, Long, Long, Long, Long, Long)].collect()
          val streamed = canon(ContextSizingStream.readBack(
            spark.createDataset(cells.toSeq).toDF("cap", "n_docs",
              "tokens_total", "tokens_truncated", "tokens_padded",
              "useful")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      // ------------------------------------------- loo_ablation_grid
      run("loo_ablation_grid",
        "streamed per-source ledger + rest=total-self read == batch q253 rows") {
        val ss = Tables.documents(spark, sfDir)
          .select(col("source"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("n_tok"))
          .as[(String, Long)].collect()
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSet
        val batch = canon(graft.SparkEntry.queries(
          "q253_loo_source_ablation")(spark, sfDir))
        val ms = MemoryStream[(String, Long)]
        val q = LooAblationStream.grid(ms.toDF().toDF("source", "n_tok"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("sc_loo").trigger(Trigger.ProcessingTime(0)).start()
        try {
          ss.grouped(ss.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk.toSeq); q.processAllAvailable()
          }
          val cells = spark.table("sc_loo")
            .as[(String, Long, Long)].collect()
          val streamed = canon(LooAblationStream.readBack(
            spark.createDataset(cells.toSeq)
              .toDF("source", "n_docs", "tok")))
          (streamed.size, batch.size, streamed.nonEmpty && streamed == batch)
        } finally q.stop()
      },

      run("streaming_etl", "AvailableNow drain: commit log acks every input record") {
        val dir = Files.createTempDirectory("sc-etl")
        val n = 500
        val csvDir = dir.resolve("in"); Files.createDirectories(csvDir)
        Files.writeString(csvDir.resolve("appliances.csv"),
          (1 to n).map(i => s"192.168.${i / 256}.${i % 256},device-$i")
            .mkString("\n"))
        val server = new graft.MockLoadServerMain(delayMillis = 0)
        try {
          val ckpt = dir.resolve("ckpt").toString
          val sink = graft.pipeline.HttpSink.Config(
            server.loadUrl, "secret-token", batchSize = 100,
            spillDir = dir.resolve("spill").toString)
          val q = StreamingEtl.runAvailable(
            StreamingEtl.csvSource(spark, csvDir.toString,
              fixedTimestamp = Some(1700000000L)),
            sink, ckpt)
          q.stop()
          val commits = Paths.get(ckpt, "sink-commits")
          val delivered =
            if (!Files.isDirectory(commits)) 0L
            else {
              val it = Files.list(commits).iterator()
              var sum = 0L
              while (it.hasNext) {
                val f = it.next()
                if (f.getFileName.toString.endsWith(".committed"))
                  sum += Files.readString(f).trim.toLong
              }
              sum
            }
          val spills = {
            val sp = dir.resolve("spill")
            if (!Files.isDirectory(sp)) 0L
            else { val st = Files.list(sp); try st.count() finally st.close() }
          }
          (delivered, n.toLong, delivered == n.toLong && spills == 0L)
        } finally {
          server.stop()
          // best-effort temp cleanup (csv + checkpoint + spill trees)
          try {
            import scala.jdk.CollectionConverters._
            val st = java.nio.file.Files.walk(dir)
            try st.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(p =>
                try Files.deleteIfExists(p)
                catch { case _: java.io.IOException => () })
            finally st.close()
          } catch { case _: java.io.IOException => () }
        }
      }
    )

    def jsonLine(r: TwinResult): String = {
      val err = r.err.map(e =>
        ",\"err\":\"" + e.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .getOrElse("")
      s"""{"twin":"${r.twin}","check":"${r.check}","stream_rows":${r.streamRows},"batch_rows":${r.batchRows},"parity":${r.parity}$err}"""
    }
    val lines = results.map(jsonLine)
    val nPass = results.count(_.parity)
    val summary =
      s"""{"metric":"stream_parity","twins":${results.size},"pass":$nPass,"fail":${results.size - nPass},"sf":"$sfDir"}"""
    try {
      val p = Paths.get("target", "stream_parity.json")
      Files.createDirectories(p.getParent)
      Files.write(p, ((lines :+ summary).mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () }
    spark.stop()
    System.err.flush()
    lines.foreach(println)
    println(summary) // line of record LAST (the Bench emission contract)
    System.out.flush()
    if (nPass != results.size) sys.exit(1)
  }
}
