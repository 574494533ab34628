package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-provided testdata
  * (`/root/testdata/sf*`; see TESTDATA.md). Every query receives the
  * scale-factor directory at call time so the same code runs at any SF —
  * and, on a real cluster, against any warehouse path. Each read is a
  * `spark.read.parquet`, so Catalyst owns column pruning and filter
  * pushdown into the scan (verified via `.explain("formatted")` — see
  * PlanChecks in the test suite). The dims (region..part) are read as
  * they are. `orders`, `lineitem`, `events`, `documents` and
  * `embeddings` are hash-repartitioned on their key (see [[apply]]):
  * their rows come back in no file order, so a caller that needs an
  * order (an event-time replay, say) sorts explicitly, and their plans
  * carry one `Exchange hashpartitioning(key, n), REPARTITION_BY_NUM`
  * over the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped relation cache. A path-based `spark.read.parquet`
    * builds a fresh file index + reads the footer schema on EVERY call
    * (~80 ms even when the OS caches the file — measured round 11 with
    * a build-only timing of every table), and multi-table audit queries
    * call these loaders 10-15 times, so plan CONSTRUCTION was paying
    * ~1 s of pure re-listing per build (the round-10 `build_sec` creep). Catalog
    * tables don't behave that way — Spark caches a registered table's
    * relation and file index until REFRESH TABLE — so this gives the
    * path-based loaders the same catalog semantics: first read resolves,
    * later reads reuse the SAME analyzed relation. The testdata dirs are
    * immutable by contract (TESTDATA.md); [[refresh]] is the REFRESH
    * TABLE equivalent for any future mutable-path caller. Entries are
    * dropped when their session's context stops (application-end
    * listener, as in [[graft.plans.SharedFrames]]) so a dead session is
    * never pinned. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (hooked.add(spark)) {
      try spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            relations.keySet.removeIf(_._1 eq spark)
            hooked.remove(spark)
          }
        })
      catch { case _: Throwable => hooked.remove(spark) }
    }
    relations.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      { case (s, path) =>
        val raw = s.read.parquet(path)
        // The testdata files are single-file single-ROW-GROUP parquet, so
        // every scan is a 1-task stage and ALL fused map-side work —
        // tokenize/shingle/decode expressions, partial aggregation, the
        // build side of every shuffle — ran on one core while the other
        // 31 idled (JobTrace r16: q36's whole shingle pass was a 2.1 s
        // single-task stage). This is guide §2.5's unsplittable-input
        // case: re-spread rows across the session's cores immediately
        // after the read. Filters and column pruning still push through
        // the exchange into the scan (PlanChecksSpec pins PushedFilters),
        // and the exchange moves only the pruned columns of a tiny file.
        // Tables whose whole content is a broadcast-dim (region..part)
        // stay 1-task: their consumers broadcast them without a shuffle,
        // and 32 near-empty tasks per dim scan is pure overhead.
        parallelizeKey.get(name) match {
          case Some(k) => raw.repartition(
            s.sparkContext.defaultParallelism,
            org.apache.spark.sql.functions.col(k))
          case None => raw
        }
      })
  }

  /** Fact/corpus tables whose scans carry the expression-heavy and
    * aggregate-heavy map work (see [[apply]]), keyed by each table's
    * dominant join/group key so the injected exchange is REUSED by
    * downstream joins, aggregates and windows on the same key (guide
    * §2.4: operations keyed alike share one exchange) instead of a
    * round-robin spread that satisfies nothing (and pays the
    * sort-before-repartition tax). The dims (region..part) stay
    * 1-task: consumers broadcast them without a shuffle. */
  private val parallelizeKey = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "events" -> "user_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Drop every cached relation for the session — the REFRESH TABLE
    * analogue for callers whose paths mutate between reads. */
  def refresh(spark: SparkSession): Unit =
    relations.keySet.removeIf(_._1 eq spark)

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` is TIMESTAMP(NANOS) in the source parquet. With
    * `spark.sql.legacy.parquet.nanosAsLong` it scans as nanos-since-epoch
    * LongType; normalize to TimestampType by integer division (`div`, not
    * float `/`: nano epochs ~1.7e18 exceed double's 2^53 exact range),
    * truncating toward zero exactly as DuckDB's nanos->micros read does.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Regenerated testdata writes TIMESTAMP(MICROS, isAdjustedToUTC=
        // false) -> Spark scans TIMESTAMP_NTZ. The session timezone is
        // pinned to UTC, so casting NTZ -> TIMESTAMP reinterprets the
        // same wall-clock as the same instant DuckDB's naive read sees.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
