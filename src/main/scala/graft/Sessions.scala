package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Settings chosen for 100 TB posture and oracle parity:
  *   - AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
  *   - shuffle partitions sized to the machine in local mode (a cluster
  *     deploy would size to ~2-3x total cores; AQE coalesces down);
  *   - ANSI off: the engine follows classic Spark/DuckDB-compatible
  *     non-strict semantics (cast failure -> NULL, x/0 -> NULL), which is
  *     also what the reference's lenient parsing maps to
  *     (/root/reference/etl/main.go:214-218 discards parse errors);
  *   - UTC session timezone so timestamp results are engine-independent.
  */
object Sessions {
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores)
      // Always use the single-file-per-map-task sort shuffle writer
      // (r16, guide §2.2): the bypass-merge writer — Spark's default
      // whenever reduce partitions <= 200 — opens R files + R
      // compression streams PER MAP TASK and then concatenates them,
      // an M x R file-op quadratic that dominated every iterative plan
      // at local[32] (r16 task-metric profile, q165: 58 task-core-
      // seconds of shuffle WRITE for ~3 MB of shuffle data; 186
      // run-core-s total vs 12 at 8-wide). With the sort writer the same
      // query is 29 run-core-s and swrite ~= 0. At cluster scale (R > 200) the
      // sort writer is already the default path, so this pins local
      // mode to the exact writer a 100 TB deployment exercises instead
      // of a small-R special case that scales quadratically.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Bound task memory pages at 4 MiB (r16, guide §5): the default
      // page sizing (min(64M, heapShare/cores/16)) lands in the tens of
      // MB on a 28 GiB heap, and every such allocation is HUMONGOUS to
      // G1 (>= half a 16 MB region) — allocated straight from the old
      // gen via the slow path, fragmenting regions and triggering
      // concurrent cycles. A r16 repeat-run profile measured
      // intermittent 5-10x wall/CPU inflation in 32-wide task bursts
      // correlated with GC activity; 4 MiB pages allocate through the
      // normal young path.
      .config("spark.buffer.pageSize", "4m")
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark has no
      // native type for: read as nanos-long, normalized to TimestampType
      // (micros, truncated like DuckDB does) in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(appName: String, cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
