package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Coverage-completing operators: grouping sets, full outer join, map
  * functions, exact interpolated percentiles, the custom typed-Aggregator
  * extension surface, and approximate distinct counting.
  */
object ExtendedQueries {

  // ------------------------------------------------------------------
  // q73's z-order layout stats, factored (round 10) so q155's min-max
  // pruning audit composes the SAME bucket-stats definition instead of
  // duplicating the curve arithmetic. Declared before `defs` (object
  // init order).

  /** (o_custkey, oday): the two z-ordered dimensions. */
  private[operators] def zorderBase(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val oday = datediff(col("o_orderdate").cast("date"),
      to_date(lit("1970-01-01")))
    Tables.orders(s, d).select(col("o_custkey"), oday.cast("long").as("oday"))
  }

  /** One-row global bounds (clo, chi, dlo, dhi) — broadcast by callers. */
  private[operators] def zorderBounds(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    zorderBase(s, d).agg(
      min("o_custkey").as("clo"), max("o_custkey").as("chi"),
      min("oday").as("dlo"), max("oday").as("dhi"))

  /** The 32-bucket z-order layout stats (bucket, cnt, cust_lo, cust_hi,
    * day_lo, day_hi), UNORDERED — q73 orders it; q155 joins probes
    * against it. See q73's description for the scaling rationale. */
  private[operators] def zorderBucketStats(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val base = zorderBase(s, d)
    val z = base.crossJoin(broadcast(zorderBounds(s, d))).select(
      graft.functions.ZOrder.zValue(
        expr(graft.functions.ZOrder.scale16Sql("o_custkey", "clo", "chi", "div")),
        expr(graft.functions.ZOrder.scale16Sql("oday", "dlo", "dhi", "div")))
        .as("zval"),
      col("o_custkey"), col("oday"))
    val mx = z.agg(max("zval").as("zmax"))
    z.crossJoin(broadcast(mx))
      .groupBy(expr("(zval * 32) div (zmax + 1)").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min("o_custkey").as("cust_lo"), max("o_custkey").as("cust_hi"),
        min("oday").as("day_lo"), max("oday").as("day_hi"))
  }

  /** [[zorderBucketStats]] behind the session-scoped SharedFrames cache
    * — the manifest-stats frame is 32 METADATA rows derived from a full
    * orders pass, and the maintenance family (q155 pruning audit, q163
    * depth audit) re-derives it per query AND per internal reference
    * (the round-10 plan census counted 32 file scans in q163's
    * finalized plan: ReuseExchange dedups within a query, never across
    * references through a union). Materializing once per session is
    * the honest cluster answer — a real table's footer stats live in
    * the manifest and are READ, not recomputed. q73 itself keeps the
    * UNCACHED build (it IS the stats-construction operator and pays
    * the one data-proportional pass). */
  private[operators] def zorderBucketStatsShared(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.plans.SharedFrames(s, d, "zorder_stats") {
      zorderBucketStats(s, d)
    }

  /** The q73 oracle's CTE chain (b0/bd/sc/z/mx), shared with q155. */
  private[operators] val zorderCtes: String =
    s"""b0 AS (SELECT o_custkey,
      |    datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
      |      AS oday
      |  FROM orders),
      |bd AS (SELECT min(o_custkey) AS clo, max(o_custkey) AS chi,
      |    min(oday) AS dlo, max(oday) AS dhi FROM b0),
      |sc AS (SELECT o_custkey, oday,
      |    ${graft.functions.ZOrder.scale16Sql("o_custkey", "clo", "chi", "//")} AS cx,
      |    ${graft.functions.ZOrder.scale16Sql("oday", "dlo", "dhi", "//")} AS cy
      |  FROM b0 CROSS JOIN bd),
      |z AS (SELECT ${graft.functions.ZOrder.zValueSql("cx", "cy")} AS zval,
      |    o_custkey, oday FROM sc),
      |mx AS (SELECT max(zval)::BIGINT AS zmax FROM z)""".stripMargin

  /** The q73 oracle's bucket-stats SELECT (no ORDER BY), shared with
    * q155 (which wraps it as a CTE). */
  private[operators] val zorderStatsSelect: String =
    """SELECT ((z.zval * 32) // (mx.zmax + 1))::BIGINT AS bucket,
      |  count(*)::BIGINT AS cnt,
      |  min(z.o_custkey)::BIGINT AS cust_lo, max(z.o_custkey)::BIGINT AS cust_hi,
      |  min(z.oday) AS day_lo, max(z.oday) AS day_hi
      |FROM z CROSS JOIN mx
      |GROUP BY bucket""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q41
    "q41_grouping_sets" -> QueryDef.sql(
      "Explicit GROUPING SETS ((returnflag), (linestatus)): two disjoint " +
      "rollup dimensions in one aggregate pass.",
      s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*)::BIGINT AS n,
        |  ${RelationalQueries.sqlSplitSum("round(l_extendedprice * 100)")} / 100.0 AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("graft_q41_lineitem")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |  coalesce(l_linestatus, 'ALL') AS linestatus,
          |  count(*) AS n,
          |  -- the SPARK-SQL-dialect twin of RelationalQueries.sqlSplitSum
          |  -- (D-suffixed literals because Spark SQL parses bare decimals
          |  -- as DECIMAL; ::DOUBLE casts spelled as CAST): exact cents via
          |  -- the lo/hi split-sum — a single long wraps at scale, a
          |  -- DECIMAL(30,0) sum is ~2x slower
          |  (CAST(sum(CAST(floor(round(l_extendedprice * 100)/1000000.0D) AS BIGINT)) AS DOUBLE) * 1000000.0D
          |   + CAST(sum(CAST(round(l_extendedprice * 100) - floor(round(l_extendedprice * 100)/1000000.0D)*1000000.0D AS BIGINT)) AS DOUBLE)) / 100.0D AS revenue
          |FROM graft_q41_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY returnflag, linestatus""".stripMargin)
    },

    // ---------------------------------------------------------------- q42
    "q42_join_full_outer" -> QueryDef.sql(
      "Full outer join between two non-covering slices (indebted " +
      "customers x pending orders): rows survive from both unmatched sides.",
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  count(c.c_custkey)::BIGINT AS has_customer_row,
        |  count(o.o_orderkey)::BIGINT AS n_pending_orders
        |FROM (SELECT * FROM customer WHERE c_acctbal < 0) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY coalesce(c.c_custkey, o.o_custkey)
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).where(col("c_acctbal") < 0)
      val o = Tables.orders(s, d).where(col("o_orderstatus") === "P")
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"))
        .agg(
          count(col("c_custkey")).as("has_customer_row"),
          count(col("o_orderkey")).as("n_pending_orders"))
        .orderBy("custkey")
    },

    // ---------------------------------------------------------------- q43
    "q43_map_entries" -> QueryDef.sql(
      "MapType surface: parse the JSON props payload into MAP<STRING," +
      "BIGINT> and explode to entry rows.",
      """SELECT event_id, 'k' AS key,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS value
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")).as("m"))
        .select(col("event_id"), explode(col("m")))
        .orderBy("event_id", "key")
    },

    // ---------------------------------------------------------------- q44
    "q44_percentiles" -> QueryDef.sql(
      "Exact interpolated percentiles (quartiles + median) per group. " +
      "Fractions are binary-exact (0.25/0.5/0.75) over integer-valued " +
      "quantities, so interpolation is engine-exact.",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS q3_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q1_qty"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.75)").as("q3_qty"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q45
    "q45_custom_aggregator" -> QueryDef.sql(
      "Custom typed Aggregator[IN,BUF,OUT] (SURVEY.md §7.5) as a UDAF: " +
      "single-pass numeric stats whose outputs equal built-ins, making " +
      "the extension surface itself oracle-verifiable.",
      """SELECT l_returnflag,
        |  count(l_quantity)::BIGINT AS n,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val stats = udaf(graft.functions.StatsAggregator, Encoders.DOUBLE)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(stats(col("l_quantity")).as("st"))
        .select(col("l_returnflag"),
          col("st.n").as("n"),
          round(col("st.sum"), 4).as("sum_qty"),
          col("st.min").as("min_qty"),
          col("st.max").as("max_qty"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q48
    "q48_pivot" -> QueryDef.sql(
      "Long->wide pivot with explicit pivot values (deterministic " +
      "columns; the inverse of q18's unpivot).",
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 4) AS F_qty,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 4) AS O_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0.0)).as("F_qty"),
          coalesce(col("O"), lit(0.0)).as("O_qty"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q49
    "q49_collect_and_fold" -> QueryDef.sql(
      "Ordered collection aggregates + higher-order array functions: " +
      "per-customer order-price list (sorted for determinism), folded " +
      "total, filtered count, and a string aggregation.",
      """SELECT o_custkey,
        |  round(list_reduce(list_prepend(0.0, list(round(o_totalprice, 2) ORDER BY o_totalprice, o_orderkey)), (a, b) -> a + b), 2) AS folded_total,
        |  len(list_filter(list(round(o_totalprice, 2) ORDER BY o_totalprice, o_orderkey), x -> x > 100000))::BIGINT AS n_big,
        |  string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statuses
        |FROM orders
        |WHERE o_custkey % 10 = 0
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      // collect_list order is nondeterministic: collect (raw price,
      // orderkey, rounded price) structs and array_sort them — struct
      // sort compares fields in order, matching the oracle's
      // ORDER BY o_totalprice, o_orderkey exactly (sorting by the
      // ROUNDED price could order ties differently and shift the fold
      // sum by an ulp).
      val prices = transform(
        array_sort(collect_list(struct(
          col("o_totalprice").as("p0"), col("o_orderkey").as("k"),
          round(col("o_totalprice"), 2).as("p")))),
        x => x.getField("p"))
      val statuses = array_join(
        transform(array_sort(collect_list(struct(col("o_orderkey").as("k"), col("o_orderstatus").as("st")))),
          x => x.getField("st")), ",")
      Tables.orders(s, d)
        .where(col("o_custkey") % 10 === 0)
        .groupBy("o_custkey")
        .agg(
          round(aggregate(prices, lit(0.0), (a, b) => a + b), 2).as("folded_total"),
          size(filter(prices, x => x > 100000)).cast("long").as("n_big"),
          statuses.as("statuses"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------- q50
    "q50_window_range_frame" -> QueryDef.sql(
      "RANGE window frame over event-time: trailing 1-hour sum of value " +
      "per user (frame bounded by ordering-value distance, not row " +
      "count — the other frame mode next to q12's ROWS frame).",
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
        |        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS trailing_1h
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // epoch seconds as ONE double division of the exact micros int64 —
      // the same correctly-rounded result DuckDB's epoch() produces, so
      // frame membership is bit-identical
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")).cast("double") / lit(1e6))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          round(sum("value").over(w), 4).as("trailing_1h"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- q51
    "q51_stat_aggregates" -> QueryDef.sql(
      "Statistical aggregates: sample stddev/variance, correlation and " +
      "covariance of price vs quantity per return flag (rounded: the " +
      "engines' accumulation algorithms differ at ulp scale).",
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_pq
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("cov_pq"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q52
    "q52_window_distribution" -> QueryDef.sql(
      "Distribution window functions: ntile quartiles, percent_rank, " +
      "cume_dist (exact rational arithmetic -> engine-exact) and framed " +
      "first/last value per priority group.",
      """SELECT o_orderkey,
        |  ntile(4) OVER w::BIGINT AS price_quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  round(first_value(o_totalprice) OVER w, 2) AS cheapest,
        |  round(last_value(o_totalprice) OVER
        |    (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS priciest
        |FROM orders
        |WHERE o_orderkey % 7 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .where(col("o_orderkey") % 7 === 0)
        .select(
          col("o_orderkey"),
          ntile(4).over(w).cast("long").as("price_quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          round(first_value(col("o_totalprice")).over(w), 2).as("cheapest"),
          round(last_value(col("o_totalprice")).over(wFull), 2).as("priciest"))
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- q46
    "q46_approx_count_distinct" -> QueryDef.sql(
      "HyperLogLog++ approximate distinct counting AUDITED against the " +
      "exact count: per group, the exact distinct plus the derived " +
      "error-bound verdict |approx - exact| <= 10% of exact (5x the " +
      "configured rsd 0.02 — HLL error is deterministic per dataset, " +
      "not random, so the margin absorbs dataset-shape variance, never " +
      "flakiness). The raw estimate is engine-internal sketch layout " +
      "(kept visible in SimilaritySpec's anchor), but the AUDIT is " +
      "engine-independent, so the row is oracle-checkable: the oracle " +
      "pins the exact count and the bound verdict — a violated bound " +
      "hash-fails the row (round-11 close of the r10 'shrink the " +
      "rows-only surface' item; q85 got the same treatment). At " +
      "100 TB only the HLL side runs: fixed 2^p-register state per " +
      "group, map-side combinable, vs countDistinct's per-key shuffle " +
      "— the audit pass exists to certify the cheap path against the " +
      "expensive one before the expensive one is switched off.",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |  true AS hll_within_10pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Two-level form (guide §2.3 "aggregate before you shuffle"): the
      // mixed distinct/non-distinct single aggregate planned an Expand
      // that doubled every input row through two exchanges. Dedup to
      // (flag, partkey) first — map-side combinable — then count the
      // pairs exactly AND feed the SAME distinct values to the HLL
      // (sketch insertion is idempotent, so the estimate is identical
      // to the raw-stream one bit for bit).
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("exact_parts"),
          approx_count_distinct("l_partkey", 0.02).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double")
            <= col("exact_parts").cast("double") * 0.10)
            .as("hll_within_10pct"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q56
    "q56_stratified_sample" -> QueryDef.sql(
      "Stratified per-class sampling for training-data class balancing: " +
      "downsample the dominant class (en at 0.3) while keeping the rest " +
      "at 0.8 — a DETERMINISTIC Bernoulli per row via q62's " +
      "multiplicative integer hash (salted so the sample decision is " +
      "independent of q62's split assignment), gated per stratum. Pure " +
      "int64 arithmetic: no engine RNG, so the sample is reproducible " +
      "across engines AND oracle-hash-exact — what a training-data " +
      "pipeline needs to re-materialize the identical sample anywhere. " +
      "One scan, zero shuffles, zero driver round-trips (the per-stratum " +
      "rate is a CASE, so unknown/future langs default to the 0.8 keep " +
      "rate instead of silently vanishing); costs a filter at 100 TB. " +
      "Replaced round 1-3's sampleBy (engine-RNG, rows-only): same " +
      "target rates, now exact-checkable.",
      s"""WITH s AS (SELECT doc_id, lang,
        |  ${graft.functions.DeterministicHash.knuth32Sql("doc_id",
             graft.functions.DeterministicHash.sampleSalt)} AS h
        |  FROM documents)
        |SELECT doc_id, lang FROM s
        |WHERE h % 1000 < CASE WHEN lang = 'en' THEN 300 ELSE 800 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // sampleSalt BEFORE the prime reduction: same Knuth-hash shape as
      // q62 but a different stream, so sample membership and train/val/
      // test assignment stay uncorrelated (DeterministicHash holds the
      // one definition per dialect + the overflow rationale).
      val h = graft.functions.DeterministicHash.knuth32(col("doc_id"),
        graft.functions.DeterministicHash.sampleSalt)
      Tables.documents(s, d)
        .withColumn("h", h)
        .where(col("h") % 1000 <
          when(col("lang") === "en", lit(300)).otherwise(lit(800)))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q61
    "q61_histogram" -> QueryDef.sql(
      "Equi-width histogram of order totals (20 buckets over [0, 600k], " +
      "under/overflow buckets 0 and 21) with per-bucket count and share " +
      "— the distribution profile a data-quality report computes per " +
      "column. Bucket arithmetic written explicitly (floor of one IEEE " +
      "division) so both engines agree bit-for-bit; one hash " +
      "aggregation.",
      """WITH b AS (SELECT CASE WHEN o_totalprice < 0 THEN 0
        |    WHEN o_totalprice >= 600000 THEN 21
        |    ELSE floor(o_totalprice / 30000.0)::BIGINT + 1 END AS bucket
        |  FROM orders),
        |n AS (SELECT count(*)::DOUBLE AS n FROM orders)
        |SELECT bucket, count(*)::BIGINT AS cnt,
        |  count(*)::DOUBLE / n.n AS share
        |FROM b CROSS JOIN n
        |GROUP BY bucket, n.n
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      val n = Tables.orders(s, d).agg(count(lit(1)).cast("double").as("n"))
      val bucket = when(col("o_totalprice") < 0, lit(0L))
        .when(col("o_totalprice") >= 600000, lit(21L))
        .otherwise(floor(col("o_totalprice") / 30000.0).cast("long") + 1)
      Tables.orders(s, d)
        .select(bucket.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .join(broadcast(n))
        .select(col("bucket"), col("cnt"),
          (col("cnt").cast("double") / col("n")).as("share"))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------- q62
    "q62_train_val_test_split" -> QueryDef.sql(
      "Deterministic train/val/test split (80/10/10) by multiplicative " +
      "integer hash of the document id — the reproducible, join-free " +
      "split assignment a training pipeline stamps on every example. " +
      "Pure int64 arithmetic (no engine RNG, no xxhash dialect) so the " +
      "assignment is portable AND oracle-exact; two CRT limbs keep the " +
      "per-limb products overflow-free while giving ~1e12 ids of input " +
      "resolution (DeterministicHash holds the one definition per " +
      "dialect + the full rationale). Per-split-per-language counts " +
      "audit stratification drift.",
      s"""WITH s AS (SELECT doc_id, lang,
        |  ${graft.functions.DeterministicHash.knuth32Sql("doc_id", graft.functions.DeterministicHash.splitSalt)} AS h
        |  FROM documents),
        |a AS (SELECT doc_id, lang,
        |  CASE WHEN h % 100 < 80 THEN 'train'
        |       WHEN h % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM s)
        |SELECT split, lang, count(*)::BIGINT AS n
        |FROM a GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin) { (s, d) =>
      val h = graft.functions.DeterministicHash.knuth32(col("doc_id"), graft.functions.DeterministicHash.splitSalt)
      val split = when(h % 100 < 80, "train")
        .when(h % 100 < 90, "val")
        .otherwise("test")
      Tables.documents(s, d)
        .select(split.as("split"), col("lang"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },

    // ---------------------------------------------------------------- q73
    "q73_zorder_layout" -> QueryDef.sql(
      "Z-order (Morton) data layout: interleave the bits of " +
      "(o_custkey, order epoch-day) into one curve key, bucket rows by " +
      "equi-width ranges of that key, and report each bucket's row " +
      "count plus min/max of BOTH dimensions — the footer-stats " +
      "rectangle a z-ordered file would carry. Sorting by the curve " +
      "key bounds both columns' per-file spans at once, so scans " +
      "filtering on either customer OR date skip most files, where a " +
      "single-column sort only serves its leading column; that is how " +
      "one 100 TB copy serves two access paths (the materialized " +
      "writer — repartitionByRange(z) + sortWithinPartitions — is " +
      "exercised with measured span contraction in ZOrderSpec). Each " +
      "dimension is min-max scaled onto the full 16-bit domain FIRST — " +
      "with raw values the dimension owning the highest varying bit " +
      "dominates the curve and the layout degenerates to its " +
      "single-column sort (ZOrder.scale16Sql documents the trap). The " +
      "interleave and the scaling are generated from ONE definition " +
      "for both dialects (functions.ZOrder, the DeterministicHash " +
      "pattern) in pure int64 shifts, and bucketing is arithmetic on " +
      "broadcast min/max scalars — deterministic equi-width, no " +
      "sampled range boundaries, no global-sort window anywhere.",
      s"""WITH $zorderCtes
        |$zorderStatsSelect
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      zorderBucketStats(s, d).orderBy("bucket")
    },

    // ---------------------------------------------------------------- q74
    "q74_key_skew_profile" -> QueryDef.sql(
      "Join/aggregation key-skew profile: the top-10 heaviest " +
      "o_custkey values with count, share of all rows, and " +
      "ratio-to-mean-key — the diagnostic that decides WHEN the skew " +
      "mitigations this engine carries (salting, AQE skew-join) are " +
      "worth their cost, run before shuffling 100 TB on a key. Shapes " +
      "for scale: per-key counts are one partial-agg exchange; the " +
      "top-10 is TakeOrderedAndProject (plan-asserted — never a " +
      "ranking window over the full key population, which would " +
      "single-partition |distinct keys| rows); the corpus-wide " +
      "total/key-count scalars ride back as a 1-row broadcast and the " +
      "rank window runs over exactly 10 rows. Shares are one IEEE " +
      "division of exact integer counts, so the profile is " +
      "oracle-hash-exact.",
      """WITH c AS (SELECT o_custkey AS key, count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY o_custkey),
        |g AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS nkeys
        |  FROM c),
        |r AS (SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, key)::BIGINT AS rnk
        |  FROM c)
        |SELECT rnk, key, cnt,
        |  (cnt::DOUBLE) / (g.total::DOUBLE) AS share,
        |  ((cnt::DOUBLE) * (g.nkeys::DOUBLE)) / (g.total::DOUBLE)
        |    AS ratio_to_mean
        |FROM r CROSS JOIN g
        |WHERE rnk <= 10
        |ORDER BY rnk""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("cnt"))
      val g = c.agg(sum("cnt").as("total"), count(lit(1)).as("nkeys"))
      // top-10 FIRST (TakeOrderedAndProject: per-partition heaps + one
      // 10-row merge), THEN the rank window over those 10 rows only —
      // same result as ranking the full key set, none of the cost
      val top = c.orderBy(col("cnt").desc, col("key")).limit(10)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("key"))
      top.crossJoin(broadcast(g))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select(col("rnk"), col("key"), col("cnt"),
          (col("cnt").cast("double") / col("total").cast("double")).as("share"),
          ((col("cnt").cast("double") * col("nkeys").cast("double"))
            / col("total").cast("double")).as("ratio_to_mean"))
        .orderBy("rnk")
    },

    // ---------------------------------------------------------------- q82
    "q82_mad_outliers" -> QueryDef.sql(
      "Robust per-source outlier profile via median absolute deviation " +
      "— the length-distribution cleaning gate that, unlike mean/stddev " +
      "(q57's z-score family), a single garbage document cannot drag: " +
      "per source, med = exact median(n_chars), mad = exact " +
      "median(|n_chars - med|), outliers = docs with |x - med| > " +
      "3 * mad. Medians interpolate integer-valued inputs at fraction " +
      "0.5, so every med/mad is an exact binary .0/.5 double and the " +
      "3*mad comparison is engine-exact — no rounding, hash-exact. " +
      "Shape at 100 TB: two hash aggregates on source (exact " +
      "percentiles per group — the group count is sources, not docs) " +
      "bridged by a broadcast join of the tiny per-source medians back " +
      "onto the corpus; the outlier count folds into the second " +
      "aggregate's pass. No window over the full corpus, no sort.",
      """WITH m AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
        |           FROM documents GROUP BY source),
        |a AS (SELECT d.source, abs(d.n_chars::DOUBLE - m.med) AS ad
        |      FROM documents d JOIN m USING (source)),
        |s AS (SELECT source, quantile_cont(ad, 0.5) AS mad,
        |        count(*)::BIGINT AS n_docs
        |      FROM a GROUP BY source)
        |SELECT s.source, s.n_docs, m.med, s.mad,
        |  sum(CASE WHEN a.ad > 3 * s.mad THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers
        |FROM s JOIN m USING (source) JOIN a USING (source)
        |GROUP BY s.source, s.n_docs, m.med, s.mad
        |ORDER BY s.source""".stripMargin) { (s, d) =>
      madOutlierProfile(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q83
    "q83_table_checksum" -> QueryDef.sql(
      "Bucketed content checksums over orders — the anti-entropy " +
      "primitive for verifying two copies of a 100 TB table (replica " +
      "sync, post-migration audit, pre/post-compaction identity) " +
      "WITHOUT moving the data: ship per-bucket digests (KBs), compare, " +
      "re-scan only buckets that differ. Per row, a 40-bit digest " +
      "(first 10 hex chars of md5 over a canonical '|'-joined repr of " +
      "int/string/date columns — types whose rendering is identical " +
      "across engines by ISO convention); per bucket (key mod 64), " +
      "count + SUM + XOR of digests. Order-independent by construction " +
      "(integer sum, xor), so hash-exact with no ordering contract. " +
      "Capacity is a DESIGN BOUND, not luck: 40-bit digests keep an " +
      "int64 sum exact to 2^23 (~8.4M) rows per bucket — at larger " +
      "tables the bucket count is the scale knob (buckets ∝ rows / " +
      "8M), keeping both the no-overflow bound and the per-bucket " +
      "rescan cost constant. Shape: one scan, one hash aggregate on a " +
      "derived key, no joins, no sort except the 64-row presentation.",
      """SELECT o_orderkey % 64 AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  sum(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |    o_orderstatus, o_orderdate)), 1, 10))::BIGINT)::BIGINT
        |    AS sum_digest,
        |  bit_xor(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |    o_orderstatus, o_orderdate)), 1, 10))::BIGINT)::BIGINT
        |    AS xor_digest
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, d) =>
      tableChecksum(Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate")), col("o_orderkey"), buckets = 64)
    },

    // ---------------------------------------------------------------- q85
    "q85_quantile_sketch" -> QueryDef.sql(
      "Mergeable approximate percentiles (Greenwald-Khanna via Spark's " +
      "approx_percentile, accuracy 1000) per group, AUDITED in-plan — " +
      "q44's scale path: exact percentile state grows O(group) (every " +
      "value buffers until finish, which at a 100 TB fact table is the " +
      "aggregate that spills first), while the GK sketch caps state at " +
      "O(accuracy) per group AND merges associatively, so partial " +
      "sketches map-side-combine like any sum. The reported VALUES are " +
      "engine-specific sketch picks (kept visible in " +
      "QuantileSketchSpec's anchor), but GK's rank-error CONTRACT is " +
      "engine-independent: each reported quantile's true rank in the " +
      "group lies within n/accuracy of the target rank phi*(n-1), and " +
      "the pick is an actual group member. The catalog row emits that " +
      "audit — per quantile, rank(pick) recomputed exactly against the " +
      "data (one second combinable pass, quantiles stamped via a " +
      "broadcast dimension-sized join) and reduced to the bound " +
      "verdict, which the oracle pins to TRUE — a violated bound " +
      "hash-fails the row (round-11 close of the r10 'shrink the " +
      "rows-only surface' item, q46's pattern). At 100 TB the audit " +
      "pass is optional certification; the sketch alone is the " +
      "production read.",
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |  true AS p25_rank_ok, true AS p50_rank_ok,
        |  true AS p75_rank_ok, true AS p95_rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val sk = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D), 1000)")
            .as("qs"))
      val phis = Seq(("p25", 1, 0.25), ("p50", 2, 0.50),
        ("p75", 3, 0.75), ("p95", 4, 0.95))
      val rankAggs = phis.flatMap { case (nm, i, _) => Seq(
        sum(when(col("l_extendedprice") < element_at(col("qs"), i), 1L)
          .otherwise(0L)).as(s"${nm}_lt"),
        sum(when(col("l_extendedprice") <= element_at(col("qs"), i), 1L)
          .otherwise(0L)).as(s"${nm}_le")) }
      val counted = li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"))
        .agg(rankAggs.head, rankAggs.tail: _*)
      val okCols = phis.map { case (nm, _, phi) =>
        // the spec's bound, verbatim: target rank phi*(n-1) must fall in
        // [count(<pick) - tol, count(<=pick) + tol], tol = n/1000 + 1,
        // and the pick must be a group member (le > lt)
        val target = lit(phi) * (col("n") - 1).cast("double")
        val tol = col("n").cast("double") / 1000.0 + 1.0
        (target >= col(s"${nm}_lt").cast("double") - tol &&
          target <= col(s"${nm}_le").cast("double") + tol &&
          col(s"${nm}_le") > col(s"${nm}_lt")).as(s"${nm}_rank_ok")
      }
      counted
        .select(col("l_returnflag") +: col("n") +: okCols: _*)
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q88
    "q88_referential_integrity" -> QueryDef.sql(
      "Referential-integrity audit across the full TPC-H-ish schema — " +
      "the data-quality gate a 100 TB migration or ingest runs before " +
      "anything downstream trusts the copy: for each of the seven " +
      "FK->PK relationships, child row count, NULL-key count, and " +
      "orphan count (keys with no parent). Orphans are LEFT ANTI joins " +
      "— Spark's dedicated no-materialization join shape; dim parents " +
      "(nation, region) broadcast, fact-fact relationships shuffle once " +
      "on the key. Counts are exact ints -> hash-exact. The audit " +
      "reduces each relationship to THREE numbers regardless of table " +
      "size, so the output (and the driver compare) is O(relationships).",
      """WITH rel AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS relationship,
        |    (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)::BIGINT AS n_null,
        |    (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_orphans
        |  UNION ALL SELECT 'lineitem.l_partkey->part',
        |    (SELECT count(*) FROM lineitem)::BIGINT,
        |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::BIGINT
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT count(*) FROM lineitem)::BIGINT,
        |    (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))::BIGINT
        |  UNION ALL SELECT 'orders.o_custkey->customer',
        |    (SELECT count(*) FROM orders)::BIGINT,
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
        |  UNION ALL SELECT 'customer.c_nationkey->nation',
        |    (SELECT count(*) FROM customer)::BIGINT,
        |    (SELECT count(*) FROM customer WHERE c_nationkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))::BIGINT
        |  UNION ALL SELECT 'supplier.s_nationkey->nation',
        |    (SELECT count(*) FROM supplier)::BIGINT,
        |    (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))::BIGINT
        |  UNION ALL SELECT 'nation.n_regionkey->region',
        |    (SELECT count(*) FROM nation)::BIGINT,
        |    (SELECT count(*) FROM nation WHERE n_regionkey IS NULL)::BIGINT,
        |    (SELECT count(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))::BIGINT)
        |SELECT relationship, n_child, n_null, n_orphans FROM rel
        |ORDER BY relationship""".stripMargin) { (s, d) =>
      val rels: Seq[(String, org.apache.spark.sql.DataFrame, String,
          org.apache.spark.sql.DataFrame, String, Boolean)] = Seq(
        ("lineitem.l_orderkey->orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", false),
        ("lineitem.l_partkey->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", false),
        ("lineitem.l_suppkey->supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", false),
        ("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", false),
        ("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey", true),
        ("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey", true),
        ("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey", true))
      rels.map { case (name, child, fk, parent, pk, dim) =>
        integrityAudit(name, child, fk, parent, pk, broadcastParent = dim)
      }.reduce(_ unionByName _).orderBy("relationship")
    },

    // ---------------------------------------------------------------- q89
    "q89_column_profile" -> QueryDef.sql(
      "ANALYZE-style column profiling of orders — the catalog-stats " +
      "pass every optimizer and data contract depends on: per column, " +
      "row count, NULL count, EXACT distinct count, and typed min/max " +
      "(numerics as DOUBLE so the compare is on exact values, never on " +
      "engine-specific float RENDERING — Spark's Double.toString and " +
      "DuckDB's float formatter disagree on scientific-notation " +
      "thresholds; strings/dates render identically by ISO convention). " +
      "One row per column, so output is O(columns) at any table size. " +
      "Exact distinct is the contract here (it IS the profile); the " +
      "100 TB knob is swapping in q46's HLL per column when 2% error " +
      "is acceptable — the plan shape is otherwise identical.",
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |    count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
        |    min(o_orderkey)::DOUBLE AS min_num, max(o_orderkey)::DOUBLE AS max_num,
        |    NULL::VARCHAR AS min_txt, NULL::VARCHAR AS max_txt
        |  FROM orders
        |  UNION ALL SELECT 'o_custkey', count(*)::BIGINT,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_custkey)::BIGINT,
        |    min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE, NULL, NULL FROM orders
        |  UNION ALL SELECT 'o_totalprice', count(*)::BIGINT,
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_totalprice)::BIGINT,
        |    min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE, NULL, NULL FROM orders
        |  UNION ALL SELECT 'o_orderstatus', count(*)::BIGINT,
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_orderstatus)::BIGINT,
        |    NULL::DOUBLE, NULL::DOUBLE, min(o_orderstatus), max(o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_orderdate', count(*)::BIGINT,
        |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT o_orderdate)::BIGINT,
        |    NULL::DOUBLE, NULL::DOUBLE,
        |    min(o_orderdate)::DATE::VARCHAR, max(o_orderdate)::DATE::VARCHAR FROM orders)
        |SELECT column_name, n, n_null, n_distinct, min_num, max_num,
        |  min_txt, max_txt
        |FROM p ORDER BY column_name""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      def num(c: String) = o.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_num"),
        max(col(c)).cast("double").as("max_num"),
        lit(null).cast("string").as("min_txt"),
        lit(null).cast("string").as("max_txt"))
        .select(lit(c).as("column_name"), col("*"))
      def txt(c: String) = o.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        min(col(c)).cast("string").as("min_txt"),
        max(col(c)).cast("string").as("max_txt"))
        .select(lit(c).as("column_name"), col("*"))
      def dt(c: String) = o.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        // the stored value is a midnight timestamp; profile it as the
        // DATE it semantically is (also the cross-engine-stable rendering)
        to_date(min(col(c))).cast("string").as("min_txt"),
        to_date(max(col(c))).cast("string").as("max_txt"))
        .select(lit(c).as("column_name"), col("*"))
      Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
        txt("o_orderstatus"), dt("o_orderdate"))
        .reduce(_ unionByName _)
        .orderBy("column_name")
    },

    // ---------------------------------------------------------------- q93
    "q93_bloom_pruned_join" -> QueryDef.sql(
      "Bloom-pruned semi join: revenue-side lineitems restricted to a " +
      "flagged part-key set by first broadcasting a BLOOM FILTER of the " +
      "keys (bits, not values) and map-side pre-filtering the fact scan, " +
      "then exact-confirming the survivors with a real semi join so " +
      "bloom false positives never reach the result. This is the " +
      "runtime-filter pattern for when the key set is too large to " +
      "broadcast as a hash relation but its bloom bits still fit " +
      "everywhere: the shuffle/join sees only |survivors| ~ " +
      "|matches| * (1+fpp) rows instead of the full fact table. " +
      "sum(l_quantity) is a sum of small integers in doubles -> exact " +
      "in any order -> hash-exact with no rounding.",
      """SELECT l_returnflag, count(*)::BIGINT AS n_items,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_brand = 'Brand#4')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val flagged = Tables.part(s, d)
        .where(col("p_brand") === "Brand#4").select("p_partkey")
      bloomPrunedSemiAgg(Tables.lineitem(s, d), "l_partkey", flagged,
        "p_partkey", fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------- q94
    "q94_inverted_index" -> QueryDef.sql(
      "Doc-sharded inverted-index build — the retrieval layout behind " +
      "BM25/keyword search at corpus scale: per (term, doc-shard of 64 " +
      "docs), document frequency, collection frequency, and the posting " +
      "list [(doc_id, tf) ...] sorted by doc_id. Sharding by doc-id " +
      "range bounds EVERY posting row at 64 entries BY CONSTRUCTION — " +
      "a stop-word's postings can never become a giant row or a skewed " +
      "reduce key, which is exactly how segment-per-shard search " +
      "engines lay the index out. Two aggregates: (term, doc) tf " +
      "counts (combinable), then (term, shard) list assembly whose " +
      "input is pre-shrunk to one row per (term, doc). The posting " +
      "list is SERIALIZED to a canonical 'doc:tf doc:tf' string at " +
      "the output boundary (catalog contract: no top-level array " +
      "columns — integer-to-string rendering is identical on both " +
      "engines, so the serialization is hash-exact); a consumer " +
      "re-splits it, or takes the pre-serialization frame from " +
      "invertedIndex below.",
      s"""WITH tf AS (
        |  SELECT tok AS term, doc_id, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(${DedupQueries.sqlToks}) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT term, (doc_id // 64)::BIGINT AS shard,
        |  count(*)::BIGINT AS df_shard, sum(tf)::BIGINT AS cf_shard,
        |  string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ' '
        |    ORDER BY doc_id) AS postings
        |FROM tf
        |GROUP BY 1, 2
        |ORDER BY term, shard""".stripMargin) { (s, d) =>
      invertedIndex(Tables.documents(s, d))
        .select(col("term"), col("shard"), col("df_shard"), col("cf_shard"),
          array_join(
            transform(col("postings"),
              p => concat_ws(":", p.getField("doc_id"), p.getField("tf"))),
            " ").as("postings"))
        .orderBy("term", "shard")
    }
  )

  /** q97 defs live in [[defs2]] (appended in SparkEntry via defs) — kept
    * adjacent to the helpers below. */
  val defs2: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q97
    "q97_topk_per_group" -> QueryDef.sql(
      "Top-3 orders per customer by (totalprice DESC, orderkey) via a " +
      "BOUNDED-HEAP typed Aggregator instead of a window row_number: " +
      "aggregator state is O(k) per group and mergeable, so the plan " +
      "partial-aggregates map-side and the exchange carries at most k " +
      "entries per (group, mapper) — the window formulation shuffles " +
      "and sorts EVERY row of every group, which is the difference " +
      "between k*|groups| and |facts| leaving the map stage at 100 TB. " +
      "Results identical by construction (total order on (price desc, " +
      "id)); raw doubles carried, never re-summed -> hash-exact.",
      """SELECT o_custkey AS custkey, rn, o_orderkey AS orderkey,
        |  o_totalprice AS totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3
        |ORDER BY custkey, rn""".stripMargin) { (s, d) =>
      val top3 = udaf(new graft.functions.TopKOrders(3),
        Encoders.product[graft.functions.PricedRow])
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey").as("custkey"),
          posexplode(col("top.items")))
        .select(col("custkey"), (col("pos") + 1).cast("long").as("rn"),
          col("col.id").as("orderkey"), col("col.price").as("totalprice"))
        .orderBy("custkey", "rn")
    },

    // ---------------------------------------------------------------- q99
    "q99_skyline" -> QueryDef.sql(
      "Skyline (Pareto frontier) over parts: minimize retail price, " +
      "maximize size — a part is dominated iff some part is no worse " +
      "on both axes and strictly better on one. Computed WITHOUT an " +
      "all-pairs dominance join: group to one (price, max_size) row " +
      "per DISTINCT price, take the strict-prefix running max of size " +
      "over prices ascending (ROWS UNBOUNDED PRECEDING TO 1 " +
      "PRECEDING), and keep parts whose size beats every strictly " +
      "cheaper part's max AND ties the max at their own price (exact " +
      "(price,size) duplicates are mutually non-dominating and all " +
      "kept — standard skyline). All compares are on stored values, " +
      "no arithmetic -> hash-exact. Shape at 100 TB: the quadratic " +
      "dominance join becomes one map-side-combinable (price -> max " +
      "size) aggregate over the facts plus a STRICT-PREFIX RUNNING " +
      "MAX over the distinct-price domain and an equi-join back — " +
      "and because the distinct-price domain itself grows with the " +
      "corpus at cent granularity, the prefix max runs as RangeRank " +
      "(per-bucket windows + broadcast earlier-bucket maxes, no " +
      "single-partition exchange; plan-pinned).",
      """WITH pm AS (SELECT p_retailprice AS price, max(p_size)::BIGINT AS msize
        |  FROM part GROUP BY 1),
        |pfx AS (SELECT price, msize,
        |    max(msize) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict_max
        |  FROM pm)
        |SELECT p.p_partkey AS partkey, p.p_name AS name,
        |  p.p_retailprice AS price, p.p_size::BIGINT AS size
        |FROM part p JOIN pfx ON p.p_retailprice = pfx.price
        |WHERE (pfx.strict_max IS NULL OR pfx.strict_max < p.p_size)
        |  AND pfx.msize <= p.p_size
        |ORDER BY price, partkey""".stripMargin) { (s, d) =>
      skyline(Tables.part(s, d))
    },

    // --------------------------------------------------------------- q106
    "q106_equifreq_binning" -> QueryDef.sql(
      "Equal-frequency discretization of order totalprice into 10 " +
      "bins (ntile over the fully tie-broken (price, orderkey) order) " +
      "with per-bin count and [lo, hi] boundaries — the feature-" +
      "quantization operator for ML pipelines. ntile's bucket-size " +
      "rule (floor/ceil split, larger buckets first) is identical " +
      "ANSI semantics on both engines and the total order is " +
      "duplicate-free, so bin assignment is deterministic; boundaries " +
      "are stored values, counts are integers -> hash-exact. Scale " +
      "contract: the ntile runs as RangeRank — literal quantile-" +
      "boundary buckets, per-bucket windows, broadcast offset prefix " +
      "sums — with NO single-partition exchange (plan-pinned), so " +
      "the exact form holds to ~10^9 rows at buckets-way " +
      "parallelism; at corpus scale you compute boundaries from " +
      "q85's mergeable KLL sketch and assign map-side — this catalog " +
      "entry is the exact semantic the sketch path approximates.",
      """WITH b AS (SELECT o_orderkey, o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)::BIGINT AS bin
        |  FROM orders)
        |SELECT bin, count(*)::BIGINT AS n, min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      equifreqBins(Tables.orders(s, d)
        .select(col("o_orderkey").as("id"), col("o_totalprice").as("x")), 10)
    },

    // --------------------------------------------------------------- q108
    "q108_data_expectations" -> QueryDef.sql(
      "Declarative data-quality expectations (great-expectations / " +
      "dbt-test style) evaluated in ONE SCAN PER TABLE regardless of " +
      "rule count: each table's rules are conditional-count columns " +
      "of a single aggregate, unpivoted to (table, rule, violations, " +
      "checked, pass) rows — the audit a 100 TB ingest gates on, " +
      "where a naive rule-per-pass runner would re-scan the corpus " +
      "once per rule. All counts are integers -> hash-exact. The " +
      "o_orderdate_range rule is deliberately planted to FAIL on the " +
      "synthetic corpus (1,308 rows outside the declared window) so " +
      "the operator demonstrably detects, not just passes. The " +
      "oracle spells the same rules as per-rule UNION ALL scans — " +
      "same counts, different plan, which is the point.",
      """WITH checks AS (
        |  SELECT 'orders' AS tbl, 'o_orderdate_range' AS rule,
        |    count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate > TIMESTAMP '2000-12-31')::BIGINT AS violations,
        |    count(*)::BIGINT AS checked FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_orderstatus_enum',
        |    count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT,
        |    count(*)::BIGINT FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_totalprice_positive',
        |    count(*) FILTER (WHERE o_totalprice <= 0)::BIGINT,
        |    count(*)::BIGINT FROM orders
        |  UNION ALL
        |  SELECT 'customer', 'c_acctbal_range',
        |    count(*) FILTER (WHERE c_acctbal < -1000 OR c_acctbal > 10000)::BIGINT,
        |    count(*)::BIGINT FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'c_name_not_null',
        |    count(*) FILTER (WHERE c_name IS NULL)::BIGINT,
        |    count(*)::BIGINT FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', 'l_quantity_range',
        |    count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)::BIGINT,
        |    count(*)::BIGINT FROM lineitem)
        |SELECT tbl, rule, violations, checked, (violations = 0) AS pass
        |FROM checks ORDER BY tbl, rule""".stripMargin) { (s, d) =>
      val viol = (c: org.apache.spark.sql.Column) =>
        sum(when(c, 1L).otherwise(0L))
      val orders = Tables.orders(s, d).agg(
        count(lit(1)).as("checked"),
        viol(col("o_orderdate") < lit("1992-01-01").cast("timestamp")
          || col("o_orderdate") > lit("2000-12-31").cast("timestamp"))
          .as("o_orderdate_range"),
        viol(!col("o_orderstatus").isin("O", "F", "P"))
          .as("o_orderstatus_enum"),
        viol(col("o_totalprice") <= 0).as("o_totalprice_positive"))
        .select(lit("orders").as("tbl"), expr(
          "stack(3, 'o_orderdate_range', o_orderdate_range, " +
            "'o_orderstatus_enum', o_orderstatus_enum, " +
            "'o_totalprice_positive', o_totalprice_positive) " +
            "AS (rule, violations)"), col("checked"))
      val customer = Tables.customer(s, d).agg(
        count(lit(1)).as("checked"),
        viol(col("c_acctbal") < -1000 || col("c_acctbal") > 10000)
          .as("c_acctbal_range"),
        viol(col("c_name").isNull).as("c_name_not_null"))
        .select(lit("customer").as("tbl"), expr(
          "stack(2, 'c_acctbal_range', c_acctbal_range, " +
            "'c_name_not_null', c_name_not_null) AS (rule, violations)"),
          col("checked"))
      val lineitem = Tables.lineitem(s, d).agg(
        count(lit(1)).as("checked"),
        viol(col("l_quantity") < 1 || col("l_quantity") > 50)
          .as("l_quantity_range"))
        .select(lit("lineitem").as("tbl"), expr(
          "stack(1, 'l_quantity_range', l_quantity_range) " +
            "AS (rule, violations)"), col("checked"))
      orders.unionByName(customer).unionByName(lineitem)
        .select(col("tbl"), col("rule"), col("violations"), col("checked"),
          (col("violations") === 0L).as("pass"))
        .orderBy("tbl", "rule")
    },

    // --------------------------------------------------------------- q110
    "q110_ab_lift" -> QueryDef.sql(
      "A/B experiment readout per event type: users split into two " +
      "arms by a deterministic key rule (user_id % 2 — swap in a " +
      "salted hash in production), metric = share of events with " +
      "value > 20, reporting lift (p1 - p0) and the two-proportion " +
      "pooled z-score. Every input to the float expressions is an " +
      "exact integer count, divisions/sqrt are single IEEE ops in " +
      "identical shape on both engines (sqrt is correctly rounded by " +
      "spec) -> hash-exact including the z statistic. The Spark plan " +
      "computes BOTH arms' counts in ONE conditional aggregate pass " +
      "over the facts (no arm self-join — the oracle uses the " +
      "two-scan join form to prove value equality across plans). At " +
      "100 TB: one map-side-combinable aggregate, output rows = " +
      "|event types|.",
      """WITH a AS (SELECT event_type, (user_id % 2)::BIGINT AS arm,
        |    count(*)::BIGINT AS n,
        |    count(*) FILTER (WHERE value > 20.0)::BIGINT AS hits
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT e0.event_type,
        |    e0.n AS n0, e0.hits AS h0, e1.n AS n1, e1.hits AS h1
        |  FROM a e0 JOIN a e1 ON e0.event_type = e1.event_type
        |  WHERE e0.arm = 0 AND e1.arm = 1)
        |SELECT event_type, n0, h0, n1, h1,
        |  (h1::DOUBLE / n1::DOUBLE) - (h0::DOUBLE / n0::DOUBLE) AS lift,
        |  ((h1::DOUBLE / n1::DOUBLE) - (h0::DOUBLE / n0::DOUBLE))
        |    / sqrt(((h0 + h1)::DOUBLE / (n0 + n1)::DOUBLE)
        |      * (1.0 - (h0 + h1)::DOUBLE / (n0 + n1)::DOUBLE)
        |      * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) AS z
        |FROM w ORDER BY event_type""".stripMargin) { (s, d) =>
      abLift(Tables.events(s, d), col("value") > 20.0)
    },

    // --------------------------------------------------------------- q113
    "q113_snapshot_diff" -> QueryDef.sql(
      "Snapshot reconciliation (table diff): one FULL OUTER equi-join " +
      "on the key classifies every row as added / removed / changed " +
      "(struct inequality over the compared columns) — the operator " +
      "that DERIVES a changelog, dual to q90's CDC merge which " +
      "APPLIES one (roundtrip law: applying the diff to A yields B, " +
      "suite-asserted). The 'new' snapshot here is a deterministic " +
      "in-query mutation of customer (drop key%50=0, bump acctbal on " +
      "key%97=0) so the oracle sees identical inputs. Comparisons on " +
      "stored values only -> hash-exact. Shape at 100 TB: one " +
      "key-partitioned full-outer join (both sides shuffle once on " +
      "the key; q83's bucket checksums pre-shrink the compared key " +
      "space to dirty buckets when snapshots live bucketed).",
      """WITH b AS (SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 10.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 50 != 0),
        |d AS (SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
        |    CASE WHEN b.c_custkey IS NULL THEN 'removed'
        |         WHEN a.c_custkey IS NULL THEN 'added'
        |         WHEN (a.c_name, a.c_nationkey, a.c_acctbal)
        |           != (b.c_name, b.c_nationkey, b.c_acctbal)
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change_type,
        |    a.c_acctbal AS old_c_acctbal, b.c_acctbal AS new_c_acctbal
        |  FROM customer a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
        |SELECT c_custkey, change_type, old_c_acctbal, new_c_acctbal
        |FROM d WHERE change_type != 'unchanged'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      snapshotDiffCatalogEntry(s, d)
    },

    // --------------------------------------------------------------- q116
    "q116_benford_audit" -> QueryDef.sql(
      "Benford first-digit audit of order totals (forensic data-" +
      "quality: natural multiplicative amounts follow P(d) = " +
      "log10(1+1/d); fabricated or uniformly-generated ones do not): " +
      "first digit via integer-cents -> string (never float " +
      "formatting), counts per digit, and the per-digit chi-square " +
      "contribution (obs - n*p)^2 / (n*p). The nine expected " +
      "proportions are IDENTICAL DECIMAL LITERALS on both sides — " +
      "both engines parse them to the same doubles, every arithmetic " +
      "step has the same IEEE shape, and each output row's term " +
      "stands alone (no cross-digit summation order) -> hash-exact. " +
      "The synthetic corpus's uniform prices FAIL the audit loudly " +
      "(chi2 terms in the hundreds; suite-pinned), which is the " +
      "operator's demonstrated purpose. Shape at 100 TB: one " +
      "map-side-combinable 9-bucket aggregate; the expectation table " +
      "is 9 literal rows.",
      """WITH y AS (SELECT round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders WHERE o_totalprice > 0),
        |dg AS (SELECT substr(cents::VARCHAR, 1, 1)::BIGINT AS digit FROM y),
        |c AS (SELECT digit, count(*)::BIGINT AS observed FROM dg GROUP BY 1),
        |n AS (SELECT sum(observed)::BIGINT AS n FROM c),
        |exp AS (SELECT digit, p FROM (VALUES
        |  (1, 3.010299956639812e-1), (2, 1.7609125905568124e-1),
        |  (3, 1.2493873660829993e-1), (4, 9.691001300805642e-2),
        |  (5, 7.918124604762482e-2), (6, 6.694678963061322e-2),
        |  (7, 5.799194697768673e-2), (8, 5.115252244738129e-2),
        |  (9, 4.575749056067514e-2)) AS t(digit, p))
        |SELECT e.digit::BIGINT AS digit,
        |  coalesce(c.observed, 0)::BIGINT AS observed, n.n,
        |  e.p AS expected_p,
        |  (coalesce(c.observed, 0)::DOUBLE / n.n::DOUBLE) AS observed_p,
        |  ((coalesce(c.observed, 0)::DOUBLE - n.n::DOUBLE * e.p)
        |    * (coalesce(c.observed, 0)::DOUBLE - n.n::DOUBLE * e.p)
        |    / (n.n::DOUBLE * e.p)) AS chi2_term
        |FROM exp e CROSS JOIN n LEFT JOIN c ON e.digit = c.digit
        |ORDER BY e.digit""".stripMargin) { (s, d) =>
      benfordAudit(Tables.orders(s, d).select(col("o_totalprice").as("x")))
    },

    // --------------------------------------------------------------- q119
    "q119_rollup_reconciliation" -> QueryDef.sql(
      "Fact-rollup reconciliation: per order, the header total vs the " +
      "sum of its line items, in EXACT INTEGER CENTS (the 2-decimal " +
      "money rule — float sums would make the comparison itself " +
      "noisy), emitting every mismatching order with the signed " +
      "difference. On the synthetic corpus header totals are " +
      "generated independently of the lines, so ALL 15,000 orders " +
      "mismatch — the audit reports the systematic break rather than " +
      "a false pass (suite-pinned). Shape at 100 TB: one map-side-" +
      "combinable cents sum per order + one key-partitioned left " +
      "join; output is only the mismatch set (empty when books " +
      "balance).",
      """WITH ls AS (SELECT l_orderkey,
        |    sum(round(l_extendedprice * 100)::BIGINT) AS li_cents,
        |    count(*)::BIGINT AS n_items
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey AS orderkey,
        |  round(o.o_totalprice * 100)::BIGINT AS order_cents,
        |  coalesce(ls.li_cents, 0)::BIGINT AS li_cents,
        |  coalesce(ls.n_items, 0)::BIGINT AS n_items,
        |  (round(o.o_totalprice * 100)::BIGINT
        |    - coalesce(ls.li_cents, 0))::BIGINT AS diff_cents
        |FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey
        |WHERE round(o.o_totalprice * 100)::BIGINT
        |  != coalesce(ls.li_cents, 0)
        |ORDER BY orderkey""".stripMargin) { (s, d) =>
      rollupReconciliation(
        Tables.orders(s, d), Tables.lineitem(s, d))
    },

    // --------------------------------------------------------------- q121
    "q121_fk_discovery" -> QueryDef.sql(
      "FK-relationship DISCOVERY (schema profiling, the inference " +
      "dual of q88's declared-FK audit): for each candidate column " +
      "pair, the inclusion coefficient (share of distinct child " +
      "values present in the parent) and parent-side uniqueness; a " +
      "pair is FK-shaped iff inclusion = 1 and the parent column is " +
      "a key. Discovers the two real relationships and rejects the " +
      "planted decoy (orders.o_custkey -> supplier.s_suppkey: " +
      "inclusion 0.067) — suite-pinned. All counts exact integers, " +
      "scores single divisions -> hash-exact. Shape at 100 TB: per " +
      "candidate, two map-side-combinable distinct aggregates + one " +
      "semi join between the DISTINCT value sets (dimension-sized " +
      "after dedup, never row-scale).",
      """WITH cand AS (
        |  SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
        |    (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
        |      AS child_distinct,
        |    (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT
        |      AS parent_distinct,
        |    (SELECT count(DISTINCT o_custkey) FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM customer))::BIGINT
        |      AS included,
        |    (SELECT count(*) FROM customer)::BIGINT AS parent_rows
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part.p_partkey',
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(DISTINCT p_partkey) FROM part),
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem
        |      WHERE l_partkey IN (SELECT p_partkey FROM part)),
        |    (SELECT count(*) FROM part)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->supplier.s_suppkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(DISTINCT s_suppkey) FROM supplier),
        |    (SELECT count(DISTINCT o_custkey) FROM orders
        |      WHERE o_custkey IN (SELECT s_suppkey FROM supplier)),
        |    (SELECT count(*) FROM supplier))
        |SELECT candidate, child_distinct, parent_distinct, included,
        |  (included::DOUBLE / child_distinct::DOUBLE) AS inclusion,
        |  (parent_distinct::DOUBLE / parent_rows::DOUBLE)
        |    AS parent_uniqueness,
        |  (included = child_distinct AND parent_distinct = parent_rows)
        |    AS is_fk_shaped
        |FROM cand ORDER BY candidate""".stripMargin) { (s, d) =>
      val cands = Seq(
        ("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, d).select(col("o_custkey").as("ck")),
          Tables.customer(s, d).select(col("c_custkey").as("pk"))),
        ("lineitem.l_partkey->part.p_partkey",
          Tables.lineitem(s, d).select(col("l_partkey").as("ck")),
          Tables.part(s, d).select(col("p_partkey").as("pk"))),
        ("orders.o_custkey->supplier.s_suppkey",
          Tables.orders(s, d).select(col("o_custkey").as("ck")),
          Tables.supplier(s, d).select(col("s_suppkey").as("pk"))))
      cands.map { case (label, child, parent) =>
        inclusionProfile(label, child, parent)
      }.reduce(_ unionByName _).orderBy("candidate")
    },

    // --------------------------------------------------------------- q123
    "q123_weighted_sample" -> QueryDef.sql(
      "Weight-proportional document sampling with Horvitz-Thompson " +
      "reweighting — token-budget-aware corpus downsampling: each doc " +
      "is kept with probability min(1, n_chars/400) (longer docs " +
      "carry more training signal; docs >= 400 chars always survive) " +
      "via the SHARED Knuth multiplicative hash on its own salt " +
      "stream (q56/q62/q71's DeterministicHash — pure int64, no " +
      "engine RNG, so the sample re-materializes identically " +
      "anywhere), and every kept doc carries ht_weight = 1/p so " +
      "downstream corpus statistics stay unbiased. Integer compare + " +
      "one division -> hash-exact. Costs a filter at 100 TB: one " +
      "scan, zero shuffles, zero driver round-trips.",
      s"""WITH s AS (SELECT doc_id, n_chars,
        |  ${graft.functions.DeterministicHash.knuth32Sql("doc_id",
             graft.functions.DeterministicHash.weightedSalt)} AS h
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  (least(n_chars, 400)::DOUBLE / 400.0) AS p_keep,
        |  (400.0 / least(n_chars, 400)::DOUBLE) AS ht_weight
        |FROM s WHERE h % 400 < least(n_chars, 400)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      weightedSampleCatalogEntry(s, d)
    },

    // --------------------------------------------------------------- q124
    "q124_contribution_shares" -> QueryDef.sql(
      "Hierarchical contribution analysis: per-nation revenue (exact " +
      "integer cents via the customer->orders join) with its share " +
      "of the region subtotal and of the grand total — the " +
      "percent-of-parent readout BI stacks on every drill-down " +
      "(q09's rollup emits subtotal ROWS; this emits the RATIOS). " +
      "Cents sums are order-free int64, shares are single " +
      "divisions -> hash-exact. Shape at 100 TB: revenue is one " +
      "map-side-combinable aggregate over the facts keyed by " +
      "nation; everything after runs on the 25-row nation " +
      "dimension with broadcast region/total subtotals.",
      """WITH rev AS (SELECT c.c_nationkey,
        |    sum(round(o.o_totalprice * 100)::BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1),
        |nr AS (SELECT n.n_nationkey, n.n_name, n.n_regionkey, r.r_name,
        |    coalesce(rev.cents, 0)::BIGINT AS cents
        |  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |  LEFT JOIN rev ON n.n_nationkey = rev.c_nationkey),
        |reg AS (SELECT n_regionkey, sum(cents)::BIGINT AS region_cents
        |  FROM nr GROUP BY 1),
        |tot AS (SELECT sum(cents)::BIGINT AS total_cents FROM nr)
        |SELECT nr.n_name AS nation, nr.r_name AS region, nr.cents,
        |  reg.region_cents, tot.total_cents,
        |  (nr.cents::DOUBLE / reg.region_cents::DOUBLE) AS share_of_region,
        |  (nr.cents::DOUBLE / tot.total_cents::DOUBLE) AS share_of_total
        |FROM nr JOIN reg USING (n_regionkey) CROSS JOIN tot
        |ORDER BY nation""".stripMargin) { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_cents"))
      val nr = Tables.nation(s, d)
        .join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .join(rev, col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_name"), col("n_regionkey"), col("r_name"),
          coalesce(col("rev_cents"), lit(0L)).as("cents"))
      val reg = nr.groupBy("n_regionkey")
        .agg(sum("cents").as("region_cents"))
      val tot = broadcast(nr.agg(sum("cents").as("total_cents")))
      nr.join(broadcast(reg), "n_regionkey").crossJoin(tot)
        .select(col("n_name").as("nation"), col("r_name").as("region"),
          col("cents"), col("region_cents"), col("total_cents"),
          (col("cents").cast("double")
            / col("region_cents").cast("double")).as("share_of_region"),
          (col("cents").cast("double")
            / col("total_cents").cast("double")).as("share_of_total"))
        .orderBy("nation")
    },

    // --------------------------------------------------------------- q125
    "q125_k_anonymity" -> QueryDef.sql(
      "k-anonymity audit over quasi-identifiers (nation, account-" +
      "balance bucket): every QI combination shared by fewer than " +
      "k=5 customers is a re-identification risk — the privacy gate " +
      "a governed dataset release runs before publishing. Bucketing " +
      "is integer (cents // 100000), counts are integers -> " +
      "hash-exact; only violating groups emit (empty output = safe " +
      "to release). Shape at 100 TB: ONE map-side-combinable " +
      "aggregate on the QI tuple; output is bounded by the QI-domain " +
      "size, and generalization ladders (coarser buckets) just " +
      "re-run the same aggregate.",
      """WITH qi AS (SELECT c_nationkey,
        |    (round(c_acctbal * 100)::BIGINT // 100000) AS bal_bucket,
        |    count(*)::BIGINT AS group_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey AS nationkey, bal_bucket, group_size
        |FROM qi WHERE group_size < 5
        |ORDER BY nationkey, bal_bucket""".stripMargin) { (s, d) =>
      kAnonymityAudit(Tables.customer(s, d)
        .select(col("c_nationkey").as("nationkey"),
          expr("cast(round(c_acctbal * 100) as bigint) div 100000")
            .as("bal_bucket")), k = 5L)
    },

    // --------------------------------------------------------------- q128
    "q128_l_diversity" -> QueryDef.sql(
      "Distinct l-diversity audit — the companion gate to q125's " +
      "k-anonymity: a QI group whose members all share one SENSITIVE " +
      "value (here: market segment) leaks that value even when the " +
      "group is k-large, so every group with fewer than l=3 distinct " +
      "sensitive values emits, with the dominant value's count and " +
      "share (homogeneity-attack exposure). Counts are exact " +
      "integers; the share is ONE single-shape division -> " +
      "hash-exact. Shape at 100 TB: two map-side-combinable hash " +
      "aggregates — (QI, sensitive) then QI — output bounded by the " +
      "QI domain; a generalization ladder re-runs the same two " +
      "aggregates on coarser buckets.",
      """WITH sc AS (SELECT c_nationkey,
        |    (round(c_acctbal * 100)::BIGINT // 100000) AS bal_bucket,
        |    c_mktsegment, count(*)::BIGINT AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT c_nationkey, bal_bucket,
        |    sum(c)::BIGINT AS group_size,
        |    count(*)::BIGINT AS n_sensitive,
        |    max(c)::BIGINT AS top_cnt
        |  FROM sc GROUP BY 1, 2)
        |SELECT c_nationkey AS nationkey, bal_bucket, group_size,
        |  n_sensitive, top_cnt,
        |  (top_cnt::DOUBLE / group_size::DOUBLE) AS top_share
        |FROM g WHERE n_sensitive < 3
        |ORDER BY nationkey, bal_bucket""".stripMargin) { (s, d) =>
      lDiversityAudit(Tables.customer(s, d)
        .select(col("c_nationkey").as("nationkey"),
          expr("cast(round(c_acctbal * 100) as bigint) div 100000")
            .as("bal_bucket"),
          col("c_mktsegment").as("sensitive")), l = 3L)
    },

    // --------------------------------------------------------------- q131
    "q131_gini_concentration" -> QueryDef.sql(
      "Per-nation Gini coefficient of customer lifetime order value — " +
      "the inequality/concentration metric a marketplace health " +
      "dashboard tracks (Gini 0 = every customer spends equally, -> 1 " +
      "= one whale): zero-order customers INCLUDED at value 0 via the " +
      "left join (they are the distribution's floor, dropping them " +
      "understates concentration). Values are exact integer cents " +
      "(round(price * 100), the q95/q125 fixed-point rule); the " +
      "sorted-rank identity Gini = (2*Sum(i*x_i) - (n+1)*Sum(x)) / " +
      "(n*Sum(x)) runs on int64 sums (rank i and per-customer cents " +
      "bound i*x ~ 3e12 and the sums ~2e16 at the sf1 gate — inside " +
      "int64; the tie order (x, custkey) is total so i is identical " +
      "on both engines), then ONE single-shape double division -> " +
      "hash-exact. Shape at 100 TB: one customer-level aggregate, one " +
      "rank window and one sum-aggregate both partitioned by nation — " +
      "all map-side-combinable or partition-local, no global sort.",
      """WITH cv AS (SELECT c.c_custkey, c.c_nationkey,
        |    coalesce(sum(round(o.o_totalprice * 100)::BIGINT), 0)::BIGINT
        |      AS cents
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents, c_custkey) AS i
        |  FROM cv)
        |SELECT c_nationkey AS nationkey, count(*)::BIGINT AS n_customers,
        |  sum(cents)::BIGINT AS total_cents,
        |  (CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS DOUBLE)
        |    / CAST(count(*) * sum(cents) AS DOUBLE)) AS gini
        |FROM rk
        |GROUP BY 1
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      giniConcentration(Tables.customer(s, d), Tables.orders(s, d))
    },

    // --------------------------------------------------------------- q132
    "q132_quantile_normalize" -> QueryDef.sql(
      "Percent-rank quantile normalization of event values within each " +
      "event type — the distribution-free feature transform (maps any " +
      "value distribution onto [0, 1]) that model pipelines apply " +
      "before mixing heterogeneous signals. percent_rank = " +
      "(rank - 1) / (n - 1) is the SQL-standard definition on BOTH " +
      "engines: rank (not row_number) makes ties order-free, the " +
      "operands are exact integers and the division is one " +
      "single-shape double op -> hash-exact with no ordering " +
      "assumptions at all. Shape at 100 TB: one window partitioned by " +
      "event_type — for a skewed single type, pre-aggregate to " +
      "(value, count) and rank the DISTINCT values (the standard " +
      "cardinality reduction; the synthetic values here are already " +
      "near-distinct so the direct window ships).",
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY value)
        |    AS pct
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          percent_rank().over(Window.partitionBy("event_type")
            .orderBy("value")).as("pct"))
        .orderBy("event_id")
    },

    // --------------------------------------------------------------- q133
    "q133_chi_square_independence" -> QueryDef.sql(
      "Chi-square independence test between nation and market segment " +
      "(+ Cramer's V effect size) — the categorical-association audit " +
      "run before using a feature pair in stratification or as model " +
      "inputs. All counts are exact integers; each cell's term " +
      "(O - E)^2 / E uses E = (row * col)::DOUBLE / N in ONE shared " +
      "shape, and the 125 cell terms fold in SORTED (nation, segment) " +
      "order on both engines (the q84 ordered-fold rule: sort_array + " +
      "aggregate here, list(... ORDER BY) + list_reduce there) -> the " +
      "double sum is bit-identical, no rounding needed; IEEE sqrt for " +
      "V is correctly rounded. Shape at 100 TB: one (nation, segment) " +
      "hash aggregate; margins re-aggregate the CELL table (domain-" +
      "sized, not row-sized) and ride back as broadcasts; the fold " +
      "runs over the 125-cell grid.",
      """WITH o AS (SELECT c_nationkey AS i, c_mktsegment AS j,
        |    count(*)::BIGINT AS obs
        |  FROM customer GROUP BY 1, 2),
        |r AS (SELECT i, sum(obs)::BIGINT AS ri FROM o GROUP BY 1),
        |c AS (SELECT j, sum(obs)::BIGINT AS cj FROM o GROUP BY 1),
        |n AS (SELECT sum(obs)::BIGINT AS n FROM o),
        |cells AS (SELECT o.i, o.j,
        |    (o.obs::DOUBLE - (r.ri * c.cj)::DOUBLE / n.n::DOUBLE)
        |      * (o.obs::DOUBLE - (r.ri * c.cj)::DOUBLE / n.n::DOUBLE)
        |      / ((r.ri * c.cj)::DOUBLE / n.n::DOUBLE) AS term
        |  FROM o JOIN r USING (i) JOIN c USING (j) CROSS JOIN n),
        |chi AS (SELECT list_reduce(list_prepend(0.0,
        |      list(term ORDER BY i, j)), (a, x) -> a + x) AS chi2,
        |    count(*)::BIGINT AS n_cells FROM cells)
        |SELECT chi.chi2 AS chi2, chi.n_cells,
        |  ((SELECT count(*) FROM r) - 1)::BIGINT
        |    * ((SELECT count(*) FROM c) - 1)::BIGINT AS dof,
        |  n.n AS n,
        |  sqrt(chi.chi2 / (n.n::DOUBLE
        |    * least((SELECT count(*) FROM r) - 1,
        |            (SELECT count(*) FROM c) - 1)::DOUBLE)) AS cramers_v
        |FROM chi CROSS JOIN n""".stripMargin) { (s, d) =>
      chiSquareIndependence(Tables.customer(s, d)
        .select(col("c_nationkey").as("i"), col("c_mktsegment").as("j")))
    },

    // --------------------------------------------------------------- q136
    "q136_kfold_balance" -> QueryDef.sql(
      "Stratified k-fold assignment audit (k = 5) over the labeled " +
      "embedding corpus — the cross-validation split every model-eval " +
      "pipeline needs, via the SHARED Knuth multiplicative hash on a " +
      "fifth independent salt stream (q56/q62/q71/q123's " +
      "DeterministicHash: pure int64, no engine RNG, so fold " +
      "membership re-materializes identically anywhere, including on " +
      "another engine entirely). fold = h % k is a pure per-row " +
      "FILTER at assignment time — zero shuffles at 100 TB, unlike a " +
      "rank-based exact split whose per-label window would funnel the " +
      "corpus through |labels| partitions — and large strata balance " +
      "to k^-1 by the hash's equidistribution, which is exactly what " +
      "this audit measures: per (label, fold), the member count and " +
      "its share of the label's total. Integers + one single-shape " +
      "division -> hash-exact.",
      s"""WITH s AS (SELECT label,
        |    ${graft.functions.DeterministicHash.knuth32Sql("vec_id",
                graft.functions.DeterministicHash.foldSalt)} % 5 AS fold
        |  FROM embeddings),
        |f AS (SELECT label, fold, count(*)::BIGINT AS n
        |  FROM s GROUP BY 1, 2),
        |t AS (SELECT label, sum(n)::BIGINT AS label_n FROM f GROUP BY 1)
        |SELECT f.label, f.fold::BIGINT AS fold, f.n, t.label_n,
        |  (f.n::DOUBLE / t.label_n::DOUBLE) AS share
        |FROM f JOIN t USING (label)
        |ORDER BY label, fold""".stripMargin) { (s, d) =>
      kfoldBalance(Tables.embeddings(s, d), k = 5)
    },

    // --------------------------------------------------------------- q148
    "q148_duplicate_orders" -> QueryDef.sql(
      "Rapid repeat-order audit: order pairs by the SAME customer " +
      "placed within 24 hours, with both order values (cents-exact, " +
      "the fixed-point rule) and their delta — the payments-integrity " +
      "surface a commerce ledger reviews (a zero delta is the " +
      "double-charge smoking gun; near-zero deltas are retry " +
      "artifacts). The join blocks on the customer equi-key with the " +
      "day window as a residual predicate on exact integer epoch math " +
      "(the q23 bounded range-join shape; at 100 TB add a day-bucket " +
      "to the blocking key to bound per-customer products). All " +
      "integers -> hash-exact.",
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    round(o_totalprice * 100)::BIGINT AS cents,
        |    epoch_us(o_orderdate) AS us
        |  FROM orders)
        |SELECT a.o_custkey AS custkey, a.o_orderkey AS order_a,
        |  b.o_orderkey AS order_b, a.cents AS cents_a, b.cents AS cents_b,
        |  abs(b.cents - a.cents)::BIGINT AS cents_delta,
        |  ((b.us - a.us) // 1000000)::BIGINT AS gap_sec
        |FROM o a JOIN o b ON a.o_custkey = b.o_custkey
        |  AND a.o_orderkey < b.o_orderkey
        |  AND abs(b.us - a.us) <= 86400000000
        |ORDER BY custkey, order_a, order_b""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        // o_orderdate scans as TIMESTAMP_NTZ (regenerated testdata);
        // session tz is UTC, so the cast reads the same instants DuckDB's
        // naive epoch_us sees
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      val a = o.select(col("o_orderkey").as("order_a"),
        col("o_custkey").as("custkey"), col("cents").as("cents_a"),
        col("us").as("us_a"))
      val b = o.select(col("o_orderkey").as("order_b"),
        col("o_custkey").as("custkey"), col("cents").as("cents_b"),
        col("us").as("us_b"))
      a.join(b, Seq("custkey"))
        .where(col("order_a") < col("order_b") &&
          abs(col("us_b") - col("us_a")) <= 86400000000L)
        .select(col("custkey"), col("order_a"), col("order_b"),
          col("cents_a"), col("cents_b"),
          abs(col("cents_b") - col("cents_a")).as("cents_delta"),
          expr("(us_b - us_a) div 1000000").as("gap_sec"))
        .orderBy("custkey", "order_a", "order_b")
    },

    // --------------------------------------------------------------- q149
    "q149_supplier_hhi" -> QueryDef.sql(
      "Supplier concentration risk per part — the Herfindahl-Hirschman " +
      "index over supplied quantities: HHI = sum_s (q_s/Q)^2 = " +
      "sum(q_s^2) / Q^2, i.e. EXACT integer sums with ONE single-shape " +
      "division (no per-share float accumulation to order-diverge), " +
      "plus the top supplier's share and the supplier count. A part " +
      "near HHI 1 is single-sourced (supply-chain risk); near 1/n is " +
      "diversified — the sourcing-risk dashboard staple. Quantities " +
      "are integer-valued in the data (cast exact). Shape at 100 TB: " +
      "two map-side-combinable hash aggregates, (part, supplier) then " +
      "part.",
      """WITH sq AS (SELECT l_partkey, l_suppkey,
        |    sum(l_quantity)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_partkey AS partkey, count(*)::BIGINT AS n_suppliers,
        |  sum(q)::BIGINT AS total_qty,
        |  (sum(q * q)::DOUBLE / (sum(q) * sum(q))::DOUBLE) AS hhi,
        |  (max(q)::DOUBLE / sum(q)::DOUBLE) AS top_share
        |FROM sq
        |GROUP BY 1
        |ORDER BY partkey""".stripMargin) { (s, d) =>
      val sq = Tables.lineitem(s, d)
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).cast("long").as("q"))
      sq.groupBy(col("l_partkey").as("partkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum("q").cast("long").as("total_qty"),
          sum(col("q") * col("q")).cast("long").as("sq2"),
          max("q").as("maxq"))
        .select(col("partkey"), col("n_suppliers"), col("total_qty"),
          (col("sq2").cast("double")
            / (col("total_qty") * col("total_qty")).cast("double")).as("hhi"),
          (col("maxq").cast("double") / col("total_qty").cast("double"))
            .as("top_share"))
        .orderBy("partkey")
    },

    // --------------------------------------------------------------- q158
    "q158_t_closeness" -> QueryDef.sql(
      "t-closeness audit — the third rung of the q125/q128 privacy " +
      "ladder: a QI group can be k-large (q125) and l-diverse (q128) " +
      "yet still leak if its SENSITIVE-value distribution diverges " +
      "from the table's (skew attack: 'customers in this bucket are " +
      "mostly AUTOMOBILE'). Per QI group, the total-variation " +
      "distance to the global market-segment distribution, kept " +
      "EXACT until the last step: TVD = sum_v|c_gv/n_g - C_v/N|/2 = " +
      "sum_v|c_gv*N - C_v*n_g| / (2*n_g*N) — the numerator is an " +
      "int64 sum of integer products (<= ~1e15 even at 100x the sf1 " +
      "gate), the denominator an int64 product, so ONE single-shape " +
      "IEEE division emits (the q131/q149 rule; no per-share float " +
      "accumulation to order-diverge). Every group emits with its " +
      "exact integer numerator (tvd_num) so a release gate can " +
      "threshold on exact rationals (tvd_num > 2*t*n_g*N) without " +
      "touching the float at all. Shape at 100 TB: two map-side-" +
      "combinable aggregates — (QI, sensitive) then QI — plus a " +
      "BROADCAST of the global sensitive-domain histogram (bounded " +
      "by the domain, here 5 rows) densified against each group so " +
      "absent values contribute their full C_v*n_g mass; output is " +
      "bounded by the QI domain.",
      """WITH sc AS (SELECT c_nationkey AS nationkey,
        |    (round(c_acctbal * 100)::BIGINT // 100000) AS bal_bucket,
        |    c_mktsegment AS seg, count(*)::BIGINT AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT nationkey, bal_bucket, sum(c)::BIGINT AS n_g
        |  FROM sc GROUP BY 1, 2),
        |gl AS (SELECT c_mktsegment AS seg, count(*)::BIGINT AS c_v
        |  FROM customer GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_tot FROM customer),
        |x AS (SELECT g.nationkey, g.bal_bucket, g.n_g, n.n_tot,
        |    gl.c_v, coalesce(sc.c, 0)::BIGINT AS c_gv
        |  FROM g CROSS JOIN gl CROSS JOIN n
        |  LEFT JOIN sc ON sc.nationkey = g.nationkey
        |    AND sc.bal_bucket = g.bal_bucket AND sc.seg = gl.seg)
        |SELECT nationkey, bal_bucket,
        |  max(n_g)::BIGINT AS group_size,
        |  sum(abs(c_gv * n_tot - c_v * n_g))::BIGINT AS tvd_num,
        |  (sum(abs(c_gv * n_tot - c_v * n_g))::DOUBLE
        |    / (2 * max(n_g) * max(n_tot))::DOUBLE) AS tvd
        |FROM x GROUP BY 1, 2
        |ORDER BY nationkey, bal_bucket""".stripMargin) { (s, d) =>
      tClosenessAudit(Tables.customer(s, d)
        .select(col("c_nationkey").as("nationkey"),
          expr("cast(round(c_acctbal * 100) as bigint) div 100000")
            .as("bal_bucket"),
          col("c_mktsegment").as("seg")))
    },

    // --------------------------------------------------------------- q169
    "q169_cuped_adjustment" -> QueryDef.sql(
      "CUPED variance-reduced experiment readout (Deng et al. 2013, " +
      "WSDM — the adjustment every major experimentation platform " +
      "applies before reading an A/B metric): units are customers, " +
      "the deterministic arm split is pmod(custkey, 2), the metric is " +
      "1996 spend in exact cents, the pre-period covariate is 1995 " +
      "spend; theta = cov(pre, post)/var(pre) is computed from exact " +
      "integer sums (decimal-128 closed form, the q145 recipe: " +
      "n*Sxy - Sx*Sy over n*Sxx - Sx^2) with ONE IEEE division, and " +
      "each arm reads mean_post next to mean_adj = mean_post - " +
      "theta*(mean_pre - global mean_pre), the same shared double " +
      "shape on both engines -> hash-exact with no rounding. Every " +
      "customer is a unit (left join; zero-filled periods), so the " +
      "estimator matches the assignment frame, not the activity " +
      "frame. Shape at 100 TB: ONE unit-level aggregate over the " +
      "date-pruned fact scan, a 1-row theta broadcast, and a " +
      "2-row arm rollup — no window, no self-join, the whole " +
      "adjustment rides the same pass that computes the raw means.",
      """WITH per AS (SELECT c.c_custkey,
        |    ((c.c_custkey % 2) + 2) % 2 AS arm,
        |    coalesce(sum(CASE WHEN year(o_orderdate) = 1995
        |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END),
        |      0)::BIGINT AS pre,
        |    coalesce(sum(CASE WHEN year(o_orderdate) = 1996
        |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END),
        |      0)::BIGINT AS post
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |st AS (SELECT count(*)::HUGEINT AS n, sum(pre)::HUGEINT AS sx,
        |    sum(post)::HUGEINT AS sy,
        |    sum(pre::HUGEINT * post::HUGEINT)::HUGEINT AS sxy,
        |    sum(pre::HUGEINT * pre::HUGEINT)::HUGEINT AS sxx
        |  FROM per),
        |th AS (SELECT n, sx,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta FROM st)
        |SELECT arm, count(*)::BIGINT AS n_units,
        |  sum(pre)::BIGINT AS sum_pre_cents,
        |  sum(post)::BIGINT AS sum_post_cents,
        |  th.theta AS theta,
        |  sum(post)::DOUBLE / count(*)::DOUBLE AS mean_post,
        |  sum(post)::DOUBLE / count(*)::DOUBLE
        |    - th.theta * (sum(pre)::DOUBLE / count(*)::DOUBLE
        |        - CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE))
        |    AS mean_adj
        |FROM per CROSS JOIN th
        |GROUP BY arm, th.theta, th.sx, th.n
        |ORDER BY arm""".stripMargin) { (s, d) =>
      val d19 = "decimal(19,0)"
      val d38 = "decimal(38,0)"
      val per = Tables.customer(s, d).select(col("c_custkey"))
        .join(Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey"), col("o_orderdate"),
            col("o_totalprice")), Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"),
          expr("((c_custkey % 2) + 2) % 2").cast("long").as("arm"))
        .agg(
          coalesce(sum(when(year(col("o_orderdate")) === 1995,
            round(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .cast("long").as("pre"),
          coalesce(sum(when(year(col("o_orderdate")) === 1996,
            round(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .cast("long").as("post"))
      val st = per.agg(count(lit(1)).cast(d38).as("n"),
        sum("pre").cast(d38).as("sx"), sum("post").cast(d38).as("sy"),
        sum(col("pre").cast(d19) * col("post").cast(d19)).cast(d38)
          .as("sxy"),
        sum(col("pre").cast(d19) * col("pre").cast(d19)).cast(d38)
          .as("sxx"))
      val th = broadcast(st.select(col("n"), col("sx"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("theta")))
      per.crossJoin(th)
        .groupBy(col("arm"), col("theta"), col("sx"), col("n"))
        .agg(count(lit(1)).as("n_units"),
          sum("pre").cast("long").as("sum_pre_cents"),
          sum("post").cast("long").as("sum_post_cents"))
        .select(col("arm"), col("n_units"), col("sum_pre_cents"),
          col("sum_post_cents"), col("theta"),
          (col("sum_post_cents").cast("double")
            / col("n_units").cast("double")).as("mean_post"),
          (col("sum_post_cents").cast("double")
            / col("n_units").cast("double")
            - col("theta") * (col("sum_pre_cents").cast("double")
              / col("n_units").cast("double")
              - col("sx").cast("double") / col("n").cast("double")))
            .as("mean_adj"))
        .orderBy("arm")
    },

    // --------------------------------------------------------------- q178
    "q178_post_stratified_ate" -> QueryDef.sql(
      "Post-stratified treatment-effect readout (Neyman 1923 via " +
      "Miratrix et al. 2013 — the third rung of the q110/q169 " +
      "experimentation ladder: raw lift, regression-adjusted, and " +
      "now variance reduction by STRATIFYING on a pre-treatment " +
      "categorical): units are customers, arm = pmod(custkey, 2), " +
      "strata = market segment, metric = 1996 spend in exact cents " +
      "over the full assignment frame (left join, zero-filled — the " +
      "q169 rule). Per stratum: exact integer arm counts and sums, " +
      "the stratum weight in micro-units ((1e6*n_s) DIV N — " +
      "integer), and the within-stratum mean difference as " +
      "single-shape IEEE arithmetic (two divisions + one subtract, " +
      "identical expression tree on both engines -> hash-exact). " +
      "The overall weighted ATE is deliberately NOT emitted as a " +
      "float: summing 5 per-stratum doubles is order-sensitive " +
      "across engines; the exact integer columns let any consumer " +
      "fold it in whatever precision it owes its readers (the q158 " +
      "exact-rational-gate principle). Shape at 100 TB: ONE " +
      "unit-level combinable aggregate over the date-pruned fact " +
      "scan, one 1-row total broadcast, output = |segments| rows.",
      """WITH per AS (SELECT c.c_custkey, c.c_mktsegment AS stratum,
        |    ((c.c_custkey % 2) + 2) % 2 AS arm,
        |    coalesce(sum(CASE WHEN year(o_orderdate) = 1996
        |        THEN CAST(round(o_totalprice * 100) AS BIGINT) END),
        |      0)::BIGINT AS post
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3),
        |st AS (SELECT stratum, count(*)::BIGINT AS n_units,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN post ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 0 THEN post ELSE 0 END)::BIGINT AS s0
        |  FROM per GROUP BY 1),
        |tot AS (SELECT sum(n_units)::BIGINT AS n_tot FROM st)
        |SELECT stratum, n_units, n1, n0, s1 AS sum1_cents,
        |  s0 AS sum0_cents,
        |  ((1000000 * n_units) // tot.n_tot)::BIGINT AS w_micro,
        |  s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE
        |    AS diff_mean_cents
        |FROM st CROSS JOIN tot
        |ORDER BY stratum""".stripMargin) { (s, d) =>
      val per = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("stratum"))
        .join(Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey"), col("o_orderdate"),
            col("o_totalprice")), Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("stratum"),
          expr("((c_custkey % 2) + 2) % 2").cast("long").as("arm"))
        .agg(coalesce(sum(when(year(col("o_orderdate")) === 1996,
          round(col("o_totalprice") * 100).cast("long"))), lit(0L))
          .cast("long").as("post"))
      val st = per.groupBy("stratum").agg(
        count(lit(1)).as("n_units"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("n0"),
        sum(when(col("arm") === 1, col("post")).otherwise(0L))
          .cast("long").as("s1"),
        sum(when(col("arm") === 0, col("post")).otherwise(0L))
          .cast("long").as("s0"))
      val tot = broadcast(st.agg(sum("n_units").cast("long").as("n_tot")))
      st.crossJoin(tot)
        .select(col("stratum"), col("n_units"), col("n1"), col("n0"),
          col("s1").as("sum1_cents"), col("s0").as("sum0_cents"),
          expr("(1000000 * n_units) div n_tot").as("w_micro"),
          (col("s1").cast("double") / col("n1").cast("double")
            - col("s0").cast("double") / col("n0").cast("double"))
            .as("diff_mean_cents"))
        .orderBy("stratum")
    },

    // --------------------------------------------------------------- q181
    "q181_srm_audit" -> QueryDef.sql(
      "Sample-ratio-mismatch audit (Fabijan et al. 2019 — the first " +
      "gate every experiment readout must pass: if the 50/50 " +
      "assignment itself is skewed, q110/q169/q178's effect " +
      "estimates are invalid regardless of their math): per market " +
      "segment AND overall (ROLLUP), the two arm counts, the exact " +
      "integer chi-square numerator (n1-n0)^2, the goodness-of-fit " +
      "statistic against the 50/50 design — algebraically " +
      "(n1-n0)^2/N, ONE single-shape IEEE division -> hash-exact — " +
      "and the alarm flag chi2 > 3.841 (the 5% critical value) " +
      "emitted as an integer so release gates can key on it. The " +
      "exact numerator rides alongside (the q158 rational-gate " +
      "rule: threshold on num > 3.841*N without touching the " +
      "float). Shape at 100 TB: ONE combinable rollup aggregate " +
      "over the assignment frame — no join, no window; output = " +
      "|segments| + 1 rows.",
      """SELECT coalesce(c_mktsegment, '__all__') AS segment,
        |  sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |      THEN 1 ELSE 0 END)::BIGINT AS n1,
        |  sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 0
        |      THEN 1 ELSE 0 END)::BIGINT AS n0,
        |  count(*)::BIGINT AS n_units,
        |  (sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |      THEN 1 ELSE -1 END)
        |    * sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |      THEN 1 ELSE -1 END))::BIGINT AS chi2_num,
        |  (sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |      THEN 1 ELSE -1 END)
        |    * sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |      THEN 1 ELSE -1 END))::DOUBLE / count(*)::DOUBLE AS chi2,
        |  (CASE WHEN (sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |        THEN 1 ELSE -1 END)
        |      * sum(CASE WHEN ((c_custkey % 2) + 2) % 2 = 1
        |        THEN 1 ELSE -1 END))::DOUBLE / count(*)::DOUBLE > 3.841
        |    THEN 1 ELSE 0 END)::BIGINT AS srm_flag
        |FROM customer
        |GROUP BY ROLLUP(c_mktsegment)
        |ORDER BY segment""".stripMargin) { (s, d) =>
      val sgn = expr(
        "CASE WHEN ((c_custkey % 2) + 2) % 2 = 1 THEN 1L ELSE -1L END")
      val arm1 = expr(
        "CASE WHEN ((c_custkey % 2) + 2) % 2 = 1 THEN 1L ELSE 0L END")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .rollup("c_mktsegment")
        .agg(sum(arm1).cast("long").as("n1"),
          sum(lit(1L) - arm1).cast("long").as("n0"),
          count(lit(1)).as("n_units"),
          (sum(sgn) * sum(sgn)).cast("long").as("chi2_num"))
        .select(coalesce(col("c_mktsegment"), lit("__all__")).as("segment"),
          col("n1"), col("n0"), col("n_units"), col("chi2_num"),
          (col("chi2_num").cast("double") / col("n_units").cast("double"))
            .as("chi2"))
        .withColumn("srm_flag",
          when(col("chi2") > 3.841, 1L).otherwise(0L).cast("long"))
        .orderBy("segment")
    },

    // --------------------------------------------------------------- q182
    "q182_ks_two_sample" -> QueryDef.sql(
      "Two-sample Kolmogorov-Smirnov test between the experiment arms' " +
      "order-value distributions (Smirnov 1939 — the nonparametric " +
      "distribution-shift gate the q110/q169/q178 mean-based ladder " +
      "cannot provide: a treatment that moves the SHAPE but not the " +
      "mean passes every t-style readout and fails this one): unit = " +
      "order, metric = totalprice in exact cents, arm = custkey " +
      "parity. The ECDFs are built by the q69 DISTRIBUTED PREFIX SUM " +
      "over the VALUE-AGGREGATED frame (hash-aggregate per distinct " +
      "cent value, per-shard cumulative window with shard = v DIV " +
      "10000 — monotone in v, so shard order IS value order — then " +
      "one tiny window over the shard totals), never a global row " +
      "window. D rides as the exact integer cross-multiplied " +
      "numerator max|F1*n0 - F0*n1| plus its argmin value; the float " +
      "statistic is ONE IEEE division and the alpha=0.05 verdict " +
      "compares against c(0.05)=1.358 * sqrt((n1+n0)/(n1*n0)) " +
      "(Smirnov's asymptotic critical value) in single-shape IEEE -> " +
      "hash-exact. Shape at 100 TB: one combinable value aggregate, " +
      "shard-parallel windows, O(shards) global state, 1-row output.",
      s"""WITH $armEcdfCtes,
        |tot AS (SELECT max(f1)::BIGINT AS n1, max(f0)::BIGINT AS n0
        |  FROM f),
        |dd AS (SELECT f.v,
        |    abs(f.f1 * tot.n0 - f.f0 * tot.n1)::BIGINT AS dnum
        |  FROM f CROSS JOIN tot),
        |m AS (SELECT max(dnum)::BIGINT AS d_num FROM dd),
        |am AS (SELECT min(dd.v)::BIGINT AS at_value
        |  FROM dd CROSS JOIN m WHERE dd.dnum = m.d_num)
        |SELECT tot.n1, tot.n0, m.d_num, am.at_value,
        |  m.d_num::DOUBLE / (tot.n1 * tot.n0)::DOUBLE AS d_stat,
        |  1.358 * sqrt((tot.n1 + tot.n0)::DOUBLE
        |    / (tot.n1 * tot.n0)::DOUBLE) AS crit_05,
        |  (CASE WHEN m.d_num::DOUBLE / (tot.n1 * tot.n0)::DOUBLE
        |      > 1.358 * sqrt((tot.n1 + tot.n0)::DOUBLE
        |        / (tot.n1 * tot.n0)::DOUBLE)
        |    THEN 1 ELSE 0 END)::BIGINT AS reject_05
        |FROM tot CROSS JOIN m CROSS JOIN am""".stripMargin) { (s, d) =>
      // Two passes over the scaffold, not five: `tot` references only
      // c1/c0, so Catalyst's ColumnPruning deletes the Window nodes
      // from its subtree (sum(c1) == max(f1) by construction), and the
      // max/argmin fold is ONE aggregate via lexicographic
      // max(struct(dnum, -v)) — largest dnum, then smallest v — with
      // n1/n0 carried as min-of-constant instead of a re-join.
      val f = armValueCum(s, d)
      val tot = broadcast(f.agg(sum("c1").cast("long").as("n1"),
        sum("c0").cast("long").as("n0")))
      val dd = f.crossJoin(tot).select(col("v"),
        abs(col("f1") * col("n0") - col("f0") * col("n1"))
          .cast("long").as("dnum"),
        col("n1"), col("n0"))
      val m = dd.agg(
        max(struct(col("dnum"), (-col("v")).as("negv"))).as("mx"),
        min("n1").cast("long").as("n1"), min("n0").cast("long").as("n0"))
        .select(col("n1"), col("n0"),
          col("mx.dnum").cast("long").as("d_num"),
          (-col("mx.negv")).cast("long").as("at_value"))
      val dStat = col("d_num").cast("double") /
        (col("n1") * col("n0")).cast("double")
      val crit = lit(1.358) * sqrt((col("n1") + col("n0")).cast("double")
        / (col("n1") * col("n0")).cast("double"))
      m.select(col("n1"), col("n0"), col("d_num"), col("at_value"),
        dStat.as("d_stat"), crit.as("crit_05"),
        when(dStat > crit, 1L).otherwise(0L).cast("long").as("reject_05"))
    },

    // --------------------------------------------------------------- q183
    "q183_mann_whitney_u" -> QueryDef.sql(
      "Mann-Whitney U (Wilcoxon rank-sum) between the experiment arms " +
      "on order value (Mann & Whitney 1947 — the rank-based location " +
      "test that survives the heavy-tailed spend distributions where " +
      "the q110 t-style lift is all outlier): built from the SAME " +
      "value-aggregated prefix-sum frame as q182 — per distinct cent " +
      "value v, U1 accumulates c1(v) * (count of arm-0 strictly below " +
      "+ half the ties at v), folded EXACTLY in the doubled integers " +
      "2*U1 = sum c1*(2*C0_below + c0) (the q158 rational-gate rule: " +
      "no half ever touches a float). The tie term sum t*(t^2-1) " +
      "rides as an exact integer and the normal-approximation z " +
      "(tie-corrected variance, Lehmann 1975) is computed in " +
      "single-shape IEEE on both engines -> hash-exact. The identity " +
      "u1_x2 + u0_x2 = 2*n1*n0 is a suite-asserted law. Shape at " +
      "100 TB: identical to q182 — one value aggregate, " +
      "shard-parallel windows, ONE final 1-row fold.",
      s"""WITH $armEcdfCtes,
        |tot AS (SELECT max(f1)::BIGINT AS n1, max(f0)::BIGINT AS n0
        |  FROM f),
        |u AS (SELECT
        |    sum(c1 * (2 * (f0 - c0) + c0))::BIGINT AS u1_x2,
        |    sum(c0 * (2 * (f1 - c1) + c1))::BIGINT AS u0_x2,
        |    sum((c1 + c0) * ((c1 + c0) * (c1 + c0) - 1))::BIGINT
        |      AS tie_term
        |  FROM f)
        |SELECT tot.n1, tot.n0, u.u1_x2, u.u0_x2, u.tie_term,
        |  ((u.u1_x2 - tot.n1 * tot.n0)::DOUBLE / 2.0)
        |    / sqrt((tot.n1::DOUBLE * tot.n0::DOUBLE / 12.0)
        |      * ((tot.n1 + tot.n0 + 1)::DOUBLE
        |        - u.tie_term::DOUBLE
        |          / ((tot.n1 + tot.n0)::DOUBLE
        |            * (tot.n1 + tot.n0 - 1)::DOUBLE))) AS z_approx
        |FROM u CROSS JOIN tot""".stripMargin) { (s, d) =>
      // ONE pass: n1/n0 fold as sum(c1)/sum(c0) inside the same
      // aggregate as the U and tie terms (== max(f1)/max(f0) by
      // construction), so the scaffold — and the orders scan under
      // it — is evaluated exactly once, with no join at all.
      val f = armValueCum(s, d)
      val t = col("c1") + col("c0")
      val u = f.agg(
        sum("c1").cast("long").as("n1"),
        sum("c0").cast("long").as("n0"),
        sum(col("c1") * (lit(2L) * (col("f0") - col("c0")) + col("c0")))
          .cast("long").as("u1_x2"),
        sum(col("c0") * (lit(2L) * (col("f1") - col("c1")) + col("c1")))
          .cast("long").as("u0_x2"),
        sum(t * (t * t - lit(1L))).cast("long").as("tie_term"))
      val z = ((col("u1_x2") - col("n1") * col("n0")).cast("double")
          / lit(2.0)) /
        sqrt((col("n1").cast("double") * col("n0").cast("double")
            / lit(12.0))
          * ((col("n1") + col("n0") + lit(1L)).cast("double")
            - col("tie_term").cast("double")
              / ((col("n1") + col("n0")).cast("double")
                * (col("n1") + col("n0") - lit(1L)).cast("double"))))
      u.select(col("n1"), col("n0"), col("u1_x2"), col("u0_x2"),
        col("tie_term"), z.as("z_approx"))
    },

    // --------------------------------------------------------------- q184
    "q184_diff_in_diff" -> QueryDef.sql(
      "Two-period difference-in-differences readout (the canonical " +
      "2x2 of Card & Krueger 1994 — the quasi-experimental rung the " +
      "q110/q169/q178/q181/q182/q183 randomized ladder lacks: when " +
      "assignment is NOT randomized, the pre-period difference is the " +
      "counterfactual): units = customers on the FULL assignment " +
      "frame (left join, zero-filled — the q169 rule), arm = custkey " +
      "parity, pre = 1995 spend, post = 1996 spend, both in exact " +
      "cents. Per market segment AND overall (ROLLUP): exact integer " +
      "arm counts and the four cell sums; the DiD estimate " +
      "(post1-pre1 mean change minus post0-pre0 mean change) is four " +
      "single-shape IEEE divisions and three subtracts, the identical " +
      "expression tree on both engines -> hash-exact. Parallel-trends " +
      "is the design premise, not computed — the exact cell integers " +
      "let any consumer test it on more pre-periods. Shape at " +
      "100 TB: ONE unit-level combinable aggregate over the " +
      "date-prunable fact scan, one rollup re-aggregate; no window, " +
      "no driver state; output = |segments| + 1 rows.",
      """WITH per AS (SELECT c.c_custkey, c.c_mktsegment AS segment,
        |    ((c.c_custkey % 2) + 2) % 2 AS arm,
        |    coalesce(sum(CASE WHEN year(o.o_orderdate) = 1995
        |        THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END),
        |      0)::BIGINT AS pre,
        |    coalesce(sum(CASE WHEN year(o.o_orderdate) = 1996
        |        THEN CAST(round(o.o_totalprice * 100) AS BIGINT) END),
        |      0)::BIGINT AS post
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3),
        |cells AS (SELECT segment,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN pre ELSE 0 END)::BIGINT AS s1_pre,
        |    sum(CASE WHEN arm = 1 THEN post ELSE 0 END)::BIGINT AS s1_post,
        |    sum(CASE WHEN arm = 0 THEN pre ELSE 0 END)::BIGINT AS s0_pre,
        |    sum(CASE WHEN arm = 0 THEN post ELSE 0 END)::BIGINT AS s0_post
        |  FROM per GROUP BY ROLLUP(segment))
        |SELECT coalesce(segment, '__all__') AS segment, n1, n0,
        |  s1_pre, s1_post, s0_pre, s0_post,
        |  (s1_post::DOUBLE / n1::DOUBLE - s1_pre::DOUBLE / n1::DOUBLE)
        |    - (s0_post::DOUBLE / n0::DOUBLE - s0_pre::DOUBLE / n0::DOUBLE)
        |    AS did_cents
        |FROM cells ORDER BY segment""".stripMargin) { (s, d) =>
      val per = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        .join(Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey"), col("o_orderdate"),
            col("o_totalprice")), Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("seg"),
          expr("((c_custkey % 2) + 2) % 2").cast("long").as("arm"))
        .agg(
          coalesce(sum(when(year(col("o_orderdate")) === 1995,
            round(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .cast("long").as("pre"),
          coalesce(sum(when(year(col("o_orderdate")) === 1996,
            round(col("o_totalprice") * 100).cast("long"))), lit(0L))
            .cast("long").as("post"))
      val did = (col("s1_post").cast("double") / col("n1").cast("double")
          - col("s1_pre").cast("double") / col("n1").cast("double")) -
        (col("s0_post").cast("double") / col("n0").cast("double")
          - col("s0_pre").cast("double") / col("n0").cast("double"))
      // rollup(col), not rollup("seg"): the String overload resolves the
      // name eagerly with dataset-id metadata, and after a join that
      // trips DetectAmbiguousSelfJoin (a false positive — repro'd on
      // Spark 4.1: join + groupBy + rollup(String) fails, rollup(Column)
      // analyzes fine and returns the identical plan).
      per.rollup(col("seg"))
        .agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long")
            .as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long")
            .as("n0"),
          sum(when(col("arm") === 1, col("pre")).otherwise(0L))
            .cast("long").as("s1_pre"),
          sum(when(col("arm") === 1, col("post")).otherwise(0L))
            .cast("long").as("s1_post"),
          sum(when(col("arm") === 0, col("pre")).otherwise(0L))
            .cast("long").as("s0_pre"),
          sum(when(col("arm") === 0, col("post")).otherwise(0L))
            .cast("long").as("s0_post"))
        .select(coalesce(col("seg"), lit("__all__")).as("segment"),
          col("n1"), col("n0"), col("s1_pre"), col("s1_post"),
          col("s0_pre"), col("s0_post"), did.as("did_cents"))
        .orderBy("segment")
    },

    // --------------------------------------------------------------- q185
    "q185_countmin_estimate" -> QueryDef.sql(
      "Count-min sketch frequency estimation audited against exact " +
      "counts (Cormode & Muthukrishnan 2005): a depth-4 x width-256 " +
      "CMS over customer order frequencies with fixed LCG row hashes " +
      "((a_i*k + b_i) mod 2^31-1 mod 256 — deterministic integers, " +
      "identical on both engines), built from the KEYED PARTIALS " +
      "(cell count = sum of per-key counts hashing into the cell — " +
      "algebraically identical to streaming increments, and the " +
      "combinable-aggregate form a cluster actually runs). The 20 " +
      "heaviest keys (exact count, fully tie-broken) are then read " +
      "back through the sketch: est = min over the 4 rows, and the " +
      "one-sided error est - exact rides along (>= 0 ALWAYS — the " +
      "CMS overestimate theorem, suite-asserted). All integers -> " +
      "hash-exact. Shape at 100 TB: one per-key combinable " +
      "aggregate, 4 folds to 256-row frames that BROADCAST back, " +
      "top-k via order+limit (TakeOrderedAndProject, no global " +
      "window); sketch state is d*w cells regardless of key count.",
      """WITH ex AS (SELECT o_custkey AS k, count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |top AS (SELECT k, cnt FROM ex ORDER BY cnt DESC, k LIMIT 20),
        |c1 AS (SELECT ((1103515245 * k + 12345) % 2147483647) % 256
        |    AS cell, sum(cnt)::BIGINT AS c FROM ex GROUP BY 1),
        |c2 AS (SELECT ((214013 * k + 2531011) % 2147483647) % 256
        |    AS cell, sum(cnt)::BIGINT AS c FROM ex GROUP BY 1),
        |c3 AS (SELECT ((134775813 * k + 1) % 2147483647) % 256
        |    AS cell, sum(cnt)::BIGINT AS c FROM ex GROUP BY 1),
        |c4 AS (SELECT ((69069 * k + 362437) % 2147483647) % 256
        |    AS cell, sum(cnt)::BIGINT AS c FROM ex GROUP BY 1)
        |SELECT t.k AS o_custkey, t.cnt AS exact_cnt,
        |  least(c1.c, c2.c, c3.c, c4.c)::BIGINT AS cms_est,
        |  (least(c1.c, c2.c, c3.c, c4.c) - t.cnt)::BIGINT AS overest
        |FROM top t
        |JOIN c1 ON c1.cell = ((1103515245 * t.k + 12345) % 2147483647) % 256
        |JOIN c2 ON c2.cell = ((214013 * t.k + 2531011) % 2147483647) % 256
        |JOIN c3 ON c3.cell = ((134775813 * t.k + 1) % 2147483647) % 256
        |JOIN c4 ON c4.cell = ((69069 * t.k + 362437) % 2147483647) % 256
        |ORDER BY exact_cnt DESC, o_custkey""".stripMargin) { (s, d) =>
      val ex = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cnt"))
      def cell(a: Long, b: Long, k: org.apache.spark.sql.Column) =
        ((lit(a) * k + lit(b)) % lit(2147483647L)) % lit(256L)
      val hashes = Seq((1103515245L, 12345L), (214013L, 2531011L),
        (134775813L, 1L), (69069L, 362437L))
      val top = ex.orderBy(col("cnt").desc, col("k")).limit(20)
      val joined = hashes.zipWithIndex.foldLeft(top) {
        case (acc, ((a, b), i)) =>
          val ci = ex.groupBy(cell(a, b, col("k")).as(s"cell$i"))
            .agg(sum("cnt").cast("long").as(s"c$i"))
          acc.join(broadcast(ci),
            cell(a, b, acc("k")) === ci(s"cell$i"))
      }
      val est = least(col("c0"), col("c1"), col("c2"), col("c3"))
      joined.select(col("k").as("o_custkey"), col("cnt").as("exact_cnt"),
        est.cast("long").as("cms_est"),
        (est - col("cnt")).cast("long").as("overest"))
        .orderBy(col("exact_cnt").desc, col("o_custkey"))
    },

    // --------------------------------------------------------------- q186
    "q186_ams_f2_sketch" -> QueryDef.sql(
      "AMS second-moment (F2) sketch audited against the exact value " +
      "(Alon, Matias & Szegedy 1996 — the self-join-size / repeat-rate " +
      "estimator): five +-1 sign hashes over customer keys (parity of " +
      "the same LCG family as q185), each sketch is ONE combinable " +
      "sum s_i = sum sgn_i(k)*cnt(k), the estimates are s_i^2, and " +
      "the F2 estimate is the exact integer MEDIAN of the five " +
      "(sort_array + element_at — no percentile float path). The " +
      "exact F2 = sum cnt^2 folds in the SAME single aggregate, so " +
      "the audit costs one pass; rel_err is the one IEEE division. " +
      "Shape at 100 TB: one per-key combinable aggregate feeding one " +
      "1-row fold — sketch state is FIVE longs regardless of key " +
      "count; the median-of-rows machinery is plan literals.",
      """WITH ex AS (SELECT o_custkey AS k, count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |s AS (SELECT sum(cnt * cnt)::BIGINT AS f2_exact,
        |    sum((1 - 2 * (((1103515245 * k + 12345) % 2147483647) % 2))
        |      * cnt)::BIGINT AS s1,
        |    sum((1 - 2 * (((214013 * k + 2531011) % 2147483647) % 2))
        |      * cnt)::BIGINT AS s2,
        |    sum((1 - 2 * (((134775813 * k + 1) % 2147483647) % 2))
        |      * cnt)::BIGINT AS s3,
        |    sum((1 - 2 * (((69069 * k + 362437) % 2147483647) % 2))
        |      * cnt)::BIGINT AS s4,
        |    sum((1 - 2 * (((1664525 * k + 1013904223) % 2147483647) % 2))
        |      * cnt)::BIGINT AS s5
        |  FROM ex),
        |l AS (SELECT f2_exact,
        |    list_sort([s1*s1, s2*s2, s3*s3, s4*s4, s5*s5]) AS ests
        |  FROM s)
        |SELECT f2_exact, ests[1]::BIGINT AS f2_min,
        |  ests[3]::BIGINT AS f2_med, ests[5]::BIGINT AS f2_max,
        |  (ests[3] - f2_exact)::DOUBLE / f2_exact::DOUBLE AS rel_err
        |FROM l""".stripMargin) { (s, d) =>
      val ex = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cnt"))
      def sgn(a: Long, b: Long) =
        lit(1L) - lit(2L) *
          (((lit(a) * col("k") + lit(b)) % lit(2147483647L)) % lit(2L))
      val hashes = Seq((1103515245L, 12345L), (214013L, 2531011L),
        (134775813L, 1L), (69069L, 362437L), (1664525L, 1013904223L))
      val aggs = sum(col("cnt") * col("cnt")).cast("long").as("f2_exact") +:
        hashes.zipWithIndex.map { case ((a, b), i) =>
          sum(sgn(a, b) * col("cnt")).cast("long").as(s"s${i + 1}")
        }
      val one = ex.agg(aggs.head, aggs.tail: _*)
      val ests = sort_array(array((1 to 5).map(i =>
        col(s"s$i") * col(s"s$i")): _*))
      one.select(col("f2_exact"), ests.as("ests"))
        .select(col("f2_exact"),
          element_at(col("ests"), 1).cast("long").as("f2_min"),
          element_at(col("ests"), 3).cast("long").as("f2_med"),
          element_at(col("ests"), 5).cast("long").as("f2_max"),
          ((element_at(col("ests"), 3) - col("f2_exact")).cast("double")
            / col("f2_exact").cast("double")).as("rel_err"))
    },

    // --------------------------------------------------------------- q190
    "q190_kmv_distinct_estimate" -> QueryDef.sql(
      "KMV (k-minimum-values) distinct-count sketch audited against " +
      "the exact cardinality (Bar-Yossef et al. 2002 — the " +
      "order-statistics estimator theta sketches build on, the " +
      "mergeable alternative to q46's HLL register bank): hash every " +
      "DISTINCT customer key through the q185 LCG family's injective " +
      "h(k) = (a*k + b) mod 2^31-1 (distinct keys -> distinct " +
      "hashes, no collision term), keep the 128 smallest hashes " +
      "(TakeOrdered — never a global sort; 128 so every point of the " +
      "curve populates even at sf0.001's 150 customers), and read " +
      "the estimate at " +
      "k in {16, 64, 128}: D-hat = (k-1) * p / h_(k), the one " +
      "single-shape IEEE division per row, with h_(k) and the exact " +
      "distinct count riding as integers -> hash-exact. The error " +
      "CURVE across the three k is the operational point: it shows " +
      "the 1/sqrt(k) tightening a capacity planner trades memory " +
      "for. Shape at 100 TB: one distinct aggregate (combinable), " +
      "top-128 via TakeOrderedAndProject, a 128-row window — sketch " +
      "state is k hashes regardless of cardinality, and two sketches " +
      "MERGE by keeping the k smallest of their union.",
      """WITH ks AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |ex AS (SELECT count(*)::BIGINT AS d_exact FROM ks),
        |h AS (SELECT ((1103515245 * k + 12345) % 2147483647)::BIGINT
        |    AS hv FROM ks),
        |mins AS (SELECT hv FROM h ORDER BY hv LIMIT 128),
        |rn AS (SELECT hv, row_number() OVER (ORDER BY hv)::BIGINT AS rk
        |  FROM mins)
        |SELECT rn.rk AS k, rn.hv AS kth_hash, ex.d_exact,
        |  ((rn.rk - 1) * 2147483647)::DOUBLE / rn.hv::DOUBLE AS d_est,
        |  (((rn.rk - 1) * 2147483647)::DOUBLE / rn.hv::DOUBLE
        |    - ex.d_exact::DOUBLE) / ex.d_exact::DOUBLE AS rel_err
        |FROM rn CROSS JOIN ex
        |WHERE rn.rk IN (16, 64, 128)
        |ORDER BY k""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ks = Tables.orders(s, d).select(col("o_custkey").as("k"))
        .distinct()
      val ex = broadcast(ks.agg(count(lit(1)).as("d_exact")))
      val h = ks.select(
        ((lit(1103515245L) * col("k") + lit(12345L)) % lit(2147483647L))
          .cast("long").as("hv"))
      val mins = h.orderBy("hv").limit(128)
      val rn = mins.withColumn("rk",
        row_number().over(Window.orderBy("hv")).cast("long"))
      val dEst = ((col("rk") - 1L) * lit(2147483647L)).cast("double") /
        col("hv").cast("double")
      rn.where(col("rk").isin(16L, 64L, 128L))
        .crossJoin(ex)
        .select(col("rk").as("k"), col("hv").as("kth_hash"),
          col("d_exact"), dEst.as("d_est"),
          ((dEst - col("d_exact").cast("double"))
            / col("d_exact").cast("double")).as("rel_err"))
        .orderBy("k")
    },

    // --------------------------------------------------------------- q191
    "q191_theta_set_ops" -> QueryDef.sql(
      "Theta-sketch set operations audited against exact counts " +
      "(Dasgupta et al. 2016, the DataSketches theta framework — " +
      "q190's KMV upgraded to the operation that makes sketches an " +
      "ALGEBRA: estimate union, intersection, and Jaccard of two key " +
      "populations from their k=64 minimum-hash summaries alone): " +
      "A = customers ordering in 1995, B = in 1996, the same " +
      "injective LCG hash as q190 (hash equality IS key equality, so " +
      "the sketch intersection is an equi-join of two 64-row " +
      "frames). theta = min of the two kth-minimums; both samples " +
      "count hashes STRICTLY below theta; each estimate is one " +
      "single-shape IEEE division, and every count — exact and " +
      "sampled — rides as an integer -> hash-exact. Shape at " +
      "100 TB: two distinct aggregates + two TakeOrdered(64) " +
      "sketches; every set operation after that touches 64-row " +
      "broadcast frames, never data — the reason theta sketches " +
      "power interactive count-distinct dashboards.",
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
        |  WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey AS k FROM orders
        |  WHERE year(o_orderdate) = 1996),
        |na AS (SELECT count(*)::BIGINT AS n_a FROM a),
        |nb AS (SELECT count(*)::BIGINT AS n_b FROM b),
        |ni AS (SELECT count(*)::BIGINT AS n_inter FROM a JOIN b USING (k)),
        |ka AS (SELECT ((1103515245 * k + 12345) % 2147483647)::BIGINT
        |    AS hv FROM a ORDER BY hv LIMIT 64),
        |kb AS (SELECT ((1103515245 * k + 12345) % 2147483647)::BIGINT
        |    AS hv FROM b ORDER BY hv LIMIT 64),
        |th AS (SELECT least((SELECT max(hv) FROM ka),
        |    (SELECT max(hv) FROM kb))::BIGINT AS theta),
        |un AS (SELECT count(*)::BIGINT AS u_cnt
        |  FROM (SELECT hv FROM ka UNION SELECT hv FROM kb) u
        |  CROSS JOIN th WHERE u.hv < th.theta),
        |ins AS (SELECT count(*)::BIGINT AS i_cnt
        |  FROM ka JOIN kb USING (hv) CROSS JOIN th
        |  WHERE ka.hv < th.theta)
        |SELECT na.n_a, nb.n_b, ni.n_inter,
        |  (na.n_a + nb.n_b - ni.n_inter)::BIGINT AS n_union,
        |  th.theta, un.u_cnt AS union_sample, ins.i_cnt AS inter_sample,
        |  (un.u_cnt * 2147483647)::DOUBLE / th.theta::DOUBLE AS est_union,
        |  (ins.i_cnt * 2147483647)::DOUBLE / th.theta::DOUBLE AS est_inter,
        |  (CASE WHEN un.u_cnt > 0
        |    THEN ins.i_cnt::DOUBLE / un.u_cnt::DOUBLE END)::DOUBLE
        |    AS jaccard_est,
        |  ni.n_inter::DOUBLE
        |    / (na.n_a + nb.n_b - ni.n_inter)::DOUBLE AS jaccard_exact
        |FROM na CROSS JOIN nb CROSS JOIN ni CROSS JOIN th
        |CROSS JOIN un CROSS JOIN ins""".stripMargin) { (s, d) =>
      def pop(year: Int) = Tables.orders(s, d)
        .where(org.apache.spark.sql.functions.year(col("o_orderdate"))
          === year)
        .select(col("o_custkey").as("k")).distinct()
      def sketch(p: DataFrame) = p.select(
        ((lit(1103515245L) * col("k") + lit(12345L)) % lit(2147483647L))
          .cast("long").as("hv"))
        .orderBy("hv").limit(64)
      val (a, b) = (pop(1995), pop(1996))
      val na = broadcast(a.agg(count(lit(1)).as("n_a")))
      val nb = broadcast(b.agg(count(lit(1)).as("n_b")))
      val ni = broadcast(a.join(b, Seq("k")).agg(count(lit(1)).as("n_inter")))
      val (ka, kb) = (sketch(a), sketch(b))
      val th = broadcast(
        ka.agg(max("hv").as("ta")).crossJoin(kb.agg(max("hv").as("tb")))
          .select(least(col("ta"), col("tb")).cast("long").as("theta")))
      val un = broadcast(ka.union(kb).distinct().crossJoin(th)
        .where(col("hv") < col("theta"))
        .agg(count(lit(1)).as("u_cnt")))
      val ins = broadcast(ka.join(kb, Seq("hv")).crossJoin(th)
        .where(col("hv") < col("theta"))
        .agg(count(lit(1)).as("i_cnt")))
      na.crossJoin(nb).crossJoin(ni).crossJoin(th).crossJoin(un)
        .crossJoin(ins)
        .select(col("n_a"), col("n_b"), col("n_inter"),
          (col("n_a") + col("n_b") - col("n_inter")).cast("long")
            .as("n_union"),
          col("theta"), col("u_cnt").as("union_sample"),
          col("i_cnt").as("inter_sample"),
          ((col("u_cnt") * lit(2147483647L)).cast("double")
            / col("theta").cast("double")).as("est_union"),
          ((col("i_cnt") * lit(2147483647L)).cast("double")
            / col("theta").cast("double")).as("est_inter"),
          when(col("u_cnt") > 0, col("i_cnt").cast("double")
            / col("u_cnt").cast("double")).as("jaccard_est"),
          (col("n_inter").cast("double")
            / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
            .as("jaccard_exact"))
    },

    // --------------------------------------------------------------- q194
    "q194_price_index" -> QueryDef.sql(
      "Per-brand unit-value price index 1995 -> 1996 (the index-" +
      "number rung of the pricing family — q149 measures supplier " +
      "concentration, this measures price CHANGE holding the brand " +
      "mix fixed): per brand and ship-year, exact revenue cents and " +
      "exact unit counts (TPC-H quantities are whole — cast BIGINT, " +
      "never a float sum), and the index is the unit-value ratio " +
      "(e1/q1)/(e0/q0) composed entirely of single-shape IEEE " +
      "divisions over those exact integers — deliberately NOT the " +
      "giant cross-product integer (e1*q0 vs e0*q1 overflows int64 " +
      "at ~sf1 revenue volumes; four small divisions are exact-shape " +
      "on both engines and never overflow). Shape at 100 TB: one " +
      "combinable (brand, year) aggregate over the date-pruned " +
      "lineitem scan behind a partkey equi-join to part, then a " +
      "25-row pivot join — output is |brands| rows.",
      """WITH ly AS (SELECT p.p_brand AS brand,
        |    year(l.l_shipdate) AS y,
        |    sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS e,
        |    sum(CAST(l.l_quantity AS BIGINT))::BIGINT AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(l.l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |b AS (SELECT y0.brand, y0.e AS e0, y0.q AS q0,
        |    y1.e AS e1, y1.q AS q1
        |  FROM ly y0 JOIN ly y1 ON y0.brand = y1.brand
        |  WHERE y0.y = 1995 AND y1.y = 1996)
        |SELECT brand, e0 AS rev0_cents, q0 AS qty0,
        |  e1 AS rev1_cents, q1 AS qty1,
        |  (e1::DOUBLE / q1::DOUBLE) / (e0::DOUBLE / q0::DOUBLE)
        |    AS unit_value_index
        |FROM b ORDER BY brand""".stripMargin) { (s, d) =>
      val ly = Tables.lineitem(s, d)
        .where(year(col("l_shipdate")).isin(1995, 1996))
        .join(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          year(col("l_shipdate")).as("y"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("long").as("e"),
          sum(col("l_quantity").cast("long")).cast("long").as("q"))
      val y0 = ly.where(col("y") === 1995)
        .select(col("brand"), col("e").as("e0"), col("q").as("q0"))
      val y1 = ly.where(col("y") === 1996)
        .select(col("brand").as("brand1"), col("e").as("e1"),
          col("q").as("q1"))
      y0.join(y1, col("brand") === col("brand1"))
        .select(col("brand"), col("e0").as("rev0_cents"),
          col("q0").as("qty0"), col("e1").as("rev1_cents"),
          col("q1").as("qty1"),
          ((col("e1").cast("double") / col("q1").cast("double"))
            / (col("e0").cast("double") / col("q0").cast("double")))
            .as("unit_value_index"))
        .orderBy("brand")
    },

    // --------------------------------------------------------------- q195
    "q195_abc_classification" -> QueryDef.sql(
      "ABC (Pareto) inventory classification: parts ranked by exact " +
      "revenue cents (fully tie-broken by partkey), cumulative " +
      "revenue share against the total, class A while the INCLUSIVE " +
      "running share is <= 80%, B to 95%, C after — thresholds " +
      "tested as exact integer cross-products (20*cum <= 16*total, " +
      "20*cum <= 19*total; no float ever decides a class), then one " +
      "fold to the three class rows with integer counts/sums and " +
      "one share division each. The cumulative sum runs as RangeRank " +
      "(boundary buckets desc on revenue, per-bucket running sums + " +
      "broadcast bucket prefix sums) over the per-PART aggregate — " +
      "never lineitem rows, never a single-partition exchange " +
      "(plan-pinned) — so the exact form holds to ~10^9 parts; " +
      "beyond that, boundary revenues come from q85's sketch and " +
      "classing becomes a map-side compare. int64 headroom: " +
      "20*total_cents holds to ~$4.6e15 of revenue.",
      """WITH pr AS (SELECT l_partkey AS pk,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(rev)::BIGINT AS total FROM pr),
        |c AS (SELECT pk, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, pk
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM pr),
        |k AS (SELECT pk, rev,
        |    (CASE WHEN 20 * cum <= 16 * t.total THEN 'A'
        |          WHEN 20 * cum <= 19 * t.total THEN 'B'
        |          ELSE 'C' END) AS cls
        |  FROM c CROSS JOIN t)
        |SELECT cls, count(*)::BIGINT AS n_parts,
        |  sum(rev)::BIGINT AS revenue_cents,
        |  sum(rev)::DOUBLE / (SELECT total FROM t)::DOUBLE AS rev_share
        |FROM k GROUP BY cls ORDER BY cls""".stripMargin) { (s, d) =>
      // Shared-persisted: RangeRank's two side passes (boundaries,
      // bucket count+sum) plus the total and the main pass all fold
      // from this one materialized per-part aggregate.
      val pr = graft.plans.SharedFrames(s, d, "q195_pr") {
        Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("long").as("rev"))
      }
      val t = broadcast(pr.agg(sum("rev").cast("long").as("total")))
      val c = graft.functions.RangeRank.withRunningSum(
        pr, "rev", "pk", "rev", "cum", desc = true, statsFrom = pr)
      val k = c.crossJoin(t)
        .withColumn("cls",
          when(lit(20L) * col("cum") <= lit(16L) * col("total"), "A")
            .when(lit(20L) * col("cum") <= lit(19L) * col("total"), "B")
            .otherwise("C"))
      k.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"),
          sum("rev").cast("long").as("revenue_cents"))
        .crossJoin(t)
        .select(col("cls"), col("n_parts"), col("revenue_cents"),
          (col("revenue_cents").cast("double")
            / col("total").cast("double")).as("rev_share"))
        .orderBy("cls")
    },

    // --------------------------------------------------------------- q196
    "q196_weighted_median_discount" -> QueryDef.sql(
      "Revenue-weighted median discount per supplier nation — the " +
      "exact weighted-quantile operator (Edgeworth 1888's weighted " +
      "median; the robust 'typical discount per revenue dollar' a " +
      "mean would let outlier line items distort): per (nation, " +
      "discount) the exact revenue-cents weight, a cumulative window " +
      "over each nation's AT MOST 11 distinct discount levels, and " +
      "the elected median is the smallest discount whose DOUBLED " +
      "inclusive cumulative weight reaches the nation total — an " +
      "integer comparison (2*cum >= total), never a float decision; " +
      "the discount value itself is the verbatim stored double, " +
      "identical bits on both engines. Output also carries the " +
      "crossing cum and total for auditability. Shape at 100 TB: " +
      "one combinable (nation, discount) aggregate behind two " +
      "broadcast dimension joins; windows run over <= 11 rows per " +
      "nation; output = |nations| rows.",
      """WITH w AS (SELECT n.n_name AS nation, l.l_discount AS disc,
        |    sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |c AS (SELECT nation, disc, cents,
        |    sum(cents) OVER (PARTITION BY nation ORDER BY disc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS cum,
        |    sum(cents) OVER (PARTITION BY nation)::BIGINT AS total
        |  FROM w),
        |m AS (SELECT nation, min(disc) AS med_disc FROM c
        |  WHERE 2 * cum >= total GROUP BY 1)
        |SELECT m.nation AS nation, m.med_disc,
        |  c.cum AS crossing_cum_cents, c.total AS total_cents
        |FROM m JOIN c ON c.nation = m.nation AND c.disc = m.med_disc
        |ORDER BY m.nation""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          col("l_discount").as("disc"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val wc = Window.partitionBy("nation").orderBy("disc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("nation")
      val c = w
        .withColumn("cum", sum("cents").over(wc).cast("long"))
        .withColumn("total", sum("cents").over(wt).cast("long"))
      val m = c.where(lit(2L) * col("cum") >= col("total"))
        .groupBy("nation").agg(min("disc").as("med_disc"))
        .withColumnRenamed("nation", "mnation")
      m.join(c,
          col("mnation") === col("nation") && col("med_disc") === col("disc"))
        .select(col("mnation").as("nation"), col("med_disc"),
          col("cum").as("crossing_cum_cents"),
          col("total").as("total_cents"))
        .orderBy("nation")
    },

    // --------------------------------------------------------------- q199
    "q199_gk_lambda" -> QueryDef.sql(
      "Goodman-Kruskal lambda between two categorical columns (lang x " +
      "source) — the LOG-FREE association measure (proportional " +
      "reduction in prediction error) that complements q133's " +
      "chi-square test with an effect SIZE: knowing lang, how much " +
      "better do you guess source than always guessing the modal " +
      "source (and vice versa, plus the symmetric variant)? Every " +
      "ingredient is an integer fold over the contingency grid " +
      "(sum-of-row-maxima, modal marginals); the three lambdas are " +
      "the only IEEE divisions, one per output column — hash-exact, " +
      "no ln() (mutual information would need libm; lambda is the " +
      "PRE measure that doesn't — the q53 rule). Shape at 100 TB: " +
      "ONE combinable (lang, source) count aggregate -> a grid of at " +
      "most |langs|*|sources| cells; every later fold runs on the " +
      "grid or its marginals, then three 1-row broadcast cross joins.",
      """WITH m AS (SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT lang, max(n)::BIGINT AS mx, sum(n)::BIGINT AS tot
        |  FROM m GROUP BY 1),
        |cm AS (SELECT source, max(n)::BIGINT AS mx, sum(n)::BIGINT AS tot
        |  FROM m GROUP BY 1),
        |s AS (SELECT
        |    (SELECT sum(n) FROM m)::BIGINT AS n_total,
        |    (SELECT sum(mx) FROM rm)::BIGINT AS sum_row_max,
        |    (SELECT sum(mx) FROM cm)::BIGINT AS sum_col_max,
        |    (SELECT max(tot) FROM rm)::BIGINT AS max_lang_marg,
        |    (SELECT max(tot) FROM cm)::BIGINT AS max_source_marg)
        |SELECT n_total, sum_row_max, sum_col_max, max_lang_marg,
        |  max_source_marg,
        |  (sum_row_max - max_source_marg)::DOUBLE
        |    / (n_total - max_source_marg)::DOUBLE AS lambda_source_given_lang,
        |  (sum_col_max - max_lang_marg)::DOUBLE
        |    / (n_total - max_lang_marg)::DOUBLE AS lambda_lang_given_source,
        |  (sum_row_max + sum_col_max - max_source_marg - max_lang_marg)::DOUBLE
        |    / (2 * n_total - max_source_marg - max_lang_marg)::DOUBLE
        |    AS lambda_sym
        |FROM s""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val rm = m.groupBy("lang").agg(max("n").as("mx"), sum("n").as("tot"))
      val cm = m.groupBy("source").agg(max("n").as("mx"), sum("n").as("tot"))
      val t = m.agg(sum("n").cast("long").as("n_total"))
      val r = rm.agg(sum("mx").cast("long").as("sum_row_max"),
        max("tot").cast("long").as("max_lang_marg"))
      val c = cm.agg(sum("mx").cast("long").as("sum_col_max"),
        max("tot").cast("long").as("max_source_marg"))
      t.crossJoin(broadcast(r)).crossJoin(broadcast(c))
        .select(col("n_total"), col("sum_row_max"), col("sum_col_max"),
          col("max_lang_marg"), col("max_source_marg"),
          ((col("sum_row_max") - col("max_source_marg")).cast("double")
            / (col("n_total") - col("max_source_marg")).cast("double"))
            .as("lambda_source_given_lang"),
          ((col("sum_col_max") - col("max_lang_marg")).cast("double")
            / (col("n_total") - col("max_lang_marg")).cast("double"))
            .as("lambda_lang_given_source"),
          ((col("sum_row_max") + col("sum_col_max")
              - col("max_source_marg") - col("max_lang_marg")).cast("double")
            / (lit(2L) * col("n_total")
              - col("max_source_marg") - col("max_lang_marg")).cast("double"))
            .as("lambda_sym"))
    },

    // --------------------------------------------------------------- q200
    "q200_ips_offpolicy" -> QueryDef.sql(
      "Off-policy evaluation via inverse propensity scoring — the " +
      "counterfactual 'what would a UNIFORM action policy have " +
      "earned?' estimate from logged (action, reward) events, the " +
      "replay primitive behind every bandit/recommender audit: with " +
      "the logging propensity estimated empirically (mu(a) = n_a/N) " +
      "and the target uniform over the K observed actions, the IPS " +
      "sum collapses ALGEBRAICALLY to per-action closed forms — " +
      "sum_a S_a/(K*n_a) — so no per-event importance weight is ever " +
      "materialized. Rewards are cents-exact (q146 fixed-point rule); " +
      "each output row carries integer evidence plus exactly two " +
      "single-shape divisions (on-policy mean, IPS term) -> " +
      "hash-exact. Shape at 100 TB: ONE combinable per-action " +
      "aggregate over the event scan + a broadcast 1-row totals " +
      "frame; output = K rows.",
      """WITH a AS (SELECT event_type AS action, count(*)::BIGINT AS n_a,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS reward_cents
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n_a)::BIGINT AS n_total,
        |    count(*)::BIGINT AS k_actions FROM a)
        |SELECT a.action, a.n_a, a.reward_cents, t.n_total, t.k_actions,
        |  a.reward_cents::DOUBLE / (100 * a.n_a)::DOUBLE AS on_policy_mean,
        |  a.reward_cents::DOUBLE / (100 * t.k_actions * a.n_a)::DOUBLE
        |    AS ips_uniform_term
        |FROM a CROSS JOIN t
        |ORDER BY a.action""".stripMargin) { (s, d) =>
      val a = Tables.events(s, d)
        .groupBy(col("event_type").as("action"))
        .agg(count(lit(1)).as("n_a"),
          sum(round(col("value") * 100).cast("long")).cast("long")
            .as("reward_cents"))
      val t = a.agg(sum("n_a").cast("long").as("n_total"),
        count(lit(1)).as("k_actions"))
      a.crossJoin(broadcast(t))
        .select(col("action"), col("n_a"), col("reward_cents"),
          col("n_total"), col("k_actions"),
          (col("reward_cents").cast("double")
            / (lit(100L) * col("n_a")).cast("double")).as("on_policy_mean"),
          (col("reward_cents").cast("double")
            / (lit(100L) * col("k_actions") * col("n_a")).cast("double"))
            .as("ips_uniform_term"))
        .orderBy("action")
    },

    // --------------------------------------------------------------- q202
    "q202_spearman_rho" -> QueryDef.sql(
      "Tie-corrected Spearman rank correlation between quantity and " +
      "discount — the robust monotone-dependence measure (Pearson on " +
      "average ranks) q51's moment correlation can't replace when " +
      "the relationship is nonlinear: both columns have DOMAIN-" +
      "BOUNDED level sets (<=50 quantities, <=11 discounts), so the " +
      "value-aggregated grid carries everything; average ranks are " +
      "computed as exact CENTERED doubled ranks (2*cum - c - N: " +
      "integers, and centering makes the rank sums identically zero " +
      "so rho needs NO catastrophic N*S12 - S1*S2 cancellation), the " +
      "three cross moments fold in DECIMAL(38,0) (the q77 128-bit " +
      "exactness rule — w*ax*ay overflows BIGINT past ~sf1), and rho " +
      "= s12/(sqrt(s11)*sqrt(s22)) is three exactly-rounded IEEE ops " +
      "(sqrt is NOT libm — it's correctly rounded by IEEE 754) -> " +
      "hash-exact. Shape at 100 TB: one combinable (qty, disc) grid " +
      "aggregate; rank windows run over <=50 marginal rows; one " +
      "decimal fold over <=550 cells.",
      """WITH g AS (SELECT l_quantity AS x, l_discount AS y,
        |    count(*)::BIGINT AS w FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT sum(w)::BIGINT AS n FROM g),
        |xm AS (SELECT x, sum(w)::BIGINT AS c FROM g GROUP BY 1),
        |xr AS (SELECT x, 2 * sum(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - c - (SELECT n FROM t) AS ax FROM xm),
        |ym AS (SELECT y, sum(w)::BIGINT AS c FROM g GROUP BY 1),
        |yr AS (SELECT y, 2 * sum(c) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - c - (SELECT n FROM t) AS ay FROM ym),
        |j AS (SELECT g.w, xr.ax, yr.ay FROM g
        |  JOIN xr ON g.x = xr.x JOIN yr ON g.y = yr.y),
        |mom AS (SELECT
        |    sum(CAST(w AS DECIMAL(12,0)) * CAST(ax AS DECIMAL(13,0))
        |      * CAST(ay AS DECIMAL(13,0))) AS s12,
        |    sum(CAST(w AS DECIMAL(12,0)) * CAST(ax AS DECIMAL(13,0))
        |      * CAST(ax AS DECIMAL(13,0))) AS s11,
        |    sum(CAST(w AS DECIMAL(12,0)) * CAST(ay AS DECIMAL(13,0))
        |      * CAST(ay AS DECIMAL(13,0))) AS s22
        |  FROM j)
        |SELECT (SELECT n FROM t) AS n,
        |  (SELECT count(*) FROM xm)::BIGINT AS n_x_levels,
        |  (SELECT count(*) FROM ym)::BIGINT AS n_y_levels,
        |  s12::DOUBLE / (sqrt(s11::DOUBLE) * sqrt(s22::DOUBLE)) AS rho
        |FROM mom""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").as("x"), col("l_discount").as("y"))
        .agg(count(lit(1)).as("w"))
      val t = g.agg(sum("w").cast("long").as("n"))
      val wx = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wy = Window.orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val xr = g.groupBy("x").agg(sum("w").cast("long").as("c"))
        .withColumn("cum", sum("c").over(wx))
        .crossJoin(broadcast(t))
        .select(col("x"), (lit(2L) * col("cum") - col("c") - col("n"))
          .as("ax"))
      val yr = g.groupBy("y").agg(sum("w").cast("long").as("c"))
        .withColumn("cum", sum("c").over(wy))
        .crossJoin(broadcast(t))
        .select(col("y"), (lit(2L) * col("cum") - col("c") - col("n"))
          .as("ay"))
      val j = g.join(broadcast(xr), "x").join(broadcast(yr), "y")
        .select(col("w").cast("decimal(12,0)").as("w"),
          col("ax").cast("decimal(13,0)").as("ax"),
          col("ay").cast("decimal(13,0)").as("ay"))
      val mom = j.agg(
        sum(col("w") * col("ax") * col("ay")).as("s12"),
        sum(col("w") * col("ax") * col("ax")).as("s11"),
        sum(col("w") * col("ay") * col("ay")).as("s22"))
      val nx = g.agg(countDistinct("x").as("n_x_levels"))
      val ny = g.agg(countDistinct("y").as("n_y_levels"))
      t.crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
        .crossJoin(broadcast(mom))
        .select(col("n"), col("n_x_levels"), col("n_y_levels"),
          (col("s12").cast("double")
            / (sqrt(col("s11").cast("double"))
              * sqrt(col("s22").cast("double")))).as("rho"))
    },

    // --------------------------------------------------------------- q203
    "q203_trimmed_means" -> QueryDef.sql(
      "Per-brand 10%-trimmed and winsorized mean price — the robust " +
      "location estimators that complement q82's MAD spread: order " +
      "statistics are ELECTED from the (brand, cents) value-" +
      "aggregated frame by integer cumulative-count algebra (the " +
      "q196 election rule — never a float percentile), the trimmed " +
      "sum is a per-cell OVERLAP of the kept index range [k+1, n-k] " +
      "with each cell's index span (pure integer min/max algebra, no " +
      "per-row pass), and winsorization adds k copies of each clamp " +
      "value algebraically. Two single-shape divisions per brand -> " +
      "hash-exact. Shape at 100 TB: broadcast part join -> one " +
      "combinable (brand, cents) aggregate; the cumulative index " +
      "uses the q182 SHARDED distributed prefix sum ((brand, shard) " +
      "windows + a tiny per-brand shard-prefix window), so no " +
      "unsplittable brand-wide window ever forms; brand totals " +
      "come from a 25-row broadcast aggregate, not a window.",
      """WITH li AS (SELECT p.p_brand AS brand,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |g AS (SELECT brand, cents, count(*)::BIGINT AS c
        |  FROM li GROUP BY 1, 2),
        |tot AS (SELECT brand, sum(c)::BIGINT AS n, (sum(c) // 10)::BIGINT
        |    AS k FROM g GROUP BY 1),
        |cumf AS (SELECT g.brand, g.cents, g.c, tot.n, tot.k,
        |    sum(g.c) OVER (PARTITION BY g.brand ORDER BY g.cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum
        |  FROM g JOIN tot ON g.brand = tot.brand),
        |tr AS (SELECT brand, n, k,
        |    sum(greatest(0, least(cum, n - k) - greatest(cum - c, k)))
        |      ::BIGINT AS n_kept,
        |    sum(cents * greatest(0, least(cum, n - k) - greatest(cum - c,
        |      k)))::BIGINT AS kept_cents
        |  FROM cumf GROUP BY 1, 2, 3),
        |lo AS (SELECT brand, min(cents) AS lo_cents FROM cumf
        |  WHERE cum >= k + 1 GROUP BY 1),
        |hi AS (SELECT brand, min(cents) AS hi_cents FROM cumf
        |  WHERE cum >= n - k GROUP BY 1)
        |SELECT t.brand, t.n, t.k, lo.lo_cents::BIGINT AS lo_cents,
        |  hi.hi_cents::BIGINT AS hi_cents,
        |  t.kept_cents::DOUBLE / (100 * t.n_kept)::DOUBLE AS trimmed_mean,
        |  (t.kept_cents + t.k * lo.lo_cents + t.k * hi.hi_cents)::DOUBLE
        |    / (100 * t.n)::DOUBLE AS winsor_mean
        |FROM tr t JOIN lo ON t.brand = lo.brand
        |JOIN hi ON t.brand = hi.brand
        |ORDER BY t.brand""".stripMargin) { (s, d) =>
      brandRobustMeans(s, d)
    },

    // --------------------------------------------------------------- q204
    "q204_fd_profile" -> QueryDef.sql(
      "Functional-dependency profiler — the schema-discovery sibling " +
      "of q121's inclusion-dependency scan: for each candidate " +
      "det -> dep pair, the exact g3 error (minimum rows to delete " +
      "for the FD to hold = N - sum over determinant groups of the " +
      "modal dependent count — Kivinen-Mannila 1995), group/cell " +
      "counts, an integer is_fd flag, and conformance = sum_max/N as " +
      "the ONE division per row. One true FD (p_partkey -> p_brand, " +
      "key-determined) anchors the zero case; five non-FDs measure " +
      "real violation mass. Shape at 100 TB: each candidate is one " +
      "combinable (det, dep) count aggregate -> per-det max fold -> " +
      "1-row scalar; candidates union independently (no cross-" +
      "candidate shuffle); nothing is ever row-level after the " +
      "first aggregate.",
      """SELECT * FROM (
        |SELECT 'part.p_brand' AS det, 'p_type' AS dep,
        |  sum(tot)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
        |  sum(cells)::BIGINT AS n_cells,
        |  (sum(tot) - sum(mx))::BIGINT AS g3_violations,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT AS is_fd,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE AS conformance
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT p_brand AS d, p_type AS e, count(*)::BIGINT AS n
        |    FROM part GROUP BY 1, 2) GROUP BY 1)
        |UNION ALL
        |SELECT 'part.p_name', 'p_brand', sum(tot)::BIGINT,
        |  count(*)::BIGINT, sum(cells)::BIGINT,
        |  (sum(tot) - sum(mx))::BIGINT,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT p_name AS d, p_brand AS e, count(*)::BIGINT AS n
        |    FROM part GROUP BY 1, 2) GROUP BY 1)
        |UNION ALL
        |SELECT 'part.p_partkey', 'p_brand', sum(tot)::BIGINT,
        |  count(*)::BIGINT, sum(cells)::BIGINT,
        |  (sum(tot) - sum(mx))::BIGINT,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT p_partkey AS d, p_brand AS e, count(*)::BIGINT AS n
        |    FROM part GROUP BY 1, 2) GROUP BY 1)
        |UNION ALL
        |SELECT 'part.p_type', 'p_size', sum(tot)::BIGINT,
        |  count(*)::BIGINT, sum(cells)::BIGINT,
        |  (sum(tot) - sum(mx))::BIGINT,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT p_type AS d, p_size AS e, count(*)::BIGINT AS n
        |    FROM part GROUP BY 1, 2) GROUP BY 1)
        |UNION ALL
        |SELECT 'customer.c_mktsegment', 'c_nationkey', sum(tot)::BIGINT,
        |  count(*)::BIGINT, sum(cells)::BIGINT,
        |  (sum(tot) - sum(mx))::BIGINT,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT c_mktsegment AS d, c_nationkey AS e,
        |    count(*)::BIGINT AS n FROM customer GROUP BY 1, 2) GROUP BY 1)
        |UNION ALL
        |SELECT 'orders.o_custkey', 'o_orderpriority', sum(tot)::BIGINT,
        |  count(*)::BIGINT, sum(cells)::BIGINT,
        |  (sum(tot) - sum(mx))::BIGINT,
        |  (CASE WHEN sum(tot) = sum(mx) THEN 1 ELSE 0 END)::BIGINT,
        |  sum(mx)::DOUBLE / sum(tot)::DOUBLE
        |FROM (SELECT d, max(n) AS mx, sum(n) AS tot, count(*) AS cells
        |  FROM (SELECT o_custkey AS d, o_orderpriority AS e,
        |    count(*)::BIGINT AS n FROM orders GROUP BY 1, 2) GROUP BY 1)
        |) ORDER BY det, dep""".stripMargin) { (s, d) =>
      val cands = Seq(
        (Tables.part(s, d), "part.p_brand", "p_brand", "p_type"),
        (Tables.part(s, d), "part.p_name", "p_name", "p_brand"),
        (Tables.part(s, d), "part.p_partkey", "p_partkey", "p_brand"),
        (Tables.part(s, d), "part.p_type", "p_type", "p_size"),
        (Tables.customer(s, d), "customer.c_mktsegment", "c_mktsegment",
          "c_nationkey"),
        (Tables.orders(s, d), "orders.o_custkey", "o_custkey",
          "o_orderpriority"))
      cands.map { case (df, label, det, dep) =>
        df.groupBy(col(det).as("d"), col(dep).as("e"))
          .agg(count(lit(1)).as("n"))
          .groupBy("d")
          .agg(max("n").as("mx"), sum("n").as("tot"),
            count(lit(1)).as("cells"))
          .agg(sum("tot").cast("long").as("n_rows"),
            count(lit(1)).as("n_groups"),
            sum("cells").cast("long").as("n_cells"),
            (sum("tot") - sum("mx")).cast("long").as("g3_violations"),
            when(sum("tot") === sum("mx"), 1L).otherwise(0L)
              .cast("long").as("is_fd"),
            (sum("mx").cast("double") / sum("tot").cast("double"))
              .as("conformance"))
          .select(lit(label).as("det"), lit(dep).as("dep"),
            col("n_rows"), col("n_groups"), col("n_cells"),
            col("g3_violations"), col("is_fd"), col("conformance"))
      }.reduce(_ union _).orderBy("det", "dep")
    },

    // --------------------------------------------------------------- q209
    "q209_multireg" -> QueryDef.sql(
      "Two-regressor least squares with intercept (price ~ quantity + " +
      "discount) via exact normal equations — the multi-feature step " +
      "up from q104's single-feature trend line, solved WITHOUT a " +
      "gradient loop: nine raw moments fold exactly in DECIMAL (each " +
      "width chosen so every product stays inside 38 digits through " +
      "~1e11 rows — the q175 cleared-denominator discipline; beyond " +
      "that, shard-and-center), the n-scaled centered moments " +
      "c11/c22/c12/c1y/c2y/cyy are exact integers converted once to " +
      "double (correctly rounded), and the 2x2 Cramer solve + " +
      "intercept + R^2 are fixed exactly-rounded IEEE trees -> " +
      "hash-exact, no iteration, no libm. Shape at 100 TB: ONE " +
      "combinable 9-moment aggregate over the scan; everything after " +
      "is 1-row algebra.",
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT count(*)::DECIMAL(11,0) AS n,
        |    sum(x1)::DECIMAL(13,0) AS s1, sum(x2)::DECIMAL(13,0) AS s2,
        |    sum(y)::DECIMAL(19,0) AS sy,
        |    sum(x1 * x1)::DECIMAL(15,0) AS s11,
        |    sum(x2 * x2)::DECIMAL(15,0) AS s22,
        |    sum(x1 * x2)::DECIMAL(15,0) AS s12,
        |    sum(CAST(x1 * y AS DECIMAL(20,0))) AS s1y,
        |    sum(CAST(x2 * y AS DECIMAL(20,0))) AS s2y,
        |    sum(CAST(y AS DECIMAL(14,0)) * CAST(y AS DECIMAL(14,0)))
        |      ::DECIMAL(27,0) AS syy
        |  FROM b),
        |c AS (SELECT n::BIGINT AS n_rows,
        |    (n * s11 - s1 * s1)::DOUBLE AS c11,
        |    (n * s22 - s2 * s2)::DOUBLE AS c22,
        |    (n * s12 - s1 * s2)::DOUBLE AS c12,
        |    (n * s1y - s1 * sy)::DOUBLE AS c1y,
        |    (n * s2y - s2 * sy)::DOUBLE AS c2y,
        |    (n * syy - sy * sy)::DOUBLE AS cyy,
        |    s1::DOUBLE AS s1d, s2::DOUBLE AS s2d, sy::DOUBLE AS syd,
        |    n::DOUBLE AS nd
        |  FROM m),
        |f AS (SELECT n_rows, c1y, c2y, cyy, s1d, s2d, syd, nd,
        |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)
        |      AS beta_qty_cents,
        |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12)
        |      AS beta_disc_cents
        |  FROM c)
        |SELECT n_rows, beta_qty_cents, beta_disc_cents,
        |  (syd - beta_qty_cents * s1d - beta_disc_cents * s2d) / nd
        |    AS intercept_cents,
        |  (beta_qty_cents * c1y + beta_disc_cents * c2y) / cyy AS r2
        |FROM f""".stripMargin) { (s, d) =>
      val b = Tables.lineitem(s, d).selectExpr(
        "CAST(l_quantity AS BIGINT) AS x1",
        "CAST(round(l_discount * 100) AS BIGINT) AS x2",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS y")
      val m = b.selectExpr(
        "CAST(1 AS DECIMAL(11,0)) AS one",
        "CAST(x1 AS DECIMAL(13,0)) AS x1d",
        "CAST(x2 AS DECIMAL(13,0)) AS x2d",
        "CAST(y AS DECIMAL(19,0)) AS yd",
        "CAST(x1 * x1 AS DECIMAL(15,0)) AS x11",
        "CAST(x2 * x2 AS DECIMAL(15,0)) AS x22",
        "CAST(x1 * x2 AS DECIMAL(15,0)) AS xx12",
        "CAST(x1 * y AS DECIMAL(20,0)) AS x1y",
        "CAST(x2 * y AS DECIMAL(20,0)) AS x2y",
        "CAST(y AS DECIMAL(14,0)) * CAST(y AS DECIMAL(14,0)) AS y2")
        .agg(count(lit(1)).cast("decimal(11,0)").as("n"),
          sum("x1d").cast("decimal(13,0)").as("s1"),
          sum("x2d").cast("decimal(13,0)").as("s2"),
          sum("yd").cast("decimal(19,0)").as("sy"),
          sum("x11").cast("decimal(15,0)").as("s11"),
          sum("x22").cast("decimal(15,0)").as("s22"),
          sum("xx12").cast("decimal(15,0)").as("s12"),
          sum("x1y").cast("decimal(20,0)").as("s1y"),
          sum("x2y").cast("decimal(20,0)").as("s2y"),
          sum("y2").cast("decimal(27,0)").as("syy"))
      val c = m.select(col("n").cast("long").as("n_rows"),
        (col("n") * col("s11") - col("s1") * col("s1")).cast("double")
          .as("c11"),
        (col("n") * col("s22") - col("s2") * col("s2")).cast("double")
          .as("c22"),
        (col("n") * col("s12") - col("s1") * col("s2")).cast("double")
          .as("c12"),
        (col("n") * col("s1y") - col("s1") * col("sy")).cast("double")
          .as("c1y"),
        (col("n") * col("s2y") - col("s2") * col("sy")).cast("double")
          .as("c2y"),
        (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
          .as("cyy"),
        col("s1").cast("double").as("s1d"),
        col("s2").cast("double").as("s2d"),
        col("sy").cast("double").as("syd"),
        col("n").cast("double").as("nd"))
      val det = col("c11") * col("c22") - col("c12") * col("c12")
      val f = c.select(col("n_rows"), col("c1y"), col("c2y"), col("cyy"),
        col("s1d"), col("s2d"), col("syd"), col("nd"),
        ((col("c1y") * col("c22") - col("c2y") * col("c12")) / det)
          .as("beta_qty_cents"),
        ((col("c2y") * col("c11") - col("c1y") * col("c12")) / det)
          .as("beta_disc_cents"))
      f.select(col("n_rows"), col("beta_qty_cents"), col("beta_disc_cents"),
        ((col("syd") - col("beta_qty_cents") * col("s1d")
          - col("beta_disc_cents") * col("s2d")) / col("nd"))
          .as("intercept_cents"),
        ((col("beta_qty_cents") * col("c1y")
          + col("beta_disc_cents") * col("c2y")) / col("cyy")).as("r2"))
    },

    // --------------------------------------------------------------- q212
    "q212_conformal_coverage" -> QueryDef.sql(
      "Split-conformal prediction intervals with a realized-coverage " +
      "audit (Vovk et al. 2005; Angelopoulos & Bates 2023 tutorial " +
      "formulation) — the distribution-free uncertainty wrapper a " +
      "production scorer ships with: the event stream splits " +
      "train/calibration/test on a FOURTH independent q62-family " +
      "deterministic hash stream, h % 1000 range-bucketed 50/25/25 (low-bit extraction of the two-limb hash correlates; q56/q62's range rule is the documented contract — and conformal validity rests on " +
      "calibration-test exchangeability, so the stream must be " +
      "uncorrelated with every other sampling decision), a " +
      "deterministic per-type mean model fits on train in integer " +
      "cents (sum DIV count), nonconformity scores are exact integer " +
      "|y - yhat|, and for alpha in {10%, 20%} the conformal " +
      "quantile qhat = the ceil((1-alpha)(n_cal+1))-th smallest " +
      "calibration score — elected EXACTLY via the q203 " +
      "value-domain pattern (distinct-score counts + one cumulative " +
      "sum over the score domain, never a global row sort) — and " +
      "the audit reports test-set coverage. Everything " +
      "but the final coverage ratio is exact integers -> hash-exact. " +
      "Shape at 100 TB: split + scoring is one scan with a " +
      "broadcast 5-row model join; the quantile election aggregates " +
      "to the distinct-score domain before the cumulative sum, and " +
      "because that domain grows with the corpus at cent granularity " +
      "the running sum runs as RangeRank (per-bucket windows + " +
      "broadcast prefix offsets, no single-partition exchange; " +
      "plan-pinned); coverage is one combinable conditional " +
      "sum against a broadcast 2-row qhat frame.",
      s"""WITH e AS (SELECT event_id, event_type,
        |    round(value * 100)::BIGINT AS cents,
        |    ${graft.functions.DeterministicHash.knuth32Sql("event_id",
               graft.functions.DeterministicHash.conformalSalt)} % 1000
        |      AS bucket
        |  FROM events),
        |tr AS (SELECT event_type,
        |    (sum(cents) // count(*))::BIGINT AS mean_cents,
        |    count(*)::BIGINT AS n_tr
        |  FROM e WHERE bucket < 500 GROUP BY 1),
        |ntr AS (SELECT sum(n_tr)::BIGINT AS n_train FROM tr),
        |sc AS (SELECT e.bucket,
        |    abs(e.cents - tr.mean_cents)::BIGINT AS score
        |  FROM e JOIN tr USING (event_type)
        |  WHERE e.bucket >= 500),
        |ncal AS (SELECT count(*)::BIGINT AS n_cal FROM sc
        |  WHERE bucket < 750),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score)::BIGINT
        |      AS cum
        |  FROM (SELECT score, count(*)::BIGINT AS c FROM sc
        |    WHERE bucket < 750 GROUP BY score)),
        |al AS (SELECT 10::BIGINT AS alpha_pct
        |  UNION ALL SELECT 20::BIGINT),
        |kk AS (SELECT alpha_pct,
        |    (((100 - alpha_pct) * (n_cal + 1) + 99) // 100)::BIGINT
        |      AS k_rank, n_cal
        |  FROM al CROSS JOIN ncal),
        |qh AS (SELECT kk.alpha_pct, kk.k_rank, kk.n_cal,
        |    min(cum.score)::BIGINT AS qhat_cents
        |  FROM kk JOIN cum ON cum.cum >= kk.k_rank
        |  GROUP BY 1, 2, 3),
        |ntst AS (SELECT count(*)::BIGINT AS n_test FROM sc
        |  WHERE bucket >= 750),
        |cov AS (SELECT qh.alpha_pct,
        |    sum(CASE WHEN t.score <= qh.qhat_cents THEN 1 ELSE 0
        |      END)::BIGINT AS n_covered
        |  FROM qh CROSS JOIN (SELECT score FROM sc
        |    WHERE bucket >= 750) t
        |  GROUP BY 1)
        |SELECT qh.alpha_pct, ntr.n_train, qh.n_cal, ntst.n_test,
        |  qh.k_rank, qh.qhat_cents, cov.n_covered,
        |  cov.n_covered::DOUBLE / ntst.n_test::DOUBLE AS coverage
        |FROM qh JOIN cov USING (alpha_pct)
        |  CROSS JOIN ntr CROSS JOIN ntst
        |ORDER BY alpha_pct""".stripMargin) { (s, d) =>
      val h = graft.functions.DeterministicHash.knuth32(col("event_id"),
        graft.functions.DeterministicHash.conformalSalt)
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        (h % 1000).as("bucket"))
      val tr = e.where(col("bucket") < 500).groupBy("event_type")
        .agg(expr("sum(cents) DIV count(1)").as("mean_cents"),
          count(lit(1)).as("n_tr"))
      val ntr = broadcast(tr.agg(sum("n_tr").cast("long").as("n_train")))
      val sc = e.where(col("bucket") >= 500)
        .join(broadcast(tr.select("event_type", "mean_cents")), "event_type")
        .select(col("bucket"),
          abs(col("cents") - col("mean_cents")).cast("long").as("score"))
        // four consumers (ncal, the quantile counts, ntst, the coverage
        // sum) each re-ran the events scan + model join as concurrent
        // broadcast jobs; materialize the |cal+test|-row two-long score
        // frame once (the r16 q95/q211 pattern)
        .localCheckpoint()
      val ncal = broadcast(sc.where(col("bucket") < 750)
        .agg(count(lit(1)).as("n_cal")))
      val cum = graft.functions.RangeRank.withRunningSum(
        sc.where(col("bucket") < 750)
          .groupBy("score").agg(count(lit(1)).as("c"))
          // lazy checkpoint: the distinct-score counts materialize once
          // so the side passes don't re-run the events scan + model join
          .localCheckpoint(false),
        "score", "score", "c", "cum")
      val al = e.sparkSession.range(1, 3)
        .select((col("id") * 10).cast("long").as("alpha_pct"))
      val kk = al.crossJoin(ncal)
        .select(col("alpha_pct"),
          expr("((100 - alpha_pct) * (n_cal + 1) + 99) DIV 100")
            .cast("long").as("k_rank"),
          col("n_cal").cast("long").as("n_cal"))
      val qh = broadcast(kk).join(cum, col("cum") >= col("k_rank"))
        .groupBy("alpha_pct", "k_rank", "n_cal")
        .agg(min("score").cast("long").as("qhat_cents"))
      val ntst = broadcast(sc.where(col("bucket") >= 750)
        .agg(count(lit(1)).cast("long").as("n_test")))
      val cov = sc.where(col("bucket") >= 750).select("score")
        .crossJoin(broadcast(qh))
        .groupBy("alpha_pct")
        .agg(sum(when(col("score") <= col("qhat_cents"), 1L)
          .otherwise(0L)).cast("long").as("n_covered"))
      qh.join(cov, Seq("alpha_pct"))
        .crossJoin(ntr).crossJoin(ntst)
        .select(col("alpha_pct"), col("n_train"), col("n_cal"),
          col("n_test"), col("k_rank"), col("qhat_cents"),
          col("n_covered"),
          (col("n_covered").cast("double")
            / col("n_test").cast("double")).as("coverage"))
        .orderBy("alpha_pct")
    },

    // --------------------------------------------------------------- q213
    "q213_join_cardinality_audit" -> QueryDef.sql(
      "Join-cardinality estimation audit — the optimizer-statistics " +
      "validation loop (Selinger 1979 uniformity estimate vs ground " +
      "truth; what a cost model regression suite runs after every " +
      "stats refresh): per FK->PK relationship, exact row counts and " +
      "NDVs on both sides, the textbook uniform-independence " +
      "estimate |R|*|S| / max(ndv_R, ndv_S), and the ACTUAL join " +
      "cardinality computed WITHOUT materializing the join — " +
      "sum over keys of cnt_R(k)*cnt_S(k), a per-key count join on " +
      "two pre-aggregated frames (the COUNT side of the join is " +
      "always cheaper than the join). The estimate uses exact double " +
      "products (< 2^53 here; floor is IEEE-identical across " +
      "engines); counts, NDVs, and the actual are exact integers -> " +
      "hash-exact. q121's FK discovery finds the relationships; this " +
      "audits what the optimizer ASSUMES about them. Shape at " +
      "100 TB: per relationship, ONE scan per side into a per-key " +
      "count frame, then one full-outer key-equi-join of the two " +
      "count frames (each bounded by NDV, not rows) from which ALL " +
      "five audit quantities fold in a single combinable aggregate " +
      "(n = sum c, ndv = count c, actual = sum cl*cr over matched " +
      "keys) — no separate NDV pass, nothing data-squared anywhere.",
      """WITH rel1 AS (
        |  SELECT 'lineitem*orders' AS relationship,
        |    (SELECT count(*) FROM lineitem)::BIGINT AS n_left,
        |    (SELECT count(*) FROM orders)::BIGINT AS n_right,
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem)::BIGINT
        |      AS ndv_left,
        |    (SELECT count(DISTINCT o_orderkey) FROM orders)::BIGINT
        |      AS ndv_right,
        |    (SELECT coalesce(sum(a.c * b.c), 0)::BIGINT FROM
        |      (SELECT l_orderkey AS k, count(*) AS c FROM lineitem
        |        GROUP BY 1) a
        |      JOIN (SELECT o_orderkey AS k, count(*) AS c FROM orders
        |        GROUP BY 1) b USING (k)) AS actual_rows),
        |rel2 AS (
        |  SELECT 'lineitem*part',
        |    (SELECT count(*) FROM lineitem)::BIGINT,
        |    (SELECT count(*) FROM part)::BIGINT,
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT,
        |    (SELECT count(DISTINCT p_partkey) FROM part)::BIGINT,
        |    (SELECT coalesce(sum(a.c * b.c), 0)::BIGINT FROM
        |      (SELECT l_partkey AS k, count(*) AS c FROM lineitem
        |        GROUP BY 1) a
        |      JOIN (SELECT p_partkey AS k, count(*) AS c FROM part
        |        GROUP BY 1) b USING (k))),
        |rel3 AS (
        |  SELECT 'orders*customer',
        |    (SELECT count(*) FROM orders)::BIGINT,
        |    (SELECT count(*) FROM customer)::BIGINT,
        |    (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT,
        |    (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT,
        |    (SELECT coalesce(sum(a.c * b.c), 0)::BIGINT FROM
        |      (SELECT o_custkey AS k, count(*) AS c FROM orders
        |        GROUP BY 1) a
        |      JOIN (SELECT c_custkey AS k, count(*) AS c FROM customer
        |        GROUP BY 1) b USING (k))),
        |rel AS (SELECT * FROM rel1 UNION ALL SELECT * FROM rel2
        |  UNION ALL SELECT * FROM rel3)
        |SELECT relationship, n_left, n_right, ndv_left, ndv_right,
        |  floor(n_left::DOUBLE * n_right::DOUBLE
        |    / greatest(ndv_left, ndv_right)::DOUBLE)::BIGINT AS est_rows,
        |  actual_rows,
        |  abs(actual_rows - floor(n_left::DOUBLE * n_right::DOUBLE
        |    / greatest(ndv_left, ndv_right)::DOUBLE)::BIGINT)::BIGINT
        |    AS abs_err,
        |  actual_rows::DOUBLE / floor(n_left::DOUBLE * n_right::DOUBLE
        |    / greatest(ndv_left, ndv_right)::DOUBLE) AS ratio
        |FROM rel ORDER BY relationship""".stripMargin) { (s, d) =>
      joinCardinalityAudit(Seq(
        ("lineitem*orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("lineitem*part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("orders*customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")))
    },

    // --------------------------------------------------------------- q215
    "q215_permutation_test" -> QueryDef.sql(
      "Exact-arithmetic permutation test for the A/B spend difference " +
      "— the distribution-free answer to 'is q110's lift real?': " +
      "metric = per-user total spend in exact cents, observed arms = " +
      "q110's user_id % 2 rule, and B = 199 deterministic " +
      "re-labelings, each a fresh q62-family hash stream over " +
      "(user_id * 200 + b) with the q212 RANGE rule ((h % 1000) < " +
      "500 — low-bit extraction of the two-limb hash correlates, the " +
      "documented contract). The mean-difference comparison never " +
      "touches a float: |s1*n0 - s0*n1| cross-multiplied across " +
      "denominators in decimal/int128 (exact in both engines), so " +
      "#{|perm stat| >= |obs stat|} is an exact integer and p = " +
      "(1 + n_ge) / (B + 1) (the add-one permutation-p convention) " +
      "is one single-shape division -> hash-exact. Shape at 100 TB: " +
      "one combinable user rollup, then a B-way inline explode whose " +
      "per-partition partial aggregate reduces to <= B rows per task " +
      "before the shuffle — the wire carries B rows per partition, " +
      "never B x users; CPU is B x one user-frame pass, the " +
      "irreducible cost of a permutation null, with B the knob.",
      s"""WITH uc AS (SELECT user_id,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n,
        |    sum(cents)::BIGINT AS s,
        |    sum(user_id % 2)::BIGINT AS n1,
        |    sum(CASE WHEN user_id % 2 = 1 THEN cents ELSE 0 END)
        |      ::BIGINT AS s1
        |  FROM uc),
        |obs AS (SELECT n, s, n1, s1,
        |    s1::HUGEINT * (n - n1)::HUGEINT - (s - s1)::HUGEINT
        |      * n1::HUGEINT AS obs_num,
        |    n1::HUGEINT * (n - n1)::HUGEINT AS obs_den
        |  FROM tot),
        |perm AS (SELECT b,
        |    sum(arm)::BIGINT AS n1b,
        |    sum(arm * cents)::BIGINT AS s1b
        |  FROM (SELECT uc.cents, g.b,
        |      CASE WHEN ${graft.functions.DeterministicHash.knuth32Sql(
                 "(uc.user_id * 200 + g.b)",
                 graft.functions.DeterministicHash.permSalt)} % 1000 < 500
        |        THEN 1 ELSE 0 END AS arm
        |    FROM uc CROSS JOIN (SELECT unnest(range(1, 200)) AS b) g)
        |  GROUP BY 1),
        |cmp AS (SELECT
        |    sum(CASE WHEN abs(s1b::HUGEINT * (obs.n - n1b)::HUGEINT
        |          - (obs.s - s1b)::HUGEINT * n1b::HUGEINT) * obs.obs_den
        |        >= abs(obs.obs_num)
        |          * (n1b::HUGEINT * (obs.n - n1b)::HUGEINT)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_ge
        |  FROM perm CROSS JOIN obs)
        |SELECT obs.n AS n_users, (obs.n - obs.n1)::BIGINT AS users0,
        |  obs.n1 AS users1, (obs.s - obs.s1)::BIGINT AS s0_cents,
        |  obs.s1 AS s1_cents,
        |  obs.s1::DOUBLE / obs.n1::DOUBLE
        |    - (obs.s - obs.s1)::DOUBLE / (obs.n - obs.n1)::DOUBLE
        |    AS obs_diff,
        |  199::BIGINT AS b_total, cmp.n_ge,
        |  (1 + cmp.n_ge)::DOUBLE / 200.0 AS p_value
        |FROM obs CROSS JOIN cmp""".stripMargin) { (s, d) =>
      permutationTest(Tables.events(s, d), b = 199)
    },

    // --------------------------------------------------------------- q216
    "q216_bh_fdr" -> QueryDef.sql(
      "Benjamini-Hochberg FDR control over a FAMILY of per-event-type " +
      "permutation tests — the multiple-testing discipline an " +
      "experimentation platform applies before declaring winners " +
      "(q215 scaled from one test to m): per event type, the q215 " +
      "permutation p-value for the arm spend difference among that " +
      "type's active users, with ONE joint permutation stream (each " +
      "b re-labels every user once, Westfall-Young style — applied " +
      "to all m metrics, preserving their cross-metric dependence; " +
      "same hash input (user_id * 200 + b), same q212 range rule). " +
      "The BH step is EXACT integer arithmetic end to end: p-values " +
      "stay as (1 + n_ge)/200 rationals, the step-up condition " +
      "p_(i) <= (i/m)*alpha becomes p_num * m * 100 <= i * 200 * 5, " +
      "k* = max satisfying rank, reject ranks <= k* -> hash-exact " +
      "(the only floats are single-shape per-row divisions). Shape " +
      "at 100 TB: one (user, type) rollup, one B-way explode with " +
      "map-side partial aggregation (wire carries m x B rows per " +
      "partition), then every BH step runs on the m-row frame — the " +
      "ranking window is over m = |event types| rows, never data.",
      s"""WITH uc AS (SELECT user_id, event_type,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(cents)::BIGINT AS s,
        |    sum(user_id % 2)::BIGINT AS n1,
        |    sum(CASE WHEN user_id % 2 = 1 THEN cents ELSE 0 END)
        |      ::BIGINT AS s1
        |  FROM uc GROUP BY 1),
        |obs AS (SELECT event_type, n, s, n1, s1,
        |    s1::HUGEINT * (n - n1)::HUGEINT - (s - s1)::HUGEINT
        |      * n1::HUGEINT AS obs_num,
        |    n1::HUGEINT * (n - n1)::HUGEINT AS obs_den
        |  FROM tot),
        |perm AS (SELECT event_type, b, sum(arm)::BIGINT AS n1b,
        |    sum(arm * cents)::BIGINT AS s1b
        |  FROM (SELECT uc.event_type, uc.cents, g.b,
        |      CASE WHEN ${graft.functions.DeterministicHash.knuth32Sql(
                 "(uc.user_id * 200 + g.b)",
                 graft.functions.DeterministicHash.permSalt)} % 1000 < 500
        |        THEN 1 ELSE 0 END AS arm
        |    FROM uc CROSS JOIN (SELECT unnest(range(1, 200)) AS b) g)
        |  GROUP BY 1, 2),
        |cnt AS (SELECT p.event_type,
        |    sum(CASE WHEN abs(p.s1b::HUGEINT * (o.n - p.n1b)::HUGEINT
        |          - (o.s - p.s1b)::HUGEINT * p.n1b::HUGEINT) * o.obs_den
        |        >= abs(o.obs_num)
        |          * (p.n1b::HUGEINT * (o.n - p.n1b)::HUGEINT)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_ge
        |  FROM perm p JOIN obs o USING (event_type) GROUP BY 1),
        |pv AS (SELECT o.event_type, o.n, o.n1, o.s, o.s1, c.n_ge,
        |    (1 + c.n_ge)::BIGINT AS p_num,
        |    row_number() OVER (ORDER BY (1 + c.n_ge), o.event_type)
        |      ::BIGINT AS rn,
        |    count(*) OVER ()::BIGINT AS m
        |  FROM obs o JOIN cnt c USING (event_type)),
        |ks AS (SELECT max(CASE WHEN p_num * m * 100 <= rn * 200 * 5
        |    THEN rn ELSE 0 END)::BIGINT AS k_star FROM pv)
        |SELECT pv.event_type, pv.n AS n_users,
        |  (pv.n - pv.n1)::BIGINT AS users0, pv.n1 AS users1,
        |  (pv.s - pv.s1)::BIGINT AS s0_cents, pv.s1 AS s1_cents,
        |  pv.n_ge, pv.p_num, 200::BIGINT AS p_den,
        |  pv.p_num::DOUBLE / 200.0 AS p_value,
        |  pv.rn AS p_rank, pv.m AS n_tests, ks.k_star,
        |  (pv.rn <= ks.k_star) AS reject_5pct
        |FROM pv CROSS JOIN ks
        |ORDER BY pv.event_type""".stripMargin) { (s, d) =>
      bhFdr(Tables.events(s, d), b = 199, alphaPct = 5)
    },

    // --------------------------------------------------------------- q218
    "q218_target_encoding" -> QueryDef.sql(
      "Out-of-fold target encoding of a categorical feature — the " +
      "leakage-safe mean-encoding a gradient-boosting pipeline ships " +
      "(CatBoost-style, fold-wise): per (o_orderpriority, fold) the " +
      "encoding is the target mean over the OTHER four folds only " +
      "(complement algebra from exact integer sums: enc = (s_c - " +
      "s_cf) / (n_c - n_cf)), plus the m-estimate smoothed variant " +
      "((s_c - s_cf) + m * global_mean) / ((n_c - n_cf) + m), m = " +
      "20 — a row's own fold never contributes to its encoding, so " +
      "the encoder cannot leak its label. Folds are GROUP-AWARE: " +
      "fold = knuth32(o_custkey, foldSalt) % 5 (q136's stream keyed " +
      "by CUSTOMER, not order, so a customer's orders share a fold " +
      "and the customer-level leakage path q141 closes is closed " +
      "here too). Exact integer sums + single-shape divisions -> " +
      "hash-exact; NULL encoding where a category lives entirely in " +
      "one fold (the consumer must see the cold fold, not a fake 0). " +
      "Shape at 100 TB: ONE map-side-combinable (category, fold) " +
      "aggregate — the shuffle carries |categories| x k rows; " +
      "applying the encoder at training time is a broadcast join of " +
      "this 25-row table against the fact scan.",
      s"""WITH o AS (SELECT o_orderpriority AS cat,
        |    ${graft.functions.DeterministicHash.knuth32Sql("o_custkey",
               graft.functions.DeterministicHash.foldSalt)} % 5 AS fold,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |cf AS (SELECT cat, fold, count(*)::BIGINT AS n_cf,
        |    sum(cents)::BIGINT AS s_cf
        |  FROM o GROUP BY 1, 2),
        |c AS (SELECT cat, sum(n_cf)::BIGINT AS n_c,
        |    sum(s_cf)::BIGINT AS s_c
        |  FROM cf GROUP BY 1),
        |g AS (SELECT sum(n_c)::BIGINT AS n_tot, sum(s_c)::BIGINT AS s_tot
        |  FROM c)
        |SELECT cf.cat, cf.fold::BIGINT AS fold, cf.n_cf, cf.s_cf,
        |  (c.n_c - cf.n_cf)::BIGINT AS n_oof,
        |  (c.s_c - cf.s_cf)::BIGINT AS s_oof,
        |  CASE WHEN c.n_c - cf.n_cf > 0
        |    THEN (c.s_c - cf.s_cf)::DOUBLE / (c.n_c - cf.n_cf)::DOUBLE
        |  END AS enc_oof,
        |  ((c.s_c - cf.s_cf)::DOUBLE
        |      + 20.0 * (g.s_tot::DOUBLE / g.n_tot::DOUBLE))
        |    / ((c.n_c - cf.n_cf)::DOUBLE + 20.0) AS enc_smooth
        |FROM cf JOIN c USING (cat) CROSS JOIN g
        |ORDER BY cat, fold""".stripMargin) { (s, d) =>
      targetEncoding(Tables.orders(s, d), k = 5, m = 20.0)
    },

    // --------------------------------------------------------------- q219
    "q219_markov_backtest" -> QueryDef.sql(
      "Next-event prediction backtest — q105's transition matrix " +
      "turned into an EVALUATED model (the train/eval loop a sequence " +
      "model ships with): a TIME split at the 80% point of the " +
      "calendar span (integer day arithmetic — a temporal holdout, " +
      "never a random one: random splits leak future behavior into " +
      "sequence training, the q141 lesson on the time axis), first-" +
      "order transitions counted per segment over per-user (ts, " +
      "event_id)-ordered lag pairs that never cross the boundary, " +
      "the per-prev-type argmax ELECTED by (count desc, type asc) " +
      "total order (the q196 election rule — never a float-weight " +
      "tie-break), and test-segment top-1 accuracy reported per prev " +
      "type in exact integers. A prev type unseen in training emits " +
      "a NULL prediction and 0 hits — the honest cold-start row. " +
      "Shape at 100 TB: ONE user-partitioned lag window pass (the " +
      "only data-proportional work), then every count/election/join " +
      "runs on the |types|^2 = 25-row grid.",
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN day < mn + ((mx - mn + 1) * 4) // 5
        |      THEN 0 ELSE 1 END AS seg
        |  FROM e CROSS JOIN b),
        |p AS (SELECT seg,
        |    lag(event_type) OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id) AS prev_t,
        |    event_type AS next_t
        |  FROM s),
        |tr AS (SELECT prev_t, next_t, count(*)::BIGINT AS n FROM p
        |  WHERE seg = 0 AND prev_t IS NOT NULL GROUP BY 1, 2),
        |pred AS (SELECT prev_t, next_t AS predicted, n AS n_pred FROM
        |  (SELECT prev_t, next_t, n, row_number() OVER
        |      (PARTITION BY prev_t ORDER BY n DESC, next_t) AS rn
        |    FROM tr) WHERE rn = 1),
        |trt AS (SELECT prev_t, sum(n)::BIGINT AS n_train FROM tr
        |  GROUP BY 1),
        |te AS (SELECT prev_t, next_t, count(*)::BIGINT AS n FROM p
        |  WHERE seg = 1 AND prev_t IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_t, sum(n)::BIGINT AS n_test FROM te
        |  GROUP BY 1)
        |SELECT tot.prev_t AS prev_type, trt.n_train, pred.predicted,
        |  pred.n_pred, tot.n_test,
        |  coalesce(hit.n, 0)::BIGINT AS n_hits,
        |  coalesce(hit.n, 0)::DOUBLE / tot.n_test::DOUBLE AS top1_acc
        |FROM tot
        |LEFT JOIN pred ON tot.prev_t = pred.prev_t
        |LEFT JOIN trt ON tot.prev_t = trt.prev_t
        |LEFT JOIN te hit ON hit.prev_t = tot.prev_t
        |  AND hit.next_t = pred.predicted
        |ORDER BY prev_type""".stripMargin) { (s, d) =>
      markovBacktest(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q222
    "q222_sequential_ab_monitor" -> QueryDef.sql(
      "Group-sequential A/B monitoring — the daily peeking discipline " +
      "an experimentation platform runs between q110's one-shot " +
      "readout and q215's permutation post-hoc: per calendar day, the " +
      "CUMULATIVE two-proportion pooled z for the arm difference " +
      "(q110's metric: share of events with value > 20; q110's " +
      "user_id % 2 arms) against a constant Pocock boundary 2.413 (a " +
      "LITERAL — the normal-quantile table lookup happens offline, " +
      "the libm rule), emitting per day the crossed flag and whether " +
      "the trial is already DECIDED (at-or-after the first crossing — " +
      "the stopping rule made queryable; no crossing -> decided never " +
      "fires). Cumulative counts are exact integers over the ordered " +
      "day grid; z is the q110 fixed tree -> hash-exact. Shape at " +
      "100 TB: ONE combinable (day, arm) rollup is the only " +
      "data-proportional pass; cumulative windows, the boundary test " +
      "and the first-crossing fold all run on the ~30-row day grid.",
      """WITH da AS (SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    (user_id % 2)::BIGINT AS arm, count(*)::BIGINT AS n,
        |    count(*) FILTER (WHERE value > 20.0)::BIGINT AS hits
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM da),
        |cum AS (SELECT d.day,
        |    sum(CASE WHEN da.arm = 0 THEN da.n ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN da.arm = 0 THEN da.hits ELSE 0 END)::BIGINT
        |      AS h0,
        |    sum(CASE WHEN da.arm = 1 THEN da.n ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN da.arm = 1 THEN da.hits ELSE 0 END)::BIGINT
        |      AS h1
        |  FROM days d JOIN da ON da.day <= d.day GROUP BY 1),
        |z AS (SELECT day, n0, h0, n1, h1,
        |    ((h1::DOUBLE / n1::DOUBLE) - (h0::DOUBLE / n0::DOUBLE))
        |      / sqrt(((h0 + h1)::DOUBLE / (n0 + n1)::DOUBLE)
        |        * (1.0 - (h0 + h1)::DOUBLE / (n0 + n1)::DOUBLE)
        |        * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) AS z
        |  FROM cum WHERE n0 > 0 AND n1 > 0),
        |fc AS (SELECT min(day) AS first_cross FROM z
        |  WHERE abs(z) >= 2.413)
        |SELECT z.day, z.n0, z.h0, z.n1, z.h1, z.z,
        |  (abs(z.z) >= 2.413) AS crossed,
        |  (fc.first_cross IS NOT NULL AND z.day >= fc.first_cross)
        |    AS decided
        |FROM z CROSS JOIN fc
        |ORDER BY z.day""".stripMargin) { (s, d) =>
      val da = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          expr("user_id % 2").cast("long").as("arm"),
          col("value"))
        .groupBy("day", "arm")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 20.0, 1L).otherwise(0L)).cast("long")
            .as("hits"))
      val days = da.select("day").distinct()
      val cum = days.alias("d")
        .join(da.alias("a"), col("a.day") <= col("d.day"))
        .groupBy(col("d.day").as("day"))
        .agg(
          sum(when(col("arm") === 0L, col("n")).otherwise(0L))
            .cast("long").as("n0"),
          sum(when(col("arm") === 0L, col("hits")).otherwise(0L))
            .cast("long").as("h0"),
          sum(when(col("arm") === 1L, col("n")).otherwise(0L))
            .cast("long").as("n1"),
          sum(when(col("arm") === 1L, col("hits")).otherwise(0L))
            .cast("long").as("h1"))
      val D = "double"
      val zc = cum.where(col("n0") > 0L && col("n1") > 0L)
        .withColumn("z",
          ((col("h1").cast(D) / col("n1").cast(D))
            - (col("h0").cast(D) / col("n0").cast(D)))
          / sqrt(((col("h0") + col("h1")).cast(D)
              / (col("n0") + col("n1")).cast(D))
            * (lit(1.0) - (col("h0") + col("h1")).cast(D)
              / (col("n0") + col("n1")).cast(D))
            * (lit(1.0) / col("n0").cast(D)
              + lit(1.0) / col("n1").cast(D))))
      val fc = broadcast(zc.where(abs(col("z")) >= 2.413)
        .agg(min("day").as("first_cross")))
      zc.crossJoin(fc)
        .select(col("day"), col("n0"), col("h0"), col("n1"), col("h1"),
          col("z"), (abs(col("z")) >= 2.413).as("crossed"),
          (col("first_cross").isNotNull
            && col("day") >= col("first_cross")).as("decided"))
        .orderBy("day")
    },

    // --------------------------------------------------------------- q225
    "q225_poisson_bootstrap_ci" -> QueryDef.sql(
      "Poisson-bootstrap confidence intervals for the per-user mean " +
      "spend — the at-scale bootstrap (Poisson(1) weights approximate " +
      "multinomial resampling without the global coordination a true " +
      "resample needs; the method production A/B platforms run): " +
      "B = 199 deterministic replicates, each user's weight in " +
      "replicate b drawn by mapping knuth32(user_id * 200 + b, " +
      "bootSalt) % 1000000 through FIXED integer Poisson(1) CDF " +
      "thresholds (pure integer compares — the libm rule; identical " +
      "literals both engines). Replicate means stay (sb, nb) integer " +
      "rationals; the 2.5/97.5 and 10/90 percentile elections rank " +
      "all B replicates by HUGEINT/decimal(38,0) cross-multiplied " +
      "comparison with replicate-id tie-break (a total order -> " +
      "ranks are exact integers, the elected endpoints single-shape " +
      "divisions -> hash-exact). Ranks follow the (B+1)*q order- " +
      "statistic convention: 200*0.025 = 5 and 200*0.975 = 195 for " +
      "the 95% interval, 20/180 for 80%. Shape at 100 TB: ONE " +
      "combinable user rollup, a B-way inline explode whose map-side " +
      "partial aggregate collapses the wire to B rows per partition " +
      "(never B x users), and the B x B rank election runs on a " +
      "199-row frame. CPU is B x one user-frame pass — the " +
      "irreducible bootstrap cost, with B the knob.",
      s"""WITH uc AS (SELECT user_id,
        |    sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |obs AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS s
        |  FROM uc),
        |d AS (SELECT uc.cents, g.b,
        |    ${graft.functions.DeterministicHash.knuth32Sql(
               "(uc.user_id * 200 + g.b)",
               graft.functions.DeterministicHash.bootSalt)} % 1000000
        |      AS h6
        |  FROM uc CROSS JOIN (SELECT unnest(range(1, 200)) AS b) g),
        |wt AS (SELECT b, cents,
        |    CASE WHEN h6 < 367879 THEN 0 WHEN h6 < 735759 THEN 1
        |         WHEN h6 < 919699 THEN 2 WHEN h6 < 981012 THEN 3
        |         WHEN h6 < 996340 THEN 4 WHEN h6 < 999406 THEN 5
        |         WHEN h6 < 999917 THEN 6 WHEN h6 < 999990 THEN 7
        |         ELSE 8 END AS w
        |  FROM d),
        |rep AS (SELECT b, sum(w)::BIGINT AS nb,
        |    sum(w * cents)::BIGINT AS sb
        |  FROM wt GROUP BY 1),
        |rk AS (SELECT i.b, i.nb, i.sb,
        |    sum(CASE WHEN j.sb::HUGEINT * i.nb::HUGEINT
        |            < i.sb::HUGEINT * j.nb::HUGEINT
        |          OR (j.sb::HUGEINT * i.nb::HUGEINT
        |            = i.sb::HUGEINT * j.nb::HUGEINT AND j.b <= i.b)
        |        THEN 1 ELSE 0 END)::BIGINT AS rnk
        |  FROM rep i CROSS JOIN rep j GROUP BY 1, 2, 3),
        |c AS (SELECT * FROM (VALUES (95, 5, 195), (80, 20, 180))
        |    AS t(conf_pct, lo_rank, hi_rank))
        |SELECT c.conf_pct::BIGINT AS conf_pct,
        |  c.lo_rank::BIGINT AS lo_rank, c.hi_rank::BIGINT AS hi_rank,
        |  lo.sb::DOUBLE / lo.nb::DOUBLE AS ci_lo_mean,
        |  hi.sb::DOUBLE / hi.nb::DOUBLE AS ci_hi_mean,
        |  obs.n AS n_users, obs.s AS s_cents,
        |  obs.s::DOUBLE / obs.n::DOUBLE AS obs_mean,
        |  199::BIGINT AS b_total,
        |  (lo.sb::HUGEINT * obs.n::HUGEINT
        |      <= obs.s::HUGEINT * lo.nb::HUGEINT
        |    AND obs.s::HUGEINT * hi.nb::HUGEINT
        |      <= hi.sb::HUGEINT * obs.n::HUGEINT) AS contains_obs
        |FROM c JOIN rk lo ON lo.rnk = c.lo_rank
        |  JOIN rk hi ON hi.rnk = c.hi_rank
        |  CROSS JOIN obs
        |ORDER BY conf_pct""".stripMargin) { (s, d) =>
      poissonBootstrap(Tables.events(s, d), b = 199)
    },

    // --------------------------------------------------------------- q230
    "q230_decision_stump" -> QueryDef.sql(
      "Exact decision-stump split finder — the CART split step a " +
      "feature-selection pass runs per numeric feature (Breiman et " +
      "al. 1984), with the MISCLASSIFICATION criterion so the " +
      "election stays pure integer arithmetic at any scale (a Gini " +
      "comparison cross-multiplies to N^5 products — past " +
      "decimal(38,0) at 100 TB; training-error counts never leave " +
      "int64). Per " +
      "distinct feature value (threshold t: x <= t goes left), prefix " +
      "sums give left/right (count, positives) in one pass; both " +
      "leaf orientations are scored (left-predicts-1: errors = left " +
      "negatives + right positives; left-predicts-0: mirrored), and " +
      "each orientation elects min (err, threshold) — exact " +
      "lexicographic integers. Emitted with the majority-class " +
      "baseline and the gain, so a useless stump is visible in the " +
      "row itself. Shape at 100 TB: ONE combinable (cents) rollup is " +
      "the only data-proportional pass; prefix sums and the election " +
      "run on the distinct-value domain (bounded by the cents range, " +
      "the q203 discipline), and the 2-row output carries exact " +
      "integers + single-shape divisions -> hash-exact. Feature/label " +
      "here: q206's english-stopword-hit count vs lang = 'en'. " +
      "MEASURED corpus property: the synthetic corpus draws its lang " +
      "TAGS independently of the text (es/zh/... docs carry the same " +
      "English jargon vocabulary — checked against every candidate " +
      "pair: value/purchase, margin features, n_chars/lang all " +
      "uncorrelated), so the CORRECT answer on this corpus is 'do " +
      "not split on this feature' and the row reports noise-level " +
      "gain (spec-bounded <= 5% of baseline, vs ~19% for a real " +
      "separator); StumpSpec proves the finder non-vacuously on a " +
      "constructed separable frame with a known threshold and one " +
      "planted noise point.",
      s"""WITH t AS (SELECT lang, ${TextQueries.sqlToks} AS w
        |  FROM documents),
        |e AS (SELECT len(list_filter(w,
        |      t -> t IN ('the','and','of','to','a')))::BIGINT AS hits,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM t),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        |  FROM e),
        |dom AS (SELECT hits, count(*)::BIGINT AS nc,
        |    sum(y)::BIGINT AS pc
        |  FROM e GROUP BY 1),
        |cum AS (SELECT hits,
        |    sum(nc) OVER (ORDER BY hits)::BIGINT AS cn,
        |    sum(pc) OVER (ORDER BY hits)::BIGINT AS cp
        |  FROM dom),
        |sc AS (SELECT 'le_pos' AS orientation, hits,
        |    (cn - cp) + (tot.p - cp) AS err FROM cum CROSS JOIN tot
        |  UNION ALL
        |  SELECT 'le_neg', hits,
        |    cp + ((tot.n - cn) - (tot.p - cp)) FROM cum CROSS JOIN tot),
        |best AS (SELECT orientation,
        |    min(err)::BIGINT AS err FROM sc GROUP BY 1),
        |pick AS (SELECT b.orientation, b.err,
        |    min(sc.hits)::BIGINT AS threshold_hits
        |  FROM best b JOIN sc
        |    ON sc.orientation = b.orientation AND sc.err = b.err
        |  GROUP BY 1, 2)
        |SELECT pick.orientation, pick.threshold_hits, pick.err,
        |  tot.n AS n_docs,
        |  pick.err::DOUBLE / tot.n::DOUBLE AS err_rate,
        |  least(tot.p, tot.n - tot.p)::BIGINT AS baseline_err,
        |  (least(tot.p, tot.n - tot.p) - pick.err)::BIGINT AS gain
        |FROM pick CROSS JOIN tot
        |ORDER BY orientation""".stripMargin) { (s, d) =>
      decisionStump(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q233
    "q233_shuffle_runs_audit" -> QueryDef.sql(
      "Training-shuffle quality audit — the multi-class Wald-Wolfowitz " +
      "runs test (Barton & David 1957) on the DETERMINISTIC training " +
      "order (docs sorted by the q56-family Knuth hash on its own " +
      "salt stream): a well-shuffled corpus interleaves sources, so " +
      "the observed number of same-source runs R should sit near its " +
      "permutation expectation E[R] = (n(n+1) - S2)/n with variance " +
      "[S2(S2 + n(n+1)) - 2nS3 - n^3]/(n^2(n-1)) (S_k = sum n_i^k) — " +
      "a z far below 0 means source-clumped batches (curriculum " +
      "drift), far above means anti-correlated striping. Emits one " +
      "row per source (n_docs, runs_started — run starts attributed " +
      "to the run's OWN label, so sum(runs_started) = R is an " +
      "internal invariant) with the corpus-level R/E/Var/z stamped " +
      "on. Every input to the doubles is an exact int64 (counts, S2, " +
      "S3, R); E and Var are ONE integer-numerator division each and " +
      "z composes them with correctly-rounded sqrt in a fixed shape " +
      "-> hash-exact. Shape at 100 TB: the order is hash-RANGE " +
      "bucketed (4096 buckets); runs count within buckets under a " +
      "PARTITIONED window, and bucket-boundary continuations resolve " +
      "on the 4096-row (first_src, last_src) summary frame — the q69 " +
      "prefix-sum lift, no corpus-wide window anywhere (the oracle " +
      "uses the plain global-lag form; the bucketed plan must and " +
      "does reproduce it exactly). int64 headroom: S2^2-order terms " +
      "cap at ~4e11 docs; past that, DECIMAL(38,0), same algebra.",
      s"""WITH h AS (SELECT doc_id, source,
        |    ${graft.functions.DeterministicHash.knuth32Sql("doc_id",
               graft.functions.DeterministicHash.shuffleSalt)} AS h
        |  FROM documents),
        |o AS (SELECT source,
        |    lag(source) OVER (ORDER BY h, doc_id) AS prev FROM h),
        |fl AS (SELECT source, CASE WHEN prev IS NULL OR prev <> source
        |    THEN 1 ELSE 0 END AS st FROM o),
        |per AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(st)::BIGINT AS runs_started FROM fl GROUP BY 1),
        |g AS (SELECT sum(n_docs)::BIGINT AS n,
        |    count(*)::BIGINT AS k, sum(runs_started)::BIGINT AS r,
        |    sum(n_docs * n_docs)::BIGINT AS s2,
        |    sum(n_docs * n_docs * n_docs)::BIGINT AS s3 FROM per)
        |SELECT per.source, per.n_docs, per.runs_started,
        |  g.n AS n_total, g.k AS k_classes, g.r AS runs_total,
        |  ((g.n * (g.n + 1) - g.s2)::DOUBLE / g.n::DOUBLE) AS e_runs,
        |  ((g.s2 * (g.s2 + g.n * (g.n + 1)) - 2 * g.n * g.s3
        |      - g.n * g.n * g.n)::DOUBLE
        |    / (g.n * g.n * (g.n - 1))::DOUBLE) AS var_runs,
        |  ((g.r::DOUBLE
        |      - ((g.n * (g.n + 1) - g.s2)::DOUBLE / g.n::DOUBLE))
        |    / sqrt((g.s2 * (g.s2 + g.n * (g.n + 1)) - 2 * g.n * g.s3
        |        - g.n * g.n * g.n)::DOUBLE
        |      / (g.n * g.n * (g.n - 1))::DOUBLE)) AS z_score
        |FROM per CROSS JOIN g
        |ORDER BY per.source""".stripMargin) { (s, d) =>
      shuffleRunsAudit(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q234
    "q234_cramer_von_mises" -> QueryDef.sql(
      "Two-sample Cramer-von Mises test between the experiment arms " +
      "on order value (Anderson 1962) — completes the q182/q183 " +
      "nonparametric pair: KS reads the WORST ECDF gap, CvM the " +
      "INTEGRATED squared gap, so a distribution shift spread thinly " +
      "across the whole range (which never produces one big gap) " +
      "fails here first. Uses the ECDF form over the SAME " +
      "value-aggregated prefix-sum frame as q182 — T = sum_v " +
      "(c1+c0) * (F1(v)-F0(v))^2 * n1*n0/(n1+n0)^2 — which is " +
      "tie-exact by construction (the rank form needs arbitrary " +
      "tie-breaking; the ECDF form is its tie-limit). The integrand " +
      "folds EXACTLY: dnum = f1*n0 - f0*n1 is int64, the weighted " +
      "square sums in decimal(38,0)/HUGEINT (q169's 128-bit rule, " +
      "~3e29 max at ~sf1 vs 1e38 capacity), and t_stat/e_t are " +
      "single-shape IEEE: s_num/(A*(B*B)) with A = (n1*n0)::double, " +
      "B = (n1+n0)::double, E[T] = (n+1)/(6n), reject at the " +
      "asymptotic 5% point 0.461 -> hash-exact. Shape at 100 TB: " +
      "identical to q182 — one combinable value aggregate, " +
      "shard-parallel prefix windows, ONE 1-row decimal fold; past " +
      "~3e9 orders per arm lift dnum itself to decimal, same " +
      "algebra.",
      s"""WITH $armEcdfCtes,
        |tot AS (SELECT max(f1)::BIGINT AS n1, max(f0)::BIGINT AS n0
        |  FROM f),
        |s AS (SELECT sum((f.c1 + f.c0)::HUGEINT
        |      * (f.f1 * tot.n0 - f.f0 * tot.n1)::HUGEINT
        |      * (f.f1 * tot.n0 - f.f0 * tot.n1)::HUGEINT) AS s_num
        |  FROM f CROSS JOIN tot)
        |SELECT tot.n1, tot.n0, CAST(s.s_num AS DOUBLE) AS s_num,
        |  CAST(s.s_num AS DOUBLE)
        |    / ((tot.n1 * tot.n0)::DOUBLE
        |      * ((tot.n1 + tot.n0)::DOUBLE
        |        * (tot.n1 + tot.n0)::DOUBLE)) AS t_stat,
        |  ((tot.n1 + tot.n0 + 1)::DOUBLE
        |    / (6.0 * (tot.n1 + tot.n0)::DOUBLE)) AS e_t,
        |  (CASE WHEN CAST(s.s_num AS DOUBLE)
        |      / ((tot.n1 * tot.n0)::DOUBLE
        |        * ((tot.n1 + tot.n0)::DOUBLE
        |          * (tot.n1 + tot.n0)::DOUBLE)) > 0.461
        |    THEN 1 ELSE 0 END)::BIGINT AS reject_05
        |FROM s CROSS JOIN tot""".stripMargin) { (s, d) =>
      cramerVonMises(armValueCum(s, d))
    },

    // --------------------------------------------------------------- q247
    "q247_dp_count_release" -> QueryDef.sql(
      "DP-SHAPED deterministic count release (NOT a privacy " +
      "guarantee: the geometric draws derive from salts committed " +
      "in this repo, so anyone who knows the mechanism can invert " +
      "the noise — determinism is what makes the release " +
      "oracle-exact and twin-testable; a production release would " +
      "draw from a secret seed held outside the repo, and only THAT " +
      "variant carries the epsilon = ln 2 claim) — the mechanism " +
      "step the privacy family (q125 k-anon, q128 " +
      "l-diversity, t-closeness) was missing: discrete-Laplace-" +
      "DISTRIBUTED noise " +
      "at epsilon = ln 2, sampled EXACTLY with no RNG and no " +
      "transcendental math — noise = G1 - G2 with G the LEADING-" +
      "ZERO count (within the 32-bit window) of a DOUBLE-hashed " +
      "word: leading zeros of a uniform word are Geometric(1/2), " +
      "and the difference of two independent such geometrics is the " +
      "two-sided discrete Laplace with p = 1/2 = e^-eps at eps = " +
      "ln 2 (partition-count sensitivity 1). TWO hardening choices, " +
      "both MEASURED not guessed: (a) trailing zeros are unusable — " +
      "the hash's XOR of two odd-multiplier limbs makes the LSB " +
      "parity-degenerate (measured P(noise=0) = 0.5, never odd); " +
      "(b) one hash round leaves affine id/salt relations visible " +
      "even in the high bits (measured P(0) = 0.30 vs 1/3), so each " +
      "stream hashes TWICE (knuth32 of knuth32) — after which the " +
      "empirical law matches (1/3)(1/2)^|k| to 3 decimals over 5e5 " +
      "ids (DpReleaseSpec asserts it). The word is OR-1 forced " +
      "nonzero (caps G at 31, a 2^-31 truncation). Release clamps " +
      "at 0 (post-processing, DP-preserving). True counts ship " +
      "alongside as the mechanism AUDIT (a production release " +
      "would project them out). Shape at 100 TB: one combinable " +
      "count per source + per-row integer/bit arithmetic.",
      s"""WITH g AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    replace(source, 'src', '')::BIGINT AS sid
        |  FROM documents GROUP BY 1),
        |n AS (SELECT source, n_docs,
        |    (32 - length(bin(($dpWordA) | 1)))::BIGINT AS g1,
        |    (32 - length(bin(($dpWordB) | 1)))::BIGINT AS g2
        |  FROM g)
        |SELECT source, n_docs, g1, g2, (g1 - g2)::BIGINT AS noise,
        |  greatest(0, n_docs + g1 - g2)::BIGINT AS noisy_count,
        |  0.6931471805599453::DOUBLE AS epsilon
        |FROM n ORDER BY source""".stripMargin) { (s, d) =>
      dpCountRelease(Tables.documents(s, d))
    }
  )

  /** q213's per-relationship audit: exact counts/NDVs, the uniformity
    * estimate, and the count-join actual — shared for spec reuse.
    *
    * Plan shape (the r11 verdict's scan-count fix): each side is
    * scanned exactly ONCE into its per-key count frame, and ALL five
    * audit quantities derive from a single full-outer join of the two
    * count frames — n = sum(c), ndv = count(non-null c) (per-key
    * frames have one row per key, so the non-null row count IS the
    * NDV), actual = sum(cl*cr) (null on either unmatched side, so the
    * sum ranges over matched keys only). The old shape ran a separate
    * count/NDV agg plus the count join per side = 3 scans per
    * fact-table appearance (9 fact scans across the 3 relationships,
    * measured 2.87 s steady at sf0.1); this one is 2 scans per
    * relationship, 4 fact scans total, and each count frame is
    * consumed exactly once so no exchange-reuse luck is needed.
    * At 100 TB the join is NDV-bounded (key frames, not row frames)
    * and each quantity is a combinable aggregate. */
  def joinCardinalityAudit(
      rels: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame =
    rels.map { case (name, l, lk, r, rk) =>
      val cl = l.groupBy(col(lk).as("k"))
        .agg(count(lit(1)).cast("long").as("cl"))
      val cr = r.groupBy(col(rk).as("k"))
        .agg(count(lit(1)).cast("long").as("cr"))
      val stats = cl.join(cr, Seq("k"), "full_outer").agg(
        coalesce(sum("cl"), lit(0L)).cast("long").as("n_left"),
        count("cl").cast("long").as("ndv_left"),
        coalesce(sum("cr"), lit(0L)).cast("long").as("n_right"),
        count("cr").cast("long").as("ndv_right"),
        coalesce(sum(col("cl") * col("cr")), lit(0L)).cast("long")
          .as("actual_rows"))
      val est = floor(col("n_left").cast("double")
        * col("n_right").cast("double")
        / greatest(col("ndv_left"), col("ndv_right")).cast("double"))
      stats
        .select(lit(name).as("relationship"),
          col("n_left").cast("long").as("n_left"),
          col("n_right").cast("long").as("n_right"),
          col("ndv_left").cast("long").as("ndv_left"),
          col("ndv_right").cast("long").as("ndv_right"),
          est.cast("long").as("est_rows"),
          col("actual_rows"),
          abs(col("actual_rows") - est.cast("long")).cast("long")
            .as("abs_err"),
          (col("actual_rows").cast("double") / est).as("ratio"))
    }.reduce(_ unionByName _).orderBy("relationship")

  /** The q215 permutation-test operator: B deterministic re-labelings
    * of the per-user spend frame, the mean-difference comparison done
    * entirely in decimal(38,0) cross-multiplication (DuckDB mirrors in
    * HUGEINT — both exact, so n_ge is an exact integer at any data
    * scale; products stay under 1e38 up to ~1e18 total cents x 1e7
    * users). Arm rule for permutation b: (knuth32(user_id * (B+1) + b,
    * permSalt) % 1000) < 500 — the q212 range rule, never a low bit. */
  def permutationTest(events: DataFrame, b: Int): DataFrame = {
    import graft.functions.DeterministicHash
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(20, 0))
    val uc = events.groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) as bigint)"))
        .cast("long").as("cents"))
    val tot = uc.agg(
      count(lit(1)).as("n"),
      sum("cents").cast("long").as("s"),
      sum(expr("user_id % 2")).cast("long").as("n1"),
      sum(when(expr("user_id % 2 = 1"), col("cents")).otherwise(0L))
        .cast("long").as("s1"))
    val obs = tot.select(col("n"), col("s"), col("n1"), col("s1"),
      (dec(col("s1")) * dec(col("n") - col("n1"))
        - dec(col("s") - col("s1")) * dec(col("n1"))).as("obs_num"),
      (dec(col("n1")) * dec(col("n") - col("n1"))).as("obs_den"))
    val h = DeterministicHash.knuth32(
      col("user_id") * lit((b + 1).toLong) + col("b"),
      DeterministicHash.permSalt)
    val perm = uc
      .select(col("user_id"), col("cents"),
        explode(sequence(lit(1L), lit(b.toLong))).as("b"))
      .select(col("b"), col("cents"),
        when(h % 1000 < 500, 1L).otherwise(0L).as("arm"))
      .groupBy("b")
      .agg(sum("arm").cast("long").as("n1b"),
        sum(col("arm") * col("cents")).cast("long").as("s1b"))
    val pNum = (dec(col("s1b")) * dec(col("n") - col("n1b"))
      - dec(col("s") - col("s1b")) * dec(col("n1b")))
    val pDen = dec(col("n1b")) * dec(col("n") - col("n1b"))
    val cmp = perm.crossJoin(broadcast(obs))
      .agg(sum(when(abs(pNum) * col("obs_den")
          >= abs(col("obs_num")) * pDen, 1L).otherwise(0L))
        .cast("long").as("n_ge"))
    broadcast(obs).crossJoin(broadcast(cmp))
      .select(col("n").as("n_users"),
        (col("n") - col("n1")).cast("long").as("users0"),
        col("n1").as("users1"),
        (col("s") - col("s1")).cast("long").as("s0_cents"),
        col("s1").as("s1_cents"),
        (col("s1").cast("double") / col("n1").cast("double")
          - (col("s") - col("s1")).cast("double")
            / (col("n") - col("n1")).cast("double")).as("obs_diff"),
        lit(b.toLong).as("b_total"), col("n_ge"),
        (lit(1L) + col("n_ge")).cast("double")
          / lit((b + 1).toDouble) as "p_value")
  }

  /** The q225 Poisson-bootstrap operator: B deterministic Poisson(1)-
    * weighted replicates of the per-user spend frame, replicate means
    * kept as (sb, nb) integer rationals, endpoint election by exact
    * cross-multiplied rank on the B-row frame (decimal(38,0) products
    * mirror DuckDB HUGEINT — exact up to ~1e19 replicate cents x 1e19
    * replicate users). Weight rule for replicate b: knuth32(user_id *
    * (B+1) + b, bootSalt) % 1000000 through fixed integer Poisson(1)
    * CDF thresholds (w in 0..8; P(w > 8) ~ 1e-6 absorbed by the cap —
    * the same fixed rule both engines, so the cap is semantics, not
    * error). */
  def poissonBootstrap(events: DataFrame, b: Int): DataFrame = {
    import graft.functions.DeterministicHash
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val uc = events.groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) as bigint)"))
        .cast("long").as("cents"))
    val obs = broadcast(uc.agg(count(lit(1)).as("n"),
      sum("cents").cast("long").as("s")))
    val h6 = DeterministicHash.knuth32(
      col("user_id") * lit((b + 1).toLong) + col("b"),
      DeterministicHash.bootSalt) % lit(1000000L)
    val thresholds = Seq(367879L -> 0L, 735759L -> 1L, 919699L -> 2L,
      981012L -> 3L, 996340L -> 4L, 999406L -> 5L, 999917L -> 6L,
      999990L -> 7L)
    val w = thresholds.foldRight(lit(8L): org.apache.spark.sql.Column) {
      case ((t, k), acc) => when(h6 < t, k).otherwise(acc)
    }
    val rep = uc
      .select(col("user_id"), col("cents"),
        explode(sequence(lit(1L), lit(b.toLong))).as("b"))
      .select(col("b"), col("cents"), w.as("w"))
      .groupBy("b")
      .agg(sum("w").cast("long").as("nb"),
        sum(col("w") * col("cents")).cast("long").as("sb"))
    val i = rep.select(col("b").as("ib"), col("nb").as("inb"),
      col("sb").as("isb"))
    val j = rep.select(col("b").as("jb"), col("nb").as("jnb"),
      col("sb").as("jsb"))
    val jLess = (dec(col("jsb")) * dec(col("inb")))
      .lt(dec(col("isb")) * dec(col("jnb")))
    val jEq = (dec(col("jsb")) * dec(col("inb")))
      .equalTo(dec(col("isb")) * dec(col("jnb")))
    val rk = i.crossJoin(j) // B x B on the B-row replicate frame
      .groupBy("ib", "inb", "isb")
      .agg(sum(when(jLess || (jEq && col("jb") <= col("ib")), 1L)
        .otherwise(0L)).cast("long").as("rnk"))
    val conf = events.sparkSession.range(1, 3).select(
      when(col("id") === 1L, 95L).otherwise(80L).as("conf_pct"),
      when(col("id") === 1L, 5L).otherwise(20L).as("lo_rank"),
      when(col("id") === 1L, 195L).otherwise(180L).as("hi_rank"))
    val lo = rk.select(col("rnk").as("lo_rnk"), col("isb").as("lo_sb"),
      col("inb").as("lo_nb"))
    val hi = rk.select(col("rnk").as("hi_rnk"), col("isb").as("hi_sb"),
      col("inb").as("hi_nb"))
    broadcast(conf)
      .join(lo, col("lo_rnk") === col("lo_rank"))
      .join(hi, col("hi_rnk") === col("hi_rank"))
      .crossJoin(obs)
      .select(col("conf_pct"), col("lo_rank"), col("hi_rank"),
        (col("lo_sb").cast("double") / col("lo_nb").cast("double"))
          .as("ci_lo_mean"),
        (col("hi_sb").cast("double") / col("hi_nb").cast("double"))
          .as("ci_hi_mean"),
        col("n").as("n_users"), col("s").as("s_cents"),
        (col("s").cast("double") / col("n").cast("double")).as("obs_mean"),
        lit(b.toLong).as("b_total"),
        (dec(col("lo_sb")) * dec(col("n"))
            <= dec(col("s")) * dec(col("lo_nb"))
          && dec(col("s")) * dec(col("hi_nb"))
            <= dec(col("hi_sb")) * dec(col("n"))).as("contains_obs"))
      .orderBy("conf_pct")
  }

  /** The q230 decision stump: one combinable value-domain rollup,
    * prefix sums + both-orientation error scoring on the domain grid,
    * exact lexicographic (err, threshold) election per orientation.
    * Misclassification (not Gini) so comparisons stay int64 at any
    * scale. Shared with StumpSpec. */
  def decisionStump(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{tokens, vocabHits, langVocab}
    val en = langVocab.toMap.apply("en")
    val e = docs.select(
      vocabHits(tokens(col("text")), en).cast("long").as("hits"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val tot = broadcast(e.agg(count(lit(1)).cast("long").as("n"),
      sum("y").cast("long").as("p")))
    val dom = e.groupBy("hits")
      .agg(count(lit(1)).as("nc"), sum("y").cast("long").as("pc"))
    val w = Window.orderBy("hits")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dom.select(col("hits"),
      sum("nc").over(w).cast("long").as("cn"),
      sum("pc").over(w).cast("long").as("cp"))
    val scored = cum.crossJoin(tot)
    val sc = scored.select(lit("le_pos").as("orientation"), col("hits"),
        ((col("cn") - col("cp")) + (col("p") - col("cp"))).as("err"))
      .unionByName(scored.select(lit("le_neg").as("orientation"),
        col("hits"),
        (col("cp") + ((col("n") - col("cn")) - (col("p") - col("cp"))))
          .as("err")))
    val best = sc.groupBy("orientation").agg(min("err").cast("long").as("err"))
    val pick = broadcast(best).join(sc, Seq("orientation", "err"))
      .groupBy("orientation", "err")
      .agg(min("hits").cast("long").as("threshold_hits"))
    pick.crossJoin(tot)
      .select(col("orientation"), col("threshold_hits"), col("err"),
        col("n").as("n_docs"),
        (col("err").cast("double") / col("n").cast("double"))
          .as("err_rate"),
        least(col("p"), col("n") - col("p")).cast("long")
          .as("baseline_err"),
        (least(col("p"), col("n") - col("p")) - col("err")).cast("long")
          .as("gain"))
      .orderBy("orientation")
  }

  /** The q219 Markov next-event backtest: temporal 80/20 split,
    * per-segment lag pairs, election by (count desc, type asc), exact
    * test accuracy per prev type. One lag window pass; every other
    * step runs on the |types|^2 grid. */
  def markovBacktest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val b = broadcast(e.agg(min("day").as("mn"), max("day").as("mx")))
    val s = e.crossJoin(b).select(col("user_id"), col("ts"),
      col("event_id"), col("event_type"),
      when(col("day") < col("mn")
        + expr("((mx - mn + 1) * 4) div 5"), 0L).otherwise(1L).as("seg"))
    val p = s.select(col("seg"),
      lag("event_type", 1).over(Window.partitionBy("user_id", "seg")
        .orderBy("ts", "event_id")).as("prev_t"),
      col("event_type").as("next_t"))
    val tr = p.where(col("seg") === 0L && col("prev_t").isNotNull)
      .groupBy("prev_t", "next_t").agg(count(lit(1)).as("n"))
    val pred = tr.withColumn("rn", row_number().over(
        Window.partitionBy("prev_t")
          .orderBy(col("n").desc, col("next_t"))))
      .where(col("rn") === 1)
      .select(col("prev_t"), col("next_t").as("predicted"),
        col("n").as("n_pred"))
    val trt = tr.groupBy("prev_t").agg(sum("n").cast("long").as("n_train"))
    val te = p.where(col("seg") === 1L && col("prev_t").isNotNull)
      .groupBy("prev_t", "next_t").agg(count(lit(1)).as("n"))
    val tot = te.groupBy("prev_t").agg(sum("n").cast("long").as("n_test"))
    // hits: test count of the predicted next type per prev
    val hit = te.select(col("prev_t"), col("next_t"), col("n"))
    tot.join(broadcast(pred), Seq("prev_t"), "left")
      .join(broadcast(trt), Seq("prev_t"), "left")
      .join(broadcast(hit),
        hit("prev_t") === tot("prev_t")
          && hit("next_t") === col("predicted"), "left")
      .select(tot("prev_t").as("prev_type"), col("n_train"),
        col("predicted"), col("n_pred"), col("n_test"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_hits"),
        coalesce(col("n"), lit(0L)).cast("double")
          / col("n_test").cast("double") as "top1_acc")
      .orderBy("prev_type")
  }

  /** The q218 out-of-fold target encoder: one (category, fold)
    * combinable aggregate, complement algebra for the leave-fold-out
    * means, m-estimate smoothing toward the global mean. Folds key on
    * o_custkey (group-aware — a customer's orders share a fold). */
  def targetEncoding(orders: DataFrame, k: Int, m: Double): DataFrame = {
    import graft.functions.DeterministicHash
    val o = orders.select(col("o_orderpriority").as("cat"),
      (DeterministicHash.knuth32(col("o_custkey"),
        DeterministicHash.foldSalt) % k).as("fold"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val cf = o.groupBy("cat", "fold")
      .agg(count(lit(1)).as("n_cf"), sum("cents").cast("long").as("s_cf"))
    val c = cf.groupBy("cat")
      .agg(sum("n_cf").cast("long").as("n_c"),
        sum("s_cf").cast("long").as("s_c"))
    val g = broadcast(c.agg(sum("n_c").cast("long").as("n_tot"),
      sum("s_c").cast("long").as("s_tot")))
    cf.join(broadcast(c), Seq("cat")).crossJoin(g)
      .select(col("cat"), col("fold").cast("long").as("fold"),
        col("n_cf"), col("s_cf"),
        (col("n_c") - col("n_cf")).cast("long").as("n_oof"),
        (col("s_c") - col("s_cf")).cast("long").as("s_oof"),
        when(col("n_c") - col("n_cf") > 0L,
          (col("s_c") - col("s_cf")).cast("double")
            / (col("n_c") - col("n_cf")).cast("double")).as("enc_oof"),
        (((col("s_c") - col("s_cf")).cast("double")
            + lit(m) * (col("s_tot").cast("double")
              / col("n_tot").cast("double")))
          / ((col("n_c") - col("n_cf")).cast("double") + lit(m)))
          .as("enc_smooth"))
      .orderBy("cat", "fold")
  }

  /** The q216 BH-FDR operator: q215's permutation machinery per
    * event type under ONE joint re-labeling stream, then the exact
    * integer Benjamini-Hochberg step-up on the m-row p-value frame.
    * alphaPct is the FDR level in percent (5 = control at 0.05). */
  def bhFdr(events: DataFrame, b: Int, alphaPct: Int): DataFrame = {
    import graft.functions.DeterministicHash
    import org.apache.spark.sql.expressions.Window
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(20, 0))
    val uc = events.groupBy("user_id", "event_type")
      .agg(sum(expr("cast(round(value * 100) as bigint)"))
        .cast("long").as("cents"))
    val tot = uc.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum("cents").cast("long").as("s"),
      sum(expr("user_id % 2")).cast("long").as("n1"),
      sum(when(expr("user_id % 2 = 1"), col("cents")).otherwise(0L))
        .cast("long").as("s1"))
    val obs = tot.select(col("event_type"), col("n"), col("s"),
      col("n1"), col("s1"),
      (dec(col("s1")) * dec(col("n") - col("n1"))
        - dec(col("s") - col("s1")) * dec(col("n1"))).as("obs_num"),
      (dec(col("n1")) * dec(col("n") - col("n1"))).as("obs_den"))
    val h = DeterministicHash.knuth32(
      col("user_id") * lit((b + 1).toLong) + col("b"),
      DeterministicHash.permSalt)
    val perm = uc
      .select(col("user_id"), col("event_type"), col("cents"),
        explode(sequence(lit(1L), lit(b.toLong))).as("b"))
      .select(col("event_type"), col("b"), col("cents"),
        when(h % 1000 < 500, 1L).otherwise(0L).as("arm"))
      .groupBy("event_type", "b")
      .agg(sum("arm").cast("long").as("n1b"),
        sum(col("arm") * col("cents")).cast("long").as("s1b"))
    val pNum = (dec(col("s1b")) * dec(col("n") - col("n1b"))
      - dec(col("s") - col("s1b")) * dec(col("n1b")))
    val pDen = dec(col("n1b")) * dec(col("n") - col("n1b"))
    val cnt = perm.join(broadcast(obs), "event_type")
      .groupBy("event_type")
      .agg(sum(when(abs(pNum) * col("obs_den")
          >= abs(col("obs_num")) * pDen, 1L).otherwise(0L))
        .cast("long").as("n_ge"))
    val pv = obs.join(cnt, "event_type")
      .select(col("event_type"), col("n"), col("n1"), col("s"),
        col("s1"), col("n_ge"),
        (lit(1L) + col("n_ge")).cast("long").as("p_num"))
      .withColumn("rn", row_number()
        .over(Window.orderBy("p_num", "event_type")).cast("long"))
      .withColumn("m", count(lit(1))
        .over(Window.partitionBy()).cast("long"))
    val ks = pv.agg(coalesce(max(when(
        col("p_num") * col("m") * lit(100L)
          <= col("rn") * lit((b + 1).toLong) * lit(alphaPct.toLong),
        col("rn")).otherwise(0L)), lit(0L)).cast("long").as("k_star"))
    pv.crossJoin(broadcast(ks))
      .select(col("event_type"), col("n").as("n_users"),
        (col("n") - col("n1")).cast("long").as("users0"),
        col("n1").as("users1"),
        (col("s") - col("s1")).cast("long").as("s0_cents"),
        col("s1").as("s1_cents"),
        col("n_ge"), col("p_num"),
        lit((b + 1).toLong).as("p_den"),
        col("p_num").cast("double") / lit((b + 1).toDouble)
          as "p_value",
        col("rn").as("p_rank"), col("m").as("n_tests"),
        col("k_star"),
        (col("rn") <= col("k_star")).as("reject_5pct"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------------------
  // q182/q183's shared two-sample scaffold: per distinct order-value
  // (exact cents) the arm counts and the INCLUSIVE cumulative counts
  // f1/f0, built with the q69 distributed prefix sum (shard = v DIV
  // 10000 is monotone in v, so shard order is value order; the
  // per-value window is shard-partitioned and the only global window
  // runs over the per-shard totals). Declared as defs, not vals, so
  // object-init order cannot null them out of defs2's closures.

  /** The Spark side of the scaffold: (v, c1, c0, f1, f0). */
  private[operators] def armValueCum(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("v"),
      expr("((o_custkey % 2) + 2) % 2").cast("long").as("arm"))
    val pv = obs.groupBy("v").agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("c1"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("c0"))
      .withColumn("shard", expr("v DIV 10000"))
      // the (v, c1, c0) value table feeds the in-shard cumulative
      // window, the shard-total rollup AND its broadcast prefix job —
      // un-materialized, the broadcast re-derived the orders scan +
      // value aggregate concurrently with the main pass (JobTrace r16,
      // q234: three overlapping 0.3-0.4 s jobs). Value-domain-bounded
      // rows; materialize once (the q95/q211/q248 pattern).
      .localCheckpoint()
    val wIn = Window.partitionBy("shard").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = pv
      .withColumn("cum1_in", sum("c1").over(wIn))
      .withColumn("cum0_in", sum("c0").over(wIn))
    val shardTot = pv.groupBy("shard").agg(
      sum("c1").as("t1"), sum("c0").as("t0"))
    val wSh = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = shardTot
      .withColumn("p1", coalesce(sum("t1").over(wSh), lit(0L)))
      .withColumn("p0", coalesce(sum("t0").over(wSh), lit(0L)))
      .select("shard", "p1", "p0")
    withCum.join(broadcast(prefixes), "shard")
      .select(col("v"), col("c1"), col("c0"),
        (col("p1") + col("cum1_in")).cast("long").as("f1"),
        (col("p0") + col("cum0_in")).cast("long").as("f0"))
  }

  /** The oracle's CTE chain for [[armValueCum]] — ends in `f`. */
  private[operators] def armEcdfCtes: String =
    """obs AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    ((o_custkey % 2) + 2) % 2 AS arm
      |  FROM orders),
      |pv AS (SELECT v,
      |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
      |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
      |    v // 10000 AS shard
      |  FROM obs GROUP BY 1),
      |cum AS (SELECT v, c1, c0, shard,
      |    sum(c1) OVER (PARTITION BY shard ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1_in,
      |    sum(c0) OVER (PARTITION BY shard ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0_in
      |  FROM pv),
      |st AS (SELECT shard, sum(c1) AS t1, sum(c0) AS t0
      |  FROM pv GROUP BY 1),
      |pr AS (SELECT shard,
      |    coalesce(sum(t1) OVER (ORDER BY shard
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p1,
      |    coalesce(sum(t0) OVER (ORDER BY shard
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p0
      |  FROM st),
      |f AS (SELECT c.v, c.c1, c.c0,
      |    (pr.p1 + c.cum1_in)::BIGINT AS f1,
      |    (pr.p0 + c.cum0_in)::BIGINT AS f0
      |  FROM cum c JOIN pr USING (shard))""".stripMargin

  /** q203's Spark plan: the q182 sharded distributed prefix sum, lifted
    * to per-brand order statistics. The (brand, cents) aggregate shards
    * on cents DIV 10^6 ($10k buckets, so tens of shards per brand);
    * in-shard cumulative windows are (brand, shard)-partitioned and
    * splittable, the shard-prefix window runs over the tiny per-brand
    * shard spine, and brand totals are a 25-row broadcast aggregate —
    * no brand-wide row window anywhere. Kept/winsorized masses come
    * from integer index-span overlap algebra on the cells. */
  private[operators] def brandRobustMeans(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val g = li.groupBy("brand", "cents").agg(count(lit(1)).as("c"))
      .withColumn("shard", expr("cents DIV 1000000"))
      // the (brand, cents) cell table feeds the in-shard cumulative
      // window, the shard-prefix broadcast AND the brand-total
      // broadcast — materialize the value-domain-bounded cells once
      // (the q234/armValueCum r16 pattern)
      .localCheckpoint()
    val wIn = Window.partitionBy("brand", "shard").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = g.withColumn("cum_in", sum("c").over(wIn))
    val wSh = Window.partitionBy("brand").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = g.groupBy("brand", "shard").agg(sum("c").as("st"))
      .withColumn("pfx", coalesce(sum("st").over(wSh), lit(0L)))
      .select("brand", "shard", "pfx")
    val tot = broadcast(g.groupBy("brand")
      .agg(sum("c").cast("long").as("n"))
      .withColumn("k", expr("n DIV 10")))
    val cells = cumIn.join(broadcast(prefixes), Seq("brand", "shard"))
      .withColumn("cum", (col("cum_in") + col("pfx")).cast("long"))
      .join(tot, "brand")
    val kept = greatest(lit(0L),
      least(col("cum"), col("n") - col("k"))
        - greatest(col("cum") - col("c"), col("k")))
    // one pass over the cells: trimmed mass + both clamp elections as
    // conditional mins (three separate aggregates would re-shuffle the
    // same frame three times)
    cells.groupBy("brand", "n", "k")
      .agg(sum(kept).cast("long").as("n_kept"),
        sum(col("cents") * kept).cast("long").as("kept_cents"),
        min(when(col("cum") >= col("k") + 1, col("cents")))
          .as("lo_cents"),
        min(when(col("cum") >= col("n") - col("k"), col("cents")))
          .as("hi_cents"))
      .select(col("brand"), col("n"), col("k"),
        col("lo_cents").cast("long").as("lo_cents"),
        col("hi_cents").cast("long").as("hi_cents"),
        (col("kept_cents").cast("double")
          / (lit(100L) * col("n_kept")).cast("double")).as("trimmed_mean"),
        ((col("kept_cents") + col("k") * col("lo_cents")
            + col("k") * col("hi_cents")).cast("double")
          / (lit(100L) * col("n")).cast("double")).as("winsor_mean"))
      .orderBy("brand")
  }

  /** The q125 k-anonymity audit over an arbitrary pre-bucketed
    * quasi-identifier frame — shared with SkylineTriangleSpec. */
  def kAnonymityAudit(qi: org.apache.spark.sql.DataFrame, k: Long)
      : org.apache.spark.sql.DataFrame =
    qi.groupBy("nationkey", "bal_bucket")
      .agg(count(lit(1)).as("group_size"))
      .where(col("group_size") < k)
      .orderBy("nationkey", "bal_bucket")

  /** The q158 t-closeness audit over an arbitrary (nationkey,
    * bal_bucket, seg) frame: per QI group, the total-variation distance
    * to the GLOBAL sensitive-value distribution, carried as exact
    * integers (tvd_num = sum_v |c_gv*N - C_v*n_g|, den = 2*n_g*N) with
    * one final IEEE division. The broadcast global histogram is
    * densified against every group (cross join on a domain-bounded
    * frame) so sensitive values ABSENT from a group still contribute
    * their full C_v*n_g mass — dropping them understates divergence. */
  def tClosenessAudit(qiSeg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sc = qiSeg.groupBy("nationkey", "bal_bucket", "seg")
      .agg(count(lit(1)).as("c"))
    val g = sc.groupBy("nationkey", "bal_bucket")
      .agg(sum("c").cast("long").as("n_g"))
    val gl = qiSeg.groupBy("seg").agg(count(lit(1)).as("c_v"))
    val n = qiSeg.agg(count(lit(1)).as("n_tot"))
    g.crossJoin(broadcast(gl)).crossJoin(broadcast(n))
      .join(sc, Seq("nationkey", "bal_bucket", "seg"), "left")
      .select(col("nationkey"), col("bal_bucket"), col("n_g"),
        col("n_tot"), col("c_v"),
        coalesce(col("c"), lit(0L)).as("c_gv"))
      .groupBy("nationkey", "bal_bucket")
      .agg(max("n_g").as("group_size"),
        sum(abs(col("c_gv") * col("n_tot") - col("c_v") * col("n_g")))
          .cast("long").as("tvd_num"),
        (sum(abs(col("c_gv") * col("n_tot") - col("c_v") * col("n_g")))
          .cast("double")
          / (lit(2L) * max("n_g") * max("n_tot")).cast("double"))
          .as("tvd"))
      .orderBy("nationkey", "bal_bucket")
  }

  /** The q136 stratified k-fold balance audit over an arbitrary
    * (vec_id, label) frame — fold = DeterministicHash % k, a pure
    * per-row filter; the audit aggregates are domain-sized. */
  def kfoldBalance(rows: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val s = rows.select(col("label"),
      (graft.functions.DeterministicHash.knuth32(col("vec_id"),
        graft.functions.DeterministicHash.foldSalt) % k).as("fold"))
    val f = s.groupBy("label", "fold").agg(count(lit(1)).as("n"))
    val t = f.groupBy("label").agg(sum("n").cast("long").as("label_n"))
    f.join(broadcast(t), "label")
      .select(col("label"), col("fold").cast("long").as("fold"), col("n"),
        col("label_n"),
        (col("n").cast("double") / col("label_n").cast("double")).as("share"))
      .orderBy("label", "fold")
  }

  /** The q133 chi-square independence operator over an arbitrary
    * two-categorical (i, j) frame — see the catalog doc for the
    * ordered-fold exactness contract. */
  def chiSquareIndependence(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val o = pairs.groupBy("i", "j").agg(count(lit(1)).as("obs"))
    val r = o.groupBy("i").agg(sum("obs").cast("long").as("ri"))
    val c = o.groupBy("j").agg(sum("obs").cast("long").as("cj"))
    val n = broadcast(o.agg(sum("obs").cast("long").as("n")))
    val nr = broadcast(r.agg(count(lit(1)).as("n_rows")))
    val nc = broadcast(c.agg(count(lit(1)).as("n_cols")))
    val e = (col("ri") * col("cj")).cast("double") / col("n").cast("double")
    val d = col("obs").cast("double") - e
    val cells = o.join(broadcast(r), "i").join(broadcast(c), "j")
      .crossJoin(n)
      .select(col("i"), col("j"), (d * d / e).as("term"))
    cells
      .agg(sort_array(collect_list(struct(col("i"), col("j"),
        col("term")))).as("ts"), count(lit(1)).as("n_cells"))
      .select(aggregate(expr("transform(ts, s -> s.term)"), lit(0.0),
        (a, x) => a + x).as("chi2"), col("n_cells"))
      .crossJoin(n).crossJoin(nr).crossJoin(nc)
      .select(col("chi2"), col("n_cells"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).cast("long").as("dof"),
        col("n"),
        sqrt(col("chi2") / (col("n").cast("double")
          * least(col("n_rows") - 1, col("n_cols") - 1).cast("double")))
          .as("cramers_v"))
  }

  /** The q131 per-nation Gini operator — see the catalog doc for the
    * exactness and scale contracts. */
  def giniConcentration(customer: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cv = customer
      .join(orders.select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents0")),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey", "c_nationkey")
      .agg(coalesce(sum("cents0"), lit(0L)).cast("long").as("cents"))
    val rk = cv.withColumn("i",
      row_number().over(Window.partitionBy("c_nationkey")
        .orderBy(col("cents"), col("c_custkey"))).cast("long"))
    rk.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").cast("long").as("total_cents"),
        sum(col("i") * col("cents")).cast("long").as("sic"))
      .select(col("c_nationkey").as("nationkey"), col("n_customers"),
        col("total_cents"),
        ((lit(2L) * col("sic")
          - (col("n_customers") + 1L) * col("total_cents")).cast("double")
          / (col("n_customers") * col("total_cents")).cast("double"))
          .as("gini"))
      .orderBy("nationkey")
  }

  /** The q128 distinct-l-diversity audit over an arbitrary
    * (nationkey, bal_bucket, sensitive) frame: groups with < l distinct
    * sensitive values, with the dominant value's count and share. */
  def lDiversityAudit(rows: org.apache.spark.sql.DataFrame, l: Long)
      : org.apache.spark.sql.DataFrame =
    rows.groupBy("nationkey", "bal_bucket", "sensitive")
      .agg(count(lit(1)).as("c"))
      .groupBy("nationkey", "bal_bucket")
      .agg(sum("c").cast("long").as("group_size"),
        count(lit(1)).as("n_sensitive"),
        max("c").as("top_cnt"))
      .where(col("n_sensitive") < l)
      .select(col("nationkey"), col("bal_bucket"), col("group_size"),
        col("n_sensitive"), col("top_cnt"),
        (col("top_cnt").cast("double") / col("group_size").cast("double"))
          .as("top_share"))
      .orderBy("nationkey", "bal_bucket")

  /** The q123 catalog body. */
  private def weightedSampleCatalogEntry(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
      val h = graft.functions.DeterministicHash.knuth32(col("doc_id"),
        graft.functions.DeterministicHash.weightedSalt)
      val wcap = least(col("n_chars"), lit(400L))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .where(col("h") % 400 < wcap)
        .select(col("doc_id"), col("n_chars"),
          (wcap.cast("double") / lit(400.0)).as("p_keep"),
          (lit(400.0) / wcap.cast("double")).as("ht_weight"))
        .orderBy("doc_id")
  }

  /** One q121 candidate row: inclusion + uniqueness for a
    * (child column, parent column) pair. Shared with
    * SkylineTriangleSpec. */
  def inclusionProfile(label: String, child: org.apache.spark.sql.DataFrame,
      parent: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cd = child.select(col("ck")).distinct()
    val stats = cd.agg(count(lit(1)).as("child_distinct"))
      .crossJoin(parent.agg(count_distinct(col("pk")).as("parent_distinct"),
        count(lit(1)).as("parent_rows")))
      .crossJoin(cd.join(parent.select(col("pk").as("ck")).distinct(),
        Seq("ck"), "left_semi").agg(count(lit(1)).as("included")))
    stats.select(lit(label).as("candidate"), col("child_distinct"),
      col("parent_distinct"), col("included"),
      (col("included").cast("double")
        / col("child_distinct").cast("double")).as("inclusion"),
      (col("parent_distinct").cast("double")
        / col("parent_rows").cast("double")).as("parent_uniqueness"),
      (col("included") === col("child_distinct")
        && col("parent_distinct") === col("parent_rows"))
        .as("is_fk_shaped"))
  }

  /** The q119 header-vs-lines reconciliation — shared with
    * SkylineTriangleSpec. */
  def rollupReconciliation(orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ls = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("li_cents"), count(lit(1)).as("n_items"))
    val oc = round(col("o_totalprice") * 100, 0).cast("long")
    orders.join(ls, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey").as("orderkey"), oc.as("order_cents"),
        coalesce(col("li_cents"), lit(0L)).as("li_cents"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        (oc - coalesce(col("li_cents"), lit(0L))).as("diff_cents"))
      .where(col("order_cents") =!= col("li_cents"))
      .orderBy("orderkey")
  }

  /** The q113 catalog body (deterministic in-query mutation of
    * customer) — extracted so defs2 reads linearly. */
  private def snapshotDiffCatalogEntry(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val mutated = cust.where(col("c_custkey") % 50 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 97 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
      snapshotDiff(cust, mutated, "c_custkey",
        Seq("c_name", "c_nationkey", "c_acctbal"), "c_acctbal")
  }

  /** The q116 Benford audit over an arbitrary single-column positive
    * frame `x` — shared by the catalog entry and SkylineTriangleSpec. */
  def benfordAudit(amounts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = amounts.sparkSession
    import spark.implicits._
    val c = amounts.where(col("x") > 0)
      .select(substring(round(col("x") * 100, 0).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    val n = broadcast(c.agg(sum("observed").as("n")))
    val exp = broadcast(Seq(
      (1L, 0.3010299956639812), (2L, 0.17609125905568124),
      (3L, 0.12493873660829993), (4L, 0.09691001300805642),
      (5L, 0.07918124604762482), (6L, 0.06694678963061322),
      (7L, 0.05799194697768673), (8L, 0.05115252244738129),
      (9L, 0.04575749056067514)).toDF("digit", "p"))
    val obs = coalesce(col("observed"), lit(0L)).cast("double")
    val np = col("n").cast("double") * col("p")
    exp.crossJoin(n)
      .join(c, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"), col("n"),
        col("p").as("expected_p"),
        (coalesce(col("observed"), lit(0L)).cast("double")
          / col("n").cast("double")).as("observed_p"),
        ((obs - np) * (obs - np) / np).as("chi2_term"))
      .orderBy("digit")
  }

  /** The q110 A/B readout over an arbitrary (event_type, user_id, ...)
    * frame with a metric predicate — shared by the catalog entry and
    * SkylineTriangleSpec. One conditional-aggregate pass, no arm join. */
  def abLift(events: org.apache.spark.sql.DataFrame,
      hit: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val arm = col("user_id") % 2
    val s = events.groupBy("event_type").agg(
      sum(when(arm === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(arm === 0 && hit, 1L).otherwise(0L)).as("h0"),
      sum(when(arm === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(arm === 1 && hit, 1L).otherwise(0L)).as("h1"))
      // An event type present in only one arm has no defined lift (and
      // NaN/Inf z); the oracle's arm0 JOIN arm1 drops it — match that
      // inner-join semantics instead of emitting a NaN row.
      .where(col("n0") > 0 && col("n1") > 0)
    val p0 = col("h0").cast("double") / col("n0").cast("double")
    val p1 = col("h1").cast("double") / col("n1").cast("double")
    val pp = (col("h0") + col("h1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    s.select(col("event_type"), col("n0"), col("h0"), col("n1"), col("h1"),
      (p1 - p0).as("lift"),
      ((p1 - p0) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / col("n0").cast("double")
          + lit(1.0) / col("n1").cast("double")))).as("z"))
      .orderBy("event_type")
  }

  /** The q113 snapshot reconciliation over two keyed frames — shared by
    * the catalog entry and SkylineTriangleSpec. Emits one row per key
    * whose membership or compared columns differ (added / removed /
    * changed), with the old/new payload column values. */
  def snapshotDiff(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, key: String,
      compare: Seq[String], payload: String)
      : org.apache.spark.sql.DataFrame = {
    val al = a.select(col(key).as("ka"),
      struct(compare.map(col): _*).as("cmp_a"),
      col(payload).as("old_" + payload))
    val bl = b.select(col(key).as("kb"),
      struct(compare.map(col): _*).as("cmp_b"),
      col(payload).as("new_" + payload))
    al.join(bl, col("ka") === col("kb"), "full_outer")
      .select(coalesce(col("ka"), col("kb")).as(key),
        when(col("kb").isNull, "removed")
          .when(col("ka").isNull, "added")
          .when(col("cmp_a") =!= col("cmp_b"), "changed")
          .otherwise("unchanged").as("change_type"),
        col("old_" + payload), col("new_" + payload))
      .where(col("change_type") =!= "unchanged")
      .orderBy(key)
  }

  /** The q106 equal-frequency binning over an arbitrary (id, x) frame —
    * shared by the catalog entry and SkylineTriangleSpec. The ntile is
    * RangeRank's distributed exact form (boundary buckets + offset
    * prefix sums), never a single-partition window. */
  def equifreqBins(rows: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.RangeRank.withNtile(rows, "x", "id", k, "bin")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("x").as("lo"), max("x").as("hi"))
      .orderBy("bin")
  }

  /** The q99 skyline operator over an arbitrary part frame (minimize
    * p_retailprice, maximize p_size) — shared by the catalog entry and
    * SkylineTriangleSpec. The dominance prefix runs over the
    * distinct-price domain as a RangeRank strict-prefix running max
    * (per-bucket windows + broadcast earlier-bucket maxes, no
    * single-partition exchange — VERDICT r12: the distinct-price
    * domain GROWS with the corpus at cent granularity, so the former
    * unpartitioned window was the plan's 100x bottleneck). */
  def skyline(part: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pm = part
      .groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).cast("long").as("msize"))
      // lazy checkpoint: the (price, max_size) domain materializes once
      // so the side passes don't re-run the part rollup
      .localCheckpoint(false)
    val pfx = graft.functions.RangeRank.withRunningMax(
      pm, "price", "price", "msize", "strict_max")
    part.join(pfx, col("p_retailprice") === col("price"))
      .where((col("strict_max").isNull
          || col("strict_max") < col("p_size"))
        && col("msize") <= col("p_size"))
      .select(col("p_partkey").as("partkey"), col("p_name").as("name"),
        col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      .orderBy("price", "partkey")
  }

  /** The q94 index-build frame BEFORE output serialization: one row per
    * (term, doc-shard of 64) with `postings` as a doc_id-sorted
    * array<struct<doc_id, tf>> (bounded at 64 entries by construction) —
    * the shape a retrieval layer actually consumes. The catalog entry
    * serializes `postings` to a 'doc:tf doc:tf' string because catalog
    * outputs carry no top-level array/map columns (driver checker
    * contract; see CatalogSpec). Shared with BloomIndexSpec. */
  def invertedIndex(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TextFunctions
    val tf = documents
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"), expr("doc_id DIV 64").as("shard"))
      .agg(count(lit(1)).as("df_shard"), sum("tf").as("cf_shard"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("postings"))
  }

  /** The q93 bloom-pruning stage over arbitrary facts and a key frame —
    * builds the bloom driver-side from the dimension-sized key frame,
    * ships only its BITS to executors, map-side pre-filters the facts,
    * then exact-confirms with a semi join so false positives are
    * removed. Returns the confirmed fact rows. The probe is a UDF by
    * necessity: Spark exposes no public might_contain function (its
    * internal runtime bloom filters live in InjectRuntimeFilter), and
    * the probe sits behind the parquet scan's pushed filters, not in
    * a codegen hot loop. */
  def bloomPrunedSemiAgg(facts: org.apache.spark.sql.DataFrame,
      factKey: String, keys: org.apache.spark.sql.DataFrame, keyCol: String,
      fpp: Double): org.apache.spark.sql.DataFrame = {
    val n = math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter(keyCol, n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val probe = new BloomProbe(bytes)
    val might = udf((k: Long) => probe.might(k))
    facts.where(col(factKey).isNotNull && might(col(factKey)))
      .join(keys.select(col(keyCol).as(factKey)).distinct(),
        Seq(factKey), "left_semi")
  }

  /** Serializable carrier for bloom bits: the sketch deserializes once
    * per executor (transient lazy), the closure ships only bytes. */
  final class BloomProbe(bytes: Array[Byte]) extends Serializable {
    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    def might(k: Long): Boolean = bf.mightContain(k)
  }

  /** One q88 relationship audit: (name, n_child, n_null, n_orphans) via
    * a null filter + LEFT ANTI join against the parent's key set —
    * shared by the catalog entry and IntegritySpec. */
  def integrityAudit(name: String, child: org.apache.spark.sql.DataFrame,
      fk: String, parent: org.apache.spark.sql.DataFrame, pk: String,
      broadcastParent: Boolean): org.apache.spark.sql.DataFrame = {
    val parentKeys0 = parent.select(col(pk).as(fk)).distinct()
    val parentKeys = if (broadcastParent) broadcast(parentKeys0) else parentKeys0
    val orphans = child.select(col(fk)).where(col(fk).isNotNull)
      .join(parentKeys, Seq(fk), "left_anti")
    val base = child.agg(count(lit(1)).as("n_child"),
      sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null"))
    base.crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .select(lit(name).as("relationship"), col("n_child"), col("n_null"),
        col("n_orphans"))
  }

  /** The q83 bucketed-checksum operator over an arbitrary frame of
    * engine-stable-rendered columns (ints/strings/dates): 40-bit
    * md5-prefix row digests, SUM+XOR per (key mod buckets). Shared by
    * the catalog entry and ChecksumSpec. Keep rows-per-bucket under
    * 2^23 (sum exactness bound); scale `buckets` with the table. */
  def tableChecksum(rows: org.apache.spark.sql.DataFrame,
      bucketKey: org.apache.spark.sql.Column, buckets: Int)
      : org.apache.spark.sql.DataFrame = {
    val digest = conv(substring(md5(
      concat_ws("|", rows.columns.map(col): _*).cast("binary")), 1, 10),
      16, 10).cast("bigint")
    rows
      .withColumn("bucket", bucketKey % buckets)
      .withColumn("digest", digest)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum("digest").as("sum_digest"),
        expr("bit_xor(digest)").as("xor_digest"))
      .orderBy("bucket")
  }

  /** The q82 MAD profile over an arbitrary (source, n_chars) frame —
    * shared by the catalog entry and MadOutlierSpec so the tests
    * exercise the shipped plan. See the q82 catalog doc for the scale
    * shape. */
  def madOutlierProfile(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = docs.groupBy("source")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val a = docs.join(broadcast(m), "source")
      .select(col("source"), col("med"),
        abs(col("n_chars").cast("double") - col("med")).as("ad"))
    val st = a.groupBy("source", "med")
      .agg(expr("percentile(ad, 0.5)").as("mad"),
        count(lit(1)).as("n_docs"))
    a.join(broadcast(st.select("source", "mad")), "source")
      .groupBy("source")
      .agg(sum(when(col("ad") > lit(3) * col("mad"), 1L).otherwise(0L))
        .as("n_outliers"))
      .join(st, "source")
      .select(col("source"), col("n_docs"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy("source")
  }

  /** q233's bucketed runs counter: hash-range buckets bound every
    * window to a partition; run starts are attributed to the new
    * run's own label (within-bucket lag) plus bucket-boundary
    * continuation checks on the 4096-row summary frame. The global
    * invariant sum(runs_started) = R is what the oracle's plain
    * global-lag form checks. Shared by the catalog entry and
    * ShuffleRunsSpec. */
  def shuffleRunsAudit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketWidth = 4294967296L / 4096L // 2^32 hash range, 4096 buckets
    val h = docs.select(col("doc_id"), col("source"),
        graft.functions.DeterministicHash
          .knuth32(col("doc_id"), graft.functions.DeterministicHash
            .shuffleSalt).as("h"))
      .withColumn("bucket", expr(s"h div ${bucketWidth}L"))
    val w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    val fl = h.withColumn("prev", lag("source", 1).over(w))
    // within-bucket starts: a label change mid-bucket starts a run of
    // the NEW label; bucket-first rows are decided by the boundary pass
    val within = fl
      .where(col("prev").isNotNull && col("prev") =!= col("source"))
      .groupBy("source").agg(count(lit(1)).as("starts_w"))
    // 4096-row bucket summary: first/last doc's source per bucket via
    // lexicographic struct extremes on the (h, doc_id) order key
    val bs = h.groupBy("bucket").agg(
        min(struct(col("h"), col("doc_id"), col("source"))).as("fst"),
        max(struct(col("h"), col("doc_id"), col("source"))).as("lst"))
      .select(col("bucket"), col("fst.source").as("first_src"),
        col("lst.source").as("last_src"))
    val wb = Window.orderBy("bucket") // bounded: <= 4096 summary rows
    val bstarts = bs.withColumn("prev_last", lag("last_src", 1).over(wb))
      .where(col("prev_last").isNull ||
        col("prev_last") =!= col("first_src"))
      .groupBy(col("first_src").as("source"))
      .agg(count(lit(1)).as("starts_b"))
    val per = h.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(within, Seq("source"), "left")
      .join(bstarts, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        (coalesce(col("starts_w"), lit(0L)) +
          coalesce(col("starts_b"), lit(0L))).as("runs_started"))
    val g = per.agg(sum("n_docs").as("n"),
      count(lit(1)).as("k"), sum("runs_started").as("r"),
      sum(expr("n_docs * n_docs")).as("s2"),
      sum(expr("n_docs * n_docs * n_docs")).as("s3"))
    per.crossJoin(broadcast(g))
      .withColumn("e_runs",
        expr("cast(n * (n + 1) - s2 as double) / cast(n as double)"))
      .withColumn("var_runs",
        expr("cast(s2 * (s2 + n * (n + 1)) - 2 * n * s3 - n * n * n " +
          "as double) / cast(n * n * (n - 1) as double)"))
      .select(col("source"), col("n_docs"), col("runs_started"),
        col("n").as("n_total"), col("k").as("k_classes"),
        col("r").as("runs_total"), col("e_runs"), col("var_runs"),
        ((col("r").cast("double") - col("e_runs")) /
          sqrt(col("var_runs"))).as("z_score"))
      .orderBy("source")
  }

  /** q234's CvM fold over a (v, c1, c0, f1, f0) value-cum frame (the
    * [[armValueCum]] scaffold or any hand-built equivalent): ONE
    * aggregate — n1/n0 ride as sum(c1)/sum(c0) via a broadcast 1-row
    * total (the q182 two-pass shape), the weighted squared ECDF gap
    * folds in decimal(38,0). Shared by the catalog entry and
    * CramerVonMisesSpec. */
  /** q247's double-hashed words as oracle SQL (one per stream): the
    * inner knuth32 output feeds the outer as its id, which is what
    * destroys the affine id/salt structure a single round leaves in
    * the bit pattern (see the q247 doc; measured in DpReleaseSpec). */
  private def dpWord(salt: Long): String =
    graft.functions.DeterministicHash.knuth32Sql(
      "(" + graft.functions.DeterministicHash.knuth32Sql("sid", salt)
        + ")", salt)
  private def dpWordA: String =
    dpWord(graft.functions.DeterministicHash.dpSaltA)
  private def dpWordB: String =
    dpWord(graft.functions.DeterministicHash.dpSaltB)

  /** q247's count grid — one commutative count per source, so the
    * streaming twin (DpCountStream) maintains it in Complete mode
    * with |sources| cells of state. */
  def dpGrid(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"))

  /** q247's exact discrete-Laplace decoration over stored (source,
    * n_docs) cells: leading-zero geometric draws from two independent
    * double-hashed streams, applied at READ time — pure per-row
    * algebra over the grid, shared verbatim between the batch query
    * and the streaming read-back. Shared with DpReleaseSpec. */
  def dpReadBack(cells: DataFrame): DataFrame = {
    import graft.functions.DeterministicHash._
    val g = cells
      .withColumn("sid", expr("cast(substring(source, 4) as bigint)"))
    def geom(salt: Long): org.apache.spark.sql.Column = {
      val h2 = knuth32(knuth32(col("sid"), salt), salt)
      (lit(32) - length(bin(h2.bitwiseOR(lit(1L))))).cast("long")
    }
    g.select(col("source"), col("n_docs"),
        geom(dpSaltA).as("g1"), geom(dpSaltB).as("g2"))
      .withColumn("noise", (col("g1") - col("g2")).cast("long"))
      .select(col("source"), col("n_docs"), col("g1"), col("g2"),
        col("noise"),
        greatest(lit(0L), col("n_docs") + col("noise")).cast("long")
          .as("noisy_count"),
        lit(0.6931471805599453).as("epsilon"))
      .orderBy("source")
  }

  /** q247 as one composition — shared with the streaming twin. */
  def dpCountRelease(docs: DataFrame): DataFrame =
    dpReadBack(dpGrid(docs))

  def cramerVonMises(f: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val tot = broadcast(f.agg(sum("c1").cast("long").as("n1"),
      sum("c0").cast("long").as("n0")))
    val dd = f.crossJoin(tot).select(col("n1"), col("n0"),
      (col("c1") + col("c0")).cast(d19).as("w"),
      (col("f1") * col("n0") - col("f0") * col("n1")).cast(d19)
        .as("dnum"))
    val s = dd.groupBy("n1", "n0")
      .agg(sum(col("w") * col("dnum") * col("dnum"))
        .cast("decimal(38,0)").as("s_big"))
    val sNum = col("s_big").cast("double")
    val den = (col("n1") * col("n0")).cast("double") *
      ((col("n1") + col("n0")).cast("double") *
        (col("n1") + col("n0")).cast("double"))
    val tStat = sNum / den
    s.select(col("n1"), col("n0"), sNum.as("s_num"),
      tStat.as("t_stat"),
      ((col("n1") + col("n0") + lit(1L)).cast("double") /
        (lit(6.0) * (col("n1") + col("n0")).cast("double"))).as("e_t"),
      when(tStat > lit(0.461), 1L).otherwise(0L).cast("long")
        .as("reject_05"))
  }
}
