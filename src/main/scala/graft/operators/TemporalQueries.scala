package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators: as-of join, bounded range join, and event-time
  * windows (tumbling / sliding / session) expressed in batch mode — the
  * same `window`/`session_window` expressions Structured Streaming uses
  * (see graft.streaming), so the batch oracle verifies the streaming
  * semantics too.
  *
  * The as-of join is implemented with the scalable union+last-value trick
  * (one shuffle on user_id, no point-in-time cross product): union both
  * streams, sort within user by time, carry the latest left-side value
  * forward with last(ignoreNulls) over an unbounded-preceding rows frame.
  * This is preference-order (a) "compose existing ops" — it survives 100 TB
  * because it is a single hash-partitioned sort per key, while a
  * range-condition join would degenerate to a per-key cross product.
  */
object TemporalQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q22
    "q22_asof_join" -> QueryDef.sql(
      "As-of (point-in-time) join: each purchase matched to the user's " +
      "most recent signup at-or-before it. Oracle uses DuckDB's native " +
      "ASOF JOIN; Spark side is the union + last_value carry-forward plan.",
      """SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val signups = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOf.joinAsOf(signups, purchases, "user_id", "ts", Seq("signup_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("signup_ts_asof").as("signup_ts"))
        .orderBy("event_id")
    },

    // ---------------------------------------------------------------- q23
    "q23_range_join" -> QueryDef.sql(
      "Bounded range join: purchases within 1 hour after each signup, per " +
      "user. Equi-key on user_id keeps the join hash-partitioned; the time " +
      "band is a residual predicate (at 100 TB you would additionally " +
      "bucket both sides by a time bucket to bound the per-key product).",
      """SELECT s.event_id AS signup_id, count(p.event_id)::BIGINT AS purchases_1h
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = s.user_id AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
        |GROUP BY s.event_id
        |ORDER BY signup_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val su = e.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
      val pu = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      su.join(pu,
          col("p_user") === col("s_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy("signup_id")
        .agg(count(col("p_id")).as("purchases_1h"))
        .orderBy("signup_id")
    },

    // ---------------------------------------------------------------- q24
    "q24_window_tumbling" -> QueryDef.sql(
      "Tumbling 1-hour event-time windows (batch form of the streaming " +
      "group-by-window; epoch-aligned, so equivalent to date_trunc).",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // ---------------------------------------------------------------- q25
    "q25_window_sliding" -> QueryDef.sql(
      "Sliding windows (1 hour long, every 30 min): each event lands in " +
      "exactly 2 epoch-aligned windows. Oracle expands the window set with " +
      "a 2-row offset cross join.",
      """SELECT TIMESTAMP '1970-01-01'
        |    + ((floor(epoch(ts) / 1800)::BIGINT - o.o) * 1800) * INTERVAL 1 SECOND
        |    AS window_start,
        |  count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
        |FROM events, (VALUES (0), (1)) o(o)
        |GROUP BY 1
        |ORDER BY window_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start")
    },

    // ---------------------------------------------------------------- q26
    "q26_window_session" -> QueryDef.sql(
      "Session windows with a 5-minute inactivity gap per user (batch form " +
      "of streaming session_window). Oracle is the classic gaps-and-islands " +
      "rewrite; session_end = last event + gap, Spark's convention.",
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 5 MINUTE AS session_end,
        |  count(*)::BIGINT AS n_events
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // ---------------------------------------------------------------- q59
    "q59_resample_gaps" -> QueryDef.sql(
      "Time-series resampling with gap fill: per-user daily event counts " +
      "densified to EVERY day of that user's active span, zero-filled " +
      "where no events landed — the regularization step before any " +
      "windowed model sees the series. Shape: per-user span aggregate -> " +
      "sequence+explode of the day range (rows ∝ span, generated " +
      "distributed, never on the driver) -> left join of actual counts " +
      "on (user, day).",
      """WITH e AS (SELECT user_id, ts::DATE AS day FROM events WHERE user_id < 20),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY user_id),
        |days AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span),
        |cnt AS (SELECT user_id, day, count(*)::BIGINT AS n FROM e GROUP BY user_id, day)
        |SELECT d.user_id, d.day, coalesce(c.n, 0)::BIGINT AS n_events
        |FROM days d LEFT JOIN cnt c ON d.user_id = c.user_id AND d.day = c.day
        |ORDER BY d.user_id, d.day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .where(col("user_id") < 20)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val days = e.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val cnt = e.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      days.join(cnt, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("user_id", "day")
    },

    // ---------------------------------------------------------------- q80
    "q80_scd2_history" -> QueryDef.sql(
      "Slowly-changing-dimension type-2 history build — the standard " +
      "warehouse change-capture operator: each user's event_type stream " +
      "(ordered by ts with event_id as the total-order tiebreak) is " +
      "collapsed gaps-and-islands style (lag -> change flag -> running " +
      "sum over an explicit ROWS frame) into validity intervals " +
      "[valid_from, valid_to) with valid_to = next interval's start, " +
      "NULL + is_current on the open tail. All values are exact " +
      "(timestamps, counts, booleans) so the check is hash-exact with " +
      "no rounding. Shape at 100 TB: ONE hash partition on user_id " +
      "serves the lag and the running sum (same window spec -> one " +
      "exchange + one sort), the segment aggregate re-keys to " +
      "(user_id, grp) — map-side combinable because segments are " +
      "contiguous within a partition — and the lead stitch re-uses the " +
      "user_id partitioning. No self-join of events to events, which is " +
      "the naive SCD2 shape that collapses at fact scale.",
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |r AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |        AS grp FROM r),
        |seg AS (SELECT user_id, grp, min(event_type) AS event_type,
        |          min(ts) AS valid_from, max(ts) AS last_seen,
        |          count(*)::BIGINT AS n_events
        |        FROM g GROUP BY user_id, grp)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  (lead(valid_from) OVER w2 IS NULL) AS is_current,
        |  last_seen, n_events
        |FROM seg WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
        |ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
      scd2History(Tables.events(s, d))
    },

    // ---------------------------------------------------------------- q86
    "q86_funnel_stages" -> QueryDef.sql(
      "Strict-order funnel analysis (view -> click -> purchase): per " +
      "user, the earliest view, the earliest click STRICTLY AFTER that " +
      "view, the earliest purchase strictly after that click, and the " +
      "stage reached — the product-analytics operator that, done " +
      "naively as a 3-way self-join on inequality predicates, " +
      "explodes at fact scale. Shape here: a chain of three filtered " +
      "min-aggregates, each joined back on user_id (equi-joins on ONE " +
      "key, partitioning reused stage to stage; each stage's input " +
      "is pre-filtered to one event type so rows entering every " +
      "aggregate shrink monotonically). All values are exact " +
      "timestamps/ints -> hash-exact, no rounding.",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |m1 AS (SELECT user_id, min(ts) AS t_view FROM events
        |       WHERE event_type = 'view' GROUP BY user_id),
        |m2 AS (SELECT e.user_id, min(e.ts) AS t_click
        |       FROM events e JOIN m1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > m1.t_view
        |       GROUP BY e.user_id),
        |m3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |       FROM events e JOIN m2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > m2.t_click
        |       GROUP BY e.user_id)
        |SELECT u.user_id, m1.t_view, m2.t_click, m3.t_purchase,
        |  (CASE WHEN m3.t_purchase IS NOT NULL THEN 3
        |        WHEN m2.t_click IS NOT NULL THEN 2
        |        WHEN m1.t_view IS NOT NULL THEN 1
        |        ELSE 0 END)::BIGINT AS stage
        |FROM u LEFT JOIN m1 USING (user_id) LEFT JOIN m2 USING (user_id)
        |  LEFT JOIN m3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin) { (s, d) =>
      funnelStages(Tables.events(s, d))
    },

    // ---------------------------------------------------------------- q87
    "q87_retention_cohorts" -> QueryDef.sql(
      "Weekly retention cohorts: users grouped by the ISO week of " +
      "their FIRST event, activity counted as distinct active users " +
      "per (cohort_week, weeks_since) cell — the engagement matrix " +
      "behind every retention curve. Integer date arithmetic only " +
      "(date_trunc to Monday weeks on both engines, day-diff DIV 7) " +
      "-> hash-exact. Shape at 100 TB: one min-aggregate on user_id, " +
      "the cohort anchor joins back on the same key (partitioning " +
      "reused), then one distinct-count aggregate over (cohort, " +
      "week_n) — cells, not events, leave the shuffle.",
      """WITH first AS (SELECT user_id, date_trunc('week', min(ts))::DATE
        |         AS cohort_week FROM events GROUP BY user_id),
        |act AS (SELECT e.user_id, f.cohort_week,
        |          date_trunc('week', e.ts)::DATE AS act_week
        |        FROM events e JOIN first f USING (user_id))
        |SELECT cohort_week,
        |  (date_diff('day', cohort_week, act_week) // 7)::BIGINT AS week_n,
        |  count(DISTINCT user_id)::BIGINT AS n_active
        |FROM act
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      retentionCohorts(Tables.events(s, d))
    },

    // ---------------------------------------------------------------- q90
    "q90_cdc_merge" -> QueryDef.sql(
      "CDC changelog compaction + MERGE apply — the upsert/delete " +
      "operator every lakehouse ingest runs: events become a changelog " +
      "(signup->I, error->D, else U, keyed by user_id, totally ordered " +
      "by ts,event_id), compacted to the LAST op per key with ONE " +
      "map-side-combinable aggregate (max over a (ts,event_id,op,value) " +
      "struct — no window sort over the fact stream, which is the naive " +
      "compaction shape that forces a per-key total sort at scale), " +
      "then FULL OUTER equi-joined onto the customer base: D drops the " +
      "key even if present in base, I/U upserts the payload, untouched " +
      "base rows pass through. Raw doubles carried, never re-summed -> " +
      "hash-exact. At 100 TB both sides shuffle once on the key and " +
      "AQE handles the skewed-key tail; the compacted side is " +
      "|keys|-sized, not |changes|-sized.",
      """WITH c AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D'
        |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        |    value FROM events),
        |last AS (SELECT user_id, op AS last_op, ts AS last_ts,
        |    value AS last_value, cnt AS n_changes
        |  FROM (SELECT *,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS cnt FROM c)
        |  WHERE rn = 1)
        |SELECT coalesce(b.c_custkey, l.user_id) AS custkey,
        |  CASE WHEN l.user_id IS NULL THEN 'base' ELSE 'merged' END AS status,
        |  CASE WHEN l.user_id IS NULL THEN b.c_acctbal
        |       ELSE l.last_value END AS bal,
        |  l.last_ts AS last_ts,
        |  coalesce(l.n_changes, 0)::BIGINT AS n_changes
        |FROM customer b FULL JOIN last l ON b.c_custkey = l.user_id
        |WHERE l.last_op IS NULL OR l.last_op <> 'D'
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      cdcMerge(
        Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
        "c_custkey", "c_acctbal",
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"),
          col("value")))
    },

    // ---------------------------------------------------------------- q92
    "q92_gap_fill_interpolate" -> QueryDef.sql(
      "Time-grid gap filling with linear interpolation — the " +
      "time-series completeness operator (InfluxDB/Timescale " +
      "gapfill+interpolate): per event_type, a dense 15-minute grid " +
      "spanning [first, last] measured bucket, missing cells filled by " +
      "linearly interpolating the rounded per-bucket sums between the " +
      "nearest measured neighbors (carry-forward/carry-backward via " +
      "last/first IGNORE NULLS over explicit ROWS frames). The " +
      "interpolation arithmetic is written with the IDENTICAL " +
      "shape on both engines (prev + (next-prev) * dt_ratio on " +
      "round(.,4) inputs) so IEEE determinism makes it hash-exact. " +
      "Shape at 100 TB: the grid is O(types x buckets) — tiny next to " +
      "the fact table — built from a per-type min/max aggregate and " +
      "sequence(), never from the facts; the windows partition by " +
      "event_type over grid rows only. For very long spans you re-key " +
      "the window by (type, coarse epoch range) exactly like q69's " +
      "sharded prefix sum.",
      """WITH m AS (SELECT event_type,
        |    TIMESTAMP '1970-01-01' + (floor(epoch(ts) / 900)::BIGINT) * 900
        |      * INTERVAL 1 SECOND AS bucket,
        |    count(*)::BIGINT AS n, round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |  FROM m GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket
        |  FROM span),
        |g AS (SELECT grid.event_type, grid.bucket, m.n, m.v
        |  FROM grid LEFT JOIN m USING (event_type, bucket)),
        |f AS (SELECT *,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(b := bucket, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(b := bucket, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bucket
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM g)
        |SELECT event_type, bucket, coalesce(n, 0)::BIGINT AS n,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL OR nv IS NULL THEN NULL
        |       ELSE pv.v + (nv.v - pv.v)
        |         * ((epoch(bucket)::BIGINT - epoch(pv.b)::BIGINT)::DOUBLE
        |            / (epoch(nv.b)::BIGINT - epoch(pv.b)::BIGINT)::DOUBLE)
        |  END AS v_filled,
        |  (v IS NULL) AS is_interpolated
        |FROM f ORDER BY event_type, bucket""".stripMargin) { (s, d) =>
      gapFillInterpolate(Tables.events(s, d))
    },

    // ---------------------------------------------------------------- q98
    "q98_ewma_smoothing" -> QueryDef.sql(
      "Per-user exponentially-weighted moving average of event values " +
      "(alpha = 1/4, zero-initialized: s_i = 0.75*s_{i-1} + 0.25*x_i) " +
      "— the streaming-telemetry smoothing operator. EWMA is an " +
      "inherently ORDERED recurrence, so it follows the q81 " +
      "index-ordered-fold parity rule: Spark sort_array(collect_list(" +
      "struct(ts, event_id, value))) + aggregate with a 0.0 seed is " +
      "mirrored by DuckDB list_reduce(list_prepend(0.0, list(value " +
      "ORDER BY ts, event_id)), ...) — identical IEEE mult/add per " +
      "step in identical order, and 0.75/0.25 are exact binary, so " +
      "the result is hash-exact with NO rounding. Shape at 100 TB: " +
      "one hash aggregate keyed by user; fold state is bounded by the " +
      "per-user event count (cap with a time-window filter for " +
      "unbounded histories). The scalable alternative for corpus-long " +
      "series — EWMA is the linear recurrence s -> a*s + b, " +
      "composable as (a2*a1, a2*b1 + b2), i.e. a q69-style sharded " +
      "prefix scan — changes float op ORDER and thus the bits, so " +
      "this catalog entry keeps the sequential fold as the semantic " +
      "contract.",
      """WITH e AS (SELECT user_id, value, ts, event_id FROM events),
        |per AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |    list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)),
        |      (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_events, ewma
        |FROM per ORDER BY user_id""".stripMargin) { (s, d) =>
      ewmaSmoothing(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q103
    "q103_sessionization" -> QueryDef.sql(
      "Gap-based sessionization (new session when a user is idle > 12 " +
      "h): the feature-engineering twin of q26's session_window " +
      "AGGREGATE — this one ASSIGNS a per-user session number to " +
      "every event (lag + cumulative flag-sum over the user " +
      "partition) and emits one row per session with start/end/count/" +
      "duration. Every value is a stored timestamp, a count, or an " +
      "integer epoch difference -> hash-exact. Shape at 100 TB: both " +
      "windows and the session aggregate are keyed by user_id — one " +
      "hash partition end-to-end, no global window, no shuffle beyond " +
      "the per-user exchange; per-user state is the user's own event " +
      "history (cap with a date-range scan filter for unbounded " +
      "retention).",
      """WITH e AS (SELECT user_id, ts, event_id,
        |    (epoch_us(ts) // 1000000) AS es,
        |    lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_es
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev_es IS NULL OR es - prev_es > 43200
        |         THEN 1 ELSE 0 END AS new_s, es FROM e),
        |g AS (SELECT user_id, ts, es,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS session_n
        |  FROM f)
        |SELECT user_id, session_n, min(ts) AS start_ts, max(ts) AS end_ts,
        |  count(*)::BIGINT AS n_events,
        |  (max(es) - min(es))::BIGINT AS duration_sec
        |FROM g GROUP BY user_id, session_n
        |ORDER BY user_id, session_n""".stripMargin) { (s, d) =>
      sessionize(Tables.events(s, d), gapSec = 43200L)
    },

    // --------------------------------------------------------------- q104
    "q104_trend_ols" -> QueryDef.sql(
      "Per-event-type least-squares time trend (slope + intercept) in " +
      "EXACT integer arithmetic: x = seconds since the type's first " +
      "event (int64), y = value in cents (the 2-decimal source makes " +
      "round(value*100) exact), and the five OLS sums (n, Sx, Sy, " +
      "Sxy, Sxx) are plain integer aggregates — map-side combinable, " +
      "order-independent, hash-exact — with the closed-form slope = " +
      "(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) evaluated in 128-bit exact " +
      "arithmetic (Spark DECIMAL(38,0), DuckDB HUGEINT) and divided " +
      "ONCE as doubles at the end; intercept reuses the slope with " +
      "the identical expression shape on both engines, so IEEE " +
      "determinism carries through. This is the parity-sound " +
      "alternative to a float regression (order-dependent sums) and " +
      "to an ordered-fold one (giant per-group rows — see q98's " +
      "contract note). Shape at 100 TB: one window min per type + one " +
      "five-sum hash aggregate; nothing is collected, nothing is " +
      "ordered.",
      """WITH b AS (SELECT event_type,
        |    ((epoch_us(ts) // 1000000)
        |      - min(epoch_us(ts) // 1000000)
        |          OVER (PARTITION BY event_type)) AS x,
        |    round(value * 100)::BIGINT AS y
        |  FROM events),
        |s AS (SELECT event_type, count(*)::HUGEINT AS n,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * y::HUGEINT) AS sxy,
        |    sum(x::HUGEINT * x::HUGEINT) AS sxx
        |  FROM b GROUP BY event_type)
        |SELECT event_type, n::BIGINT AS n,
        |  ((n * sxy - sx * sy)::DOUBLE
        |    / (n * sxx - sx * sx)::DOUBLE) AS slope_cents_per_sec,
        |  ((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
        |    / n::DOUBLE) AS intercept_cents
        |FROM s ORDER BY event_type""".stripMargin) { (s, d) =>
      trendOls(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q105
    "q105_markov_transitions" -> QueryDef.sql(
      "First-order Markov transition matrix over per-user event-type " +
      "sequences: count every (prev -> curr) adjacent pair (lag over " +
      "the user partition ordered by ts, event_id), then row-" +
      "normalize per source state. Counts are integers and the " +
      "probability is ONE division of exact int64s -> hash-exact. " +
      "The output is |event_type|^2 rows — a model, dimension-sized " +
      "by construction. Shape at 100 TB: one per-user window lag + " +
      "one map-side-combinable hash aggregate on (prev, curr) + a " +
      "broadcast-sized row-total join; no global ordering anywhere.",
      """WITH e AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS curr, count(*)::BIGINT AS cnt
        |  FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev, sum(cnt)::BIGINT AS total FROM c GROUP BY 1)
        |SELECT c.prev, c.curr, c.cnt, t.total,
        |  (c.cnt::DOUBLE / t.total::DOUBLE) AS p
        |FROM c JOIN t USING (prev)
        |ORDER BY prev, curr""".stripMargin) { (s, d) =>
      markovTransitions(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q109
    "q109_concurrency_profile" -> QueryDef.sql(
      "Sweep-line concurrency profile over q103's sessions: how many " +
      "sessions are simultaneously open at every change instant " +
      "(interval analytics — capacity planning, license counting). " +
      "Each session contributes +1 at start and -1 at end+1 (inclusive " +
      "ends); deltas collapse per second FIRST (making the prefix sum " +
      "tie-free by construction), then the running sum is computed " +
      "with q69's TWO-LEVEL DISTRIBUTED PREFIX: a day-partitioned " +
      "within-day running sum in parallel plus one tiny window over " +
      "per-day totals broadcast back — never a global-order window " +
      "over the change stream. The oracle uses the single global " +
      "window; integer associativity makes the two plans bit-equal. " +
      "All integers -> hash-exact.",
      """WITH e AS (SELECT user_id, ts, event_id,
        |    (epoch_us(ts) // 1000000) AS es,
        |    lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_es
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id, es,
        |    CASE WHEN prev_es IS NULL OR es - prev_es > 43200
        |         THEN 1 ELSE 0 END AS new_s FROM e),
        |g AS (SELECT user_id, es,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS session_n
        |  FROM f),
        |sess AS (SELECT user_id, session_n, min(es) AS s_es, max(es) AS e_es
        |  FROM g GROUP BY 1, 2),
        |deltas AS (SELECT s_es AS es, 1 AS delta FROM sess
        |  UNION ALL SELECT e_es + 1, -1 FROM sess),
        |bysec AS (SELECT es, sum(delta)::BIGINT AS delta FROM deltas
        |  GROUP BY es)
        |SELECT es, delta,
        |  sum(delta) OVER (ORDER BY es ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)::BIGINT AS concurrency
        |FROM bysec ORDER BY es""".stripMargin) { (s, d) =>
      concurrencyProfile(Tables.events(s, d), gapSec = 43200L)
    },

    // --------------------------------------------------------------- q111
    "q111_decayed_activity" -> QueryDef.sql(
      "Exponentially time-decayed per-user activity score (feed-" +
      "ranking / trending half-life = 1 day) that is EXACT AND " +
      "ORDER-FREE by dyadic construction: each event contributes " +
      "2^-age_days, summed as INTEGER units of 2^-50 (shiftleft — " +
      "never power(), which is libm-implementation-defined) so the " +
      "aggregate is a plain long sum — map-side combinable, no " +
      "ordered fold, no rounding — and the final score is ONE " +
      "division by the exact constant 2^50. Ages cap at 50 days " +
      "(older events floor to one unit); per-user unit totals stay " +
      "inside int64 up to ~8,000 same-day events per user — beyond " +
      "that, decimal(38,0), same algebra (the q104 rule). Shape at " +
      "100 TB: one scalar broadcast (corpus max day) + one hash " +
      "aggregate; the rank orders the USER dimension — which itself " +
      "grows with the corpus, so it runs as RangeRank (per-bucket " +
      "windows + broadcast offsets, no single-partition exchange; " +
      "plan-pinned by WindowAuditSpec).",
      """WITH m AS (SELECT max(epoch_us(ts) // 1000000) // 86400 AS maxday
        |  FROM events),
        |e AS (SELECT user_id,
        |    least(m.maxday - (epoch_us(ts) // 1000000) // 86400, 50)
        |      ::BIGINT AS age
        |  FROM events CROSS JOIN m),
        |s AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |    sum((1::BIGINT << (50 - age)::INT))::BIGINT AS units
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_events, units,
        |  (units::DOUBLE / (1::BIGINT << 50)::DOUBLE) AS decayed,
        |  row_number() OVER (ORDER BY units DESC, user_id)::BIGINT AS rank
        |FROM s ORDER BY rank""".stripMargin) { (s, d) =>
      decayedActivity(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q112
    "q112_rate_limit_audit" -> QueryDef.sql(
      "Trailing-window rate-limit audit: for every event, the user's " +
      "event count over the PRECEDING 24 H (a per-event trailing RANGE " +
      "frame over integer seconds — not q25's fixed grid buckets), " +
      "emitting the events that exceeded 5-per-24h — the quota/" +
      "abuse-detection operator. RANGE frames include all peers of " +
      "the current second on both engines, so same-second bursts " +
      "count identically regardless of intra-second order; counts " +
      "are integers -> hash-exact. Shape at 100 TB: one user-keyed " +
      "window over the user's own events (the q103 partitioning " +
      "argument); the trailing frame is O(window occupancy) running " +
      "state inside the sort, and the output is only the flagged " +
      "tail.",
      """WITH e AS (SELECT user_id, event_id, ts,
        |    (epoch_us(ts) // 1000000) AS es FROM events),
        |w AS (SELECT user_id, event_id, ts,
        |    count(*) OVER (PARTITION BY user_id ORDER BY es
        |      RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)::BIGINT
        |      AS n_24h
        |  FROM e)
        |SELECT user_id, event_id, ts, n_24h
        |FROM w WHERE n_24h > 5
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      rateLimitAudit(Tables.events(s, d), windowSec = 86400L, maxEvents = 5L)
    },

    // --------------------------------------------------------------- q114
    "q114_conversion_latency" -> QueryDef.sql(
      "Funnel time-to-convert distribution: per-user first strict " +
      "view->click and click->purchase gaps (q86's strict-progression " +
      "min-joins) in integer seconds, summarized per stage as exact " +
      "median (0.5 is binary-exact -> interpolation is engine-exact, " +
      "the q44 rule) and NEAREST-RANK p90 — the 0.9 position of the " +
      "interpolated quantile is NOT binary-exact, so p90 is the value " +
      "at integer rank ceil(9n/10) selected by row_number: an " +
      "integer, order-free, bit-stable. min/max/n complete the " +
      "profile. Shape at 100 TB: three filtered min-aggregates " +
      "chained on user_id (inputs shrink each stage), gaps are " +
      "user-dimension rows, and the stage summary aggregates " +
      "O(users) rows into O(stages).",
      """WITH v AS (SELECT user_id, min(epoch_us(ts) // 1000000) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_us(ts) // 1000000) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE event_type = 'click'
        |    AND (epoch_us(ts) // 1000000) > v.t_view
        |  GROUP BY 1),
        |p AS (SELECT e.user_id,
        |    min(epoch_us(ts) // 1000000) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE event_type = 'purchase'
        |    AND (epoch_us(ts) // 1000000) > c.t_click
        |  GROUP BY 1),
        |gaps AS (SELECT 'view_to_click' AS stage, c.user_id,
        |    (c.t_click - v.t_view)::BIGINT AS gap_sec
        |  FROM v JOIN c USING (user_id)
        |  UNION ALL
        |  SELECT 'click_to_purchase', p.user_id,
        |    (p.t_purchase - c.t_click)::BIGINT
        |  FROM c JOIN p USING (user_id)),
        |rk AS (SELECT stage AS rstage, gap_sec,
        |    row_number() OVER (PARTITION BY stage
        |      ORDER BY gap_sec, user_id) AS rn,
        |    count(*) OVER (PARTITION BY stage) AS n FROM gaps),
        |agg AS (SELECT stage, count(*)::BIGINT AS n,
        |    quantile_cont(gap_sec, 0.5) AS p50_sec,
        |    min(gap_sec)::BIGINT AS min_sec, max(gap_sec)::BIGINT AS max_sec
        |  FROM gaps GROUP BY stage)
        |SELECT agg.stage, agg.n, agg.p50_sec,
        |  rk.gap_sec::BIGINT AS p90_sec, agg.min_sec, agg.max_sec
        |FROM agg JOIN rk ON agg.stage = rk.rstage
        |  AND rk.rn = (9 * agg.n + 9) // 10
        |ORDER BY agg.stage""".stripMargin) { (s, d) =>
      conversionLatency(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q117
    "q117_cumulative_uniques" -> QueryDef.sql(
      "Cumulative distinct users per day (the growth-accounting 'total " +
      "registered users' curve) via the FIRST-OCCURRENCE + PREFIX " +
      "pattern: a cumulative count distinct is NOT decomposable as a " +
      "window aggregate, but min(first day) per user IS an ordinary " +
      "hash aggregate, daily new-user counts follow, and the running " +
      "sum is a window over the DAY DIMENSION only (30 rows here; at " +
      "any horizon it is O(days), re-shardable like q69 if ever " +
      "needed). All integers -> hash-exact. The naive per-day " +
      "count(DISTINCT user) OVER (ORDER BY day) would carry the full " +
      "user set through every frame — this plan carries one long.",
      """WITH f AS (SELECT user_id,
        |    min((epoch_us(ts) // 1000000) // 86400) AS first_day
        |  FROM events GROUP BY 1),
        |days AS (SELECT DISTINCT (epoch_us(ts) // 1000000) // 86400 AS day
        |  FROM events),
        |nw AS (SELECT first_day AS day, count(*)::BIGINT AS new_users
        |  FROM f GROUP BY 1)
        |SELECT d.day::BIGINT AS day,
        |  coalesce(nw.new_users, 0)::BIGINT AS new_users,
        |  sum(coalesce(nw.new_users, 0)) OVER (ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_users
        |FROM days d LEFT JOIN nw ON d.day = nw.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      cumulativeUniques(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q118
    "q118_sequence_patterns" -> QueryDef.sql(
      "Top-20 event-type trigram patterns across user sequences " +
      "(sequential pattern mining lite — the n=3 generalization of " +
      "q105's transition matrix): two lags over the user partition " +
      "emit each consecutive triple, one hash aggregate counts " +
      "patterns, share is one exact division, and the top-20 cut is " +
      "fully tie-broken (cnt DESC, then the pattern itself) -> " +
      "hash-exact. Shape at 100 TB: the lag window is user-keyed; " +
      "the pattern aggregate has at most |types|^3 groups (a model, " +
      "not a fact stream); the rank window runs over those groups " +
      "only.",
      """WITH e AS (SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p1,
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p2
        |  FROM events),
        |tri AS (SELECT p2 AS e1, p1 AS e2, event_type AS e3,
        |    count(*)::BIGINT AS cnt
        |  FROM e WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
        |tot AS (SELECT sum(cnt)::BIGINT AS total FROM tri)
        |SELECT e1, e2, e3, cnt,
        |  (cnt::DOUBLE / (SELECT total FROM tot)::DOUBLE) AS share,
        |  row_number() OVER (ORDER BY cnt DESC, e1, e2, e3)::BIGINT AS rank
        |FROM tri ORDER BY rank LIMIT 20""".stripMargin) { (s, d) =>
      sequencePatterns(Tables.events(s, d), k = 20)
    },

    // --------------------------------------------------------------- q120
    "q120_rolling_active_users" -> QueryDef.sql(
      "Trailing-7-day distinct active users per day (WAU) plus DAU " +
      "and the DAU/WAU stickiness ratio — the growth-accounting " +
      "triple. Trailing DISTINCT does not decompose as a window " +
      "aggregate, so the plan dedups to (user, day) ONCE, expands " +
      "each user-day into the <= 7 window days it serves (a " +
      "days-dimension range join), and distinct-counts per day — " +
      "work is 7x |user-days|, never 7x events, and no frame ever " +
      "carries a user set. Integers + one exact division -> " +
      "hash-exact.",
      """WITH ud AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 1000000) // 86400 AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |win AS (SELECT d.day, ud.user_id
        |  FROM days d JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day),
        |wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau
        |  FROM win GROUP BY 1),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1)
        |SELECT d.day::BIGINT AS day, dau.dau, wau.wau,
        |  (dau.dau::DOUBLE / wau.wau::DOUBLE) AS stickiness
        |FROM days d JOIN dau USING (day) JOIN wau USING (day)
        |ORDER BY day""".stripMargin) { (s, d) =>
      rollingActiveUsers(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q129
    "q129_last_touch_attribution" -> QueryDef.sql(
      "Last-touch conversion attribution: every purchase is credited " +
      "to the user's most recent click/view at-or-before it, within a " +
      "7-day window — the marketing-analytics classic, composed from " +
      "the SAME as-of machinery as q22 (AsOf.joinAsOf: union + one " +
      "user-partitioned window, never an inequality self-join). " +
      "Determinism: multiple touches at one (user, ts) are pre-reduced " +
      "to the max-event_id touch (arg_max on a unique integer — both " +
      "engines agree exactly), so the as-of carry is unique; the gap " +
      "is integer microseconds floored to seconds (the q103/q104 " +
      "epoch-floor parity rule) and the 7-day cutoff compares exact " +
      "int64 micros -> hash-exact end to end, nulls for unattributed. " +
      "Shape at 100 TB: touch dedup is one map-side-combinable " +
      "aggregate; the as-of is one shuffle on user_id + one ordered " +
      "window pass — linear, skew-bounded by per-user event counts.",
      """WITH touches AS (SELECT user_id, ts,
        |    arg_max(event_type, event_id) AS touch_type,
        |    max(event_id)::BIGINT AS touch_id
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |purch AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  CASE WHEN t.ts IS NOT NULL
        |    AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000
        |    THEN t.touch_type END AS touch_type,
        |  CASE WHEN t.ts IS NOT NULL
        |    AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000
        |    THEN t.touch_id END AS touch_id,
        |  CASE WHEN t.ts IS NOT NULL
        |    AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000
        |    THEN (epoch_us(p.ts) - epoch_us(t.ts)) // 1000000 END AS gap_sec
        |FROM purch p ASOF LEFT JOIN touches t
        |  ON p.user_id = t.user_id AND t.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      lastTouchAttribution(Tables.events(s, d), windowSec = 604800L)
    },

    // --------------------------------------------------------------- q130
    "q130_linear_attribution" -> QueryDef.sql(
      "Linear multi-touch attribution — q129's companion model: every " +
      "click/view in the 7-day window before a purchase shares its " +
      "credit EQUALLY, emitted per (purchase, channel) as exact " +
      "integer counts (channel touches c, window total n) plus credit " +
      "= c/n. The division is per-ROW and single-shape, so no float " +
      "ACCUMULATION exists anywhere to be order-nondeterministic — " +
      "the consumer aggregates credit per channel downstream (or " +
      "exactly, from the integer columns). Shape at 100 TB: the q23 " +
      "bounded range join (equi-key on user_id, time band residual) " +
      "-> one (purchase, channel) aggregate; the window-total sum " +
      "partitions by purchase over CHANNEL rows (<= 2 per purchase), " +
      "never events.",
      """WITH touches AS (SELECT user_id, ts, event_type FROM events
        |  WHERE event_type IN ('click', 'view')),
        |purch AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, t.event_type AS touch_type,
        |    count(*)::BIGINT AS c
        |  FROM purch p JOIN touches t ON t.user_id = p.user_id
        |    AND t.ts <= p.ts
        |    AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000
        |  GROUP BY 1, 2),
        |n AS (SELECT event_id, sum(c)::BIGINT AS n FROM j GROUP BY 1)
        |SELECT j.event_id, j.touch_type, j.c, n.n,
        |  (j.c::DOUBLE / n.n::DOUBLE) AS credit
        |FROM j JOIN n USING (event_id)
        |ORDER BY event_id, touch_type""".stripMargin) { (s, d) =>
      linearAttribution(Tables.events(s, d), windowSec = 604800L)
    },

    // --------------------------------------------------------------- q140
    "q140_kaplan_meier" -> QueryDef.sql(
      "Kaplan-Meier survival curve for signup -> first purchase, " +
      "right-censored at the corpus horizon — THE time-to-event " +
      "estimator (churn, conversion-lag, reliability studies), done " +
      "exactly: per signup user, the event day is floor((first " +
      "purchase - signup)/86400) (epoch-floor parity rule) or a " +
      "censor day at the corpus max timestamp; per day, the risk set " +
      "n (integer, computed by algebra from cumulative counts), " +
      "events d and censorings c; survival S(t) = prod_{u<=t} " +
      "(1 - d_u/n_u) with every factor a single-shape division and " +
      "the product folded in ASCENDING day order on both engines (the " +
      "q84 ordered-fold rule lifted to multiplication) -> hash-exact, " +
      "no rounding, no ln()/exp() (libm would break parity). Shape at " +
      "100 TB: two user-level aggregates (signup min, purchase min), " +
      "one day-level aggregate (domain-sized: the day grid), and the " +
      "O(T^2) fold join runs on the DAY GRID (~tens of rows), never " +
      "users.",
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY 1),
        |hz AS (SELECT max(ts) AS h FROM events),
        |durs AS (SELECT su.user_id,
        |    CASE WHEN pu.p_ts IS NOT NULL
        |      THEN (epoch_us(pu.p_ts) - epoch_us(su.s_ts)) // 86400000000
        |      ELSE (epoch_us(hz.h) - epoch_us(su.s_ts)) // 86400000000
        |    END AS t_day,
        |    CASE WHEN pu.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN hz),
        |cells AS (SELECT t_day, sum(ev)::BIGINT AS d,
        |    sum(1 - ev)::BIGINT AS c, count(*)::BIGINT AS m
        |  FROM durs GROUP BY 1),
        |risk AS (SELECT t_day, d, c,
        |    (SELECT sum(m) FROM cells c2 WHERE c2.t_day >= cells.t_day)
        |      ::BIGINT AS n
        |  FROM cells)
        |SELECT r.t_day, r.n AS n_risk, r.d AS n_event, r.c AS n_censor,
        |  list_reduce(list_prepend(1.0,
        |    list((1.0 - u.d::DOUBLE / u.n::DOUBLE) ORDER BY u.t_day)),
        |    (a, x) -> a * x) AS survival
        |FROM risk r JOIN risk u ON u.t_day <= r.t_day
        |GROUP BY r.t_day, r.n, r.d, r.c
        |ORDER BY r.t_day""".stripMargin) { (s, d) =>
      kaplanMeier(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q201
    "q201_nelson_aalen" -> QueryDef.sql(
      "Nelson-Aalen cumulative hazard for signup -> first purchase — " +
      "q140's sibling estimator (the hazard-scale view actuaries and " +
      "reliability engineers prefer, and the one that feeds Breslow " +
      "baseline hazards in Cox models): over the SAME risk-set frame " +
      "as q140 (one shared definition, two catalog rows), H(t) = " +
      "sum_{u<=t} d_u/n_u and the Poisson variance sum d_u/n_u^2, " +
      "each factor a single-shape division ((d/n)/n for the variance " +
      "so n^2 never overflows) folded in ASCENDING day order on both " +
      "engines — the q84 ordered-fold rule with addition, hash-exact, " +
      "no exp()/ln(). Shape at 100 TB: identical to q140 — two " +
      "user-level aggregates, one day-grid aggregate, and the O(T^2) " +
      "fold join runs on the day grid (~tens of rows), never users.",
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY 1),
        |hz AS (SELECT max(ts) AS h FROM events),
        |durs AS (SELECT su.user_id,
        |    CASE WHEN pu.p_ts IS NOT NULL
        |      THEN (epoch_us(pu.p_ts) - epoch_us(su.s_ts)) // 86400000000
        |      ELSE (epoch_us(hz.h) - epoch_us(su.s_ts)) // 86400000000
        |    END AS t_day,
        |    CASE WHEN pu.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN hz),
        |cells AS (SELECT t_day, sum(ev)::BIGINT AS d,
        |    sum(1 - ev)::BIGINT AS c, count(*)::BIGINT AS m
        |  FROM durs GROUP BY 1),
        |risk AS (SELECT t_day, d, c,
        |    (SELECT sum(m) FROM cells c2 WHERE c2.t_day >= cells.t_day)
        |      ::BIGINT AS n
        |  FROM cells)
        |SELECT r.t_day, r.n AS n_risk, r.d AS n_event, r.c AS n_censor,
        |  list_reduce(list_prepend(0.0,
        |    list((u.d::DOUBLE / u.n::DOUBLE) ORDER BY u.t_day)),
        |    (a, x) -> a + x) AS cum_hazard,
        |  list_reduce(list_prepend(0.0,
        |    list(((u.d::DOUBLE / u.n::DOUBLE) / u.n::DOUBLE)
        |      ORDER BY u.t_day)),
        |    (a, x) -> a + x) AS na_variance
        |FROM risk r JOIN risk u ON u.t_day <= r.t_day
        |GROUP BY r.t_day, r.n, r.d, r.c
        |ORDER BY r.t_day""".stripMargin) { (s, d) =>
      nelsonAalen(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q207
    "q207_theil_sen" -> QueryDef.sql(
      "Theil-Sen robust trend of daily event volume — the median-of-" +
      "pairwise-slopes estimator (Sen 1968) that one outlier day " +
      "cannot move, complementing q104's least-squares line: the " +
      "median is ELECTED, never averaged-by-float-quantile (q196 " +
      "rule) — pairs ranked by (slope, day_i, day_j) total order, " +
      "lower/upper middle picked by integer rank, ts_slope their " +
      "half-sum; the intercept is the same election over per-day " +
      "residuals. Each slope is ONE integer-ratio division and the " +
      "folds are exactly-rounded fixed trees -> hash-exact. Shape at " +
      "100 TB: the day grid is CALENDAR-BOUNDED (30 days at any " +
      "corpus size — the operational monitoring window), so the " +
      "O(T^2) pair join and its rank window run over ~435 rows " +
      "regardless of scale; the only data-proportional pass is the " +
      "one combinable day rollup.",
      """WITH dm AS (SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1),
        |pr AS (SELECT a.day AS di, b.day AS dj,
        |    (b.x - a.x)::DOUBLE / (b.day - a.day)::DOUBLE AS slope
        |  FROM dm a JOIN dm b ON b.day > a.day),
        |st AS (SELECT count(*)::BIGINT AS m FROM pr),
        |r AS (SELECT slope,
        |    row_number() OVER (ORDER BY slope, di, dj)::BIGINT AS rn
        |  FROM pr),
        |med AS (SELECT st.m, lo.slope AS slope_lo, hi.slope AS slope_hi,
        |    (lo.slope + hi.slope) / 2.0 AS ts_slope
        |  FROM st JOIN r lo ON lo.rn = (st.m + 1) // 2
        |  JOIN r hi ON hi.rn = (st.m + 2) // 2),
        |ic AS (SELECT dm.day,
        |    dm.x::DOUBLE - med.ts_slope * dm.day::DOUBLE AS v
        |  FROM dm CROSS JOIN med),
        |icr AS (SELECT v,
        |    row_number() OVER (ORDER BY v, day)::BIGINT AS rn FROM ic),
        |icst AS (SELECT count(*)::BIGINT AS t FROM icr)
        |SELECT icst.t AS n_days, med.m AS n_pairs, med.slope_lo,
        |  med.slope_hi, med.ts_slope,
        |  (ilo.v + ihi.v) / 2.0 AS intercept
        |FROM med CROSS JOIN icst
        |JOIN icr ilo ON ilo.rn = (icst.t + 1) // 2
        |JOIN icr ihi ON ihi.rn = (icst.t + 2) // 2""".stripMargin) {
      (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dm = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val pr = dm.alias("a").join(dm.alias("b"),
          col("b.day") > col("a.day"))
        .select(col("a.day").as("di"), col("b.day").as("dj"),
          ((col("b.x") - col("a.x")).cast("double")
            / (col("b.day") - col("a.day")).cast("double")).as("slope"))
      val st = pr.agg(count(lit(1)).as("m"))
      val r = pr.withColumn("rn",
        row_number().over(Window.orderBy("slope", "di", "dj")).cast("long"))
      val med = st
        .join(r.select(col("rn").as("rn_lo"), col("slope").as("slope_lo")),
          col("rn_lo") === expr("(m + 1) div 2"))
        .join(r.select(col("rn").as("rn_hi"), col("slope").as("slope_hi")),
          col("rn_hi") === expr("(m + 2) div 2"))
        .select(col("m"), col("slope_lo"), col("slope_hi"),
          ((col("slope_lo") + col("slope_hi")) / lit(2.0)).as("ts_slope"))
      val ic = dm.crossJoin(broadcast(med))
        .select(col("day"), col("m"), col("slope_lo"), col("slope_hi"),
          col("ts_slope"),
          (col("x").cast("double")
            - col("ts_slope") * col("day").cast("double")).as("v"))
      val icr = ic.withColumn("rn",
        row_number().over(Window.orderBy("v", "day")).cast("long"))
      val icst = icr.agg(count(lit(1)).as("t"))
      icr.select(col("rn").as("rn_lo"), col("v").as("v_lo"), col("m"),
          col("slope_lo"), col("slope_hi"), col("ts_slope"))
        .crossJoin(broadcast(icst))
        .where(col("rn_lo") === expr("(t + 1) div 2"))
        .join(icr.select(col("rn").as("rn_hi"), col("v").as("v_hi")),
          col("rn_hi") === expr("(t + 2) div 2"))
        .select(col("t").as("n_days"), col("m").as("n_pairs"),
          col("slope_lo"), col("slope_hi"), col("ts_slope"),
          ((col("v_lo") + col("v_hi")) / lit(2.0)).as("intercept"))
    },

    // --------------------------------------------------------------- q208
    "q208_mann_kendall" -> QueryDef.sql(
      "Mann-Kendall trend test on daily event volume — q207's " +
      "hypothesis-test partner (is the monotone trend SIGNIFICANT?): " +
      "S = sum of pairwise signs (exact integer over the same " +
      "calendar-bounded pair grid), the tie-corrected variance kept " +
      "as the INTEGER numerator var_s18 = n(n-1)(2n+5) - " +
      "sum t(t-1)(2t+5) (18*Var(S) — clearing the denominator the " +
      "q175 way), and the continuity-corrected z = (S -/+ 1)/" +
      "sqrt(var_s18/18) as a fixed exactly-rounded tree -> " +
      "hash-exact, no erf()/normal CDF (libm rule: the z-score is " +
      "the deliverable, its p-value is the caller's table lookup). " +
      "Shape at 100 TB: identical to q207 — one combinable day " +
      "rollup, then everything runs on the ~30-row grid.",
      """WITH dm AS (SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1),
        |s AS (SELECT count(*)::BIGINT AS m,
        |    sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
        |      ELSE 0 END)::BIGINT AS s_stat
        |  FROM dm a JOIN dm b ON b.day > a.day),
        |tg AS (SELECT x, count(*)::BIGINT AS t FROM dm GROUP BY 1),
        |vt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
        |    AS tie_term FROM tg WHERE t > 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM dm)
        |SELECT nn.n AS n_days, s.m AS n_pairs, s.s_stat,
        |  (nn.n * (nn.n - 1) * (2 * nn.n + 5) - vt.tie_term)::BIGINT
        |    AS var_s18,
        |  CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)::DOUBLE
        |      / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
        |        - vt.tie_term)::DOUBLE / 18.0)
        |    WHEN s.s_stat < 0 THEN (s.s_stat + 1)::DOUBLE
        |      / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
        |        - vt.tie_term)::DOUBLE / 18.0)
        |    ELSE 0.0 END AS z
        |FROM s CROSS JOIN vt CROSS JOIN nn""".stripMargin) { (s, d) =>
      val dm = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val pairs = dm.alias("a").join(dm.alias("b"),
          col("b.day") > col("a.day"))
        .agg(count(lit(1)).as("m"),
          sum(when(col("b.x") > col("a.x"), 1L)
            .when(col("b.x") < col("a.x"), -1L).otherwise(0L))
            .cast("long").as("s_stat"))
      val vt = dm.groupBy("x").agg(count(lit(1)).as("t"))
        .where(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1)
          * (lit(2L) * col("t") + 5)), lit(0L)).cast("long").as("tie_term"))
      val nn = dm.agg(count(lit(1)).as("n"))
      val varS18 = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
        - col("tie_term")).cast("long")
      val zden = sqrt(varS18.cast("double") / lit(18.0))
      pairs.crossJoin(broadcast(vt)).crossJoin(broadcast(nn))
        .select(col("n").as("n_days"), col("m").as("n_pairs"),
          col("s_stat"), varS18.as("var_s18"),
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / zden)
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") / zden)
            .otherwise(lit(0.0)).as("z"))
    },

    // --------------------------------------------------------------- q146
    "q146_golden_record" -> QueryDef.sql(
      "Golden-record survivorship per user — the MDM/ETL merge every " +
      "customer-360 pipeline runs: latest event wins per field in the " +
      "(ts, event_id) total order (the q80 ordering contract), with " +
      "first/last seen, event count, distinct types, and lifetime " +
      "value sum (cents-exact via the fixed-point rule). last() over " +
      "an ORDERED user window is deterministic because the order is " +
      "TOTAL — no ties exist for the tiebreaker to lose. Shape at " +
      "100 TB: ONE user-partitioned window pass + one aggregate, both " +
      "on the natural user_id partitioning.",
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events),
        |lastv AS (SELECT user_id,
        |    last_value(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_type,
        |    last_value(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_event_id,
        |    ts, event_id, event_type, cents
        |  FROM o)
        |SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
        |  count(*)::BIGINT AS n_events,
        |  count(DISTINCT event_type)::BIGINT AS n_types,
        |  sum(cents)::BIGINT AS value_cents,
        |  max(last_type) AS last_type,
        |  max(last_event_id)::BIGINT AS last_event_id
        |FROM lastv
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      goldenRecord(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q147
    "q147_disorder_audit" -> QueryDef.sql(
      "Out-of-orderness audit — the measurement that PICKS a streaming " +
      "watermark instead of guessing one: treating event_id as arrival " +
      "order, an event's disorder is how far the running-max event " +
      "time (what a stream's watermark tracks) has already passed it; " +
      "per type, the worst disorder and the fraction of events a " +
      "1-hour watermark would drop as late. Pure integer microseconds " +
      "(epoch-floor rule for the seconds column) + ONE division -> " +
      "hash-exact. Shape at 100 TB: one type-partitioned running-max " +
      "window in arrival order + one aggregate; for a single giant " +
      "type, sub-partition by arrival range and merge running maxes " +
      "(the q69 prefix-sum lift).",
      """WITH o AS (SELECT event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |d AS (SELECT event_type, event_id, us,
        |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
        |      AS disorder_us
        |  FROM o)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  (max(disorder_us) // 1000000)::BIGINT AS max_disorder_sec,
        |  sum(CASE WHEN disorder_us > 3600000000 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_late,
        |  (sum(CASE WHEN disorder_us > 3600000000 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE) AS late_frac
        |FROM d
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      disorderAudit(Tables.events(s, d), watermarkSec = 3600L)
    },

    // --------------------------------------------------------------- q170
    "q170_markov_attribution" -> QueryDef.sql(
      "Markov removal-effect attribution (Anderl et al. 2014 — the " +
      "data-driven attribution model behind q129/q130's rule-based " +
      "ones): per-user journeys truncated at the FIRST purchase " +
      "(START -> events -> CONV, or -> NULLSTATE for non-" +
      "converters), first-order transition counts, then for each " +
      "channel the conversion probability from START with that " +
      "channel KNOCKED OUT (its state forced to the null absorber) — " +
      "the attribution weight is how much conversion mass the " +
      "channel's removal destroys. The absorbing-chain solve is a " +
      "FIXED-POINT integer iteration (q95's recipe: probability in " +
      "units of 1e-12, p(s) <- sum_t cnt[s,t]*p(t) DIV tot[s], 12 " +
      "synchronous rounds, CONV pinned to 1e12, NULLSTATE and the " +
      "removed channel to 0) — exact int64 arithmetic, identical on " +
      "both engines, no linear-algebra library, no floats. " +
      "ALL-INTEGER output -> hash-exact. Shape at 100 TB: the " +
      "data-proportional work is journey extraction + transition " +
      "counting (one per-user window lag + one combinable " +
      "aggregate — q105's exact shape); the solve runs on the " +
      "|channels|^2 transition matrix, a bounded driver step like " +
      "q57's centroid reassembly (documented boundedness contract: " +
      "the matrix is dimension-sized, never data-sized), and the " +
      "5-scenario iteration ships back as a 4-row literal frame.",
      markovAttributionSql) { (s, d) =>
      markovAttribution(Tables.events(s, d),
        Seq("click", "error", "signup", "view"), iters = 12)
    },

    // --------------------------------------------------------------- q171
    "q171_forecast_backtest" -> QueryDef.sql(
      "Seasonal-naive forecast backtest over monthly order revenue — " +
      "the evaluation harness every demand/capacity forecast ships " +
      "with (Hyndman & Athanasopoulos, Forecasting: Principles and " +
      "Practice, the standard sMAPE/WAPE benchmark pair): forecast " +
      "for month m is the actual at m-12 (same-month-last-year, " +
      "robust to calendar gaps because it JOINS on the shifted month " +
      "rather than lagging 12 rows), scored per forecast year. All " +
      "error arithmetic is exact integers: revenue in cents via the " +
      "fixed-point rule, per-month sMAPE contribution " +
      "(2e6*|err|) DIV (actual+forecast) in micro-units, yearly WAPE " +
      "(1e6*sum|err|) DIV sum(actual) — integer division is " +
      "identical across engines for the non-negative operands here, " +
      "so every column is hash-exact with zero float drift. Shape at " +
      "100 TB: ONE combinable month rollup is the only " +
      "data-proportional pass; the backtest self-join and scoring " +
      "run on the month frame, bounded by the calendar span (~80 " +
      "rows per decade), never by data volume.",
      """WITH m AS (SELECT date_trunc('month', o_orderdate)::TIMESTAMP
        |      AS month,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |f AS (SELECT a.month AS month, a.cents AS actual_cents,
        |    p.cents AS forecast_cents
        |  FROM m a JOIN m p ON a.month = p.month + INTERVAL 12 MONTH),
        |e AS (SELECT year(month)::INT AS fc_year, actual_cents,
        |    forecast_cents,
        |    abs(actual_cents - forecast_cents) AS abs_err,
        |    ((2000000 * abs(actual_cents - forecast_cents))
        |      // (actual_cents + forecast_cents))::BIGINT AS smape_micro
        |  FROM f)
        |SELECT fc_year, count(*)::BIGINT AS n_months,
        |  sum(actual_cents)::BIGINT AS actual_cents,
        |  sum(forecast_cents)::BIGINT AS forecast_cents,
        |  sum(abs_err)::BIGINT AS abs_err_cents,
        |  ((1000000 * sum(abs_err)) // sum(actual_cents))::BIGINT
        |    AS wape_micro,
        |  sum(smape_micro)::BIGINT AS smape_sum_micro
        |FROM e GROUP BY fc_year ORDER BY fc_year""".stripMargin) { (s, d) =>
      forecastBacktest(Tables.orders(s, d))
    },

    // --------------------------------------------------------------- q172
    "q172_shapley_attribution" -> QueryDef.sql(
      "EXACT Shapley-value attribution over the pre-conversion " +
      "channel coalitions (Shapley 1953; the 'simple game' marketing " +
      "formulation used alongside q170's Markov model): each " +
      "converter contributes its DISTINCT-channel set touched " +
      "strictly before the first purchase (possibly empty), the " +
      "characteristic function v(S) counts converters whose set is " +
      "contained in coalition S, and each channel's Shapley value is " +
      "the factorial-weighted sum of its marginal contributions over " +
      "all 2^(n-1) coalitions — emitted in integer 1/n! units " +
      "(24ths for the catalog's 4 channels; every weight " +
      "|S|!(n-1-|S|)! is a whole number of them) plus " +
      "the grand-coalition marginal v(N)-v(N\\{i}). Exactness law " +
      "(spec-anchored): the 24ths sum to 24*(v(N)-v(empty)). Shape " +
      "at 100 TB: journey truncation + per-user bit_or mask + a " +
      "16-bucket count are the only data-proportional passes (two " +
      "user_id shuffles, all combinable); the subset-sum zeta " +
      "transform and factorial weighting run on the 2^n-row coalition " +
      "table — dimension-sized by construction, the q57/q170 bounded " +
      "driver contract.",
      shapleyAttributionSql) { (s, d) =>
      shapleyAttribution(Tables.events(s, d), attrChannels)
    },

    // --------------------------------------------------------------- q173
    "q173_seasonal_decomposition" -> QueryDef.sql(
      "Classical additive seasonal decomposition of monthly order " +
      "revenue (Hyndman & Athanasopoulos ch. 3 — the 2x12 centered " +
      "moving average that anchors every seasonal-adjustment " +
      "pipeline): trend via the standard half-weighted 13-month MA " +
      "kept EXACT by scaling to 24ths (trend24 = W13 sum + W11 sum — " +
      "edge months weight 1, inner months weight 2, so no fraction " +
      "ever materializes), detrended d_t = 24*cents_t - trend24, and " +
      "the per-month-of-year seasonal index sum(d) DIV n (DIV " +
      "truncates toward zero on BOTH engines even for the negative " +
      "detrended sums — spec-pinned). Residual dispersion (sum and " +
      "max of |d - seasonal|) emits per month-of-year, ALL-INTEGER " +
      "-> hash-exact; int64 holds to ~$3.8e15 of monthly revenue in " +
      "24ths. The ROWS window is only valid on a gapless month " +
      "spine — asserted by the wn=13 full-window guard AND the " +
      "spec's consecutive-month density check. Shape at 100 TB: ONE " +
      "combinable month rollup is the only data-proportional pass " +
      "(q171's shape); the MA windows, seasonal index, and residuals " +
      "all run on the calendar-bounded month frame (~80 rows per " +
      "decade) — a single in-memory partition, no data-sized " +
      "shuffle anywhere past the rollup.",
      """WITH m AS (SELECT date_trunc('month', o_orderdate)::TIMESTAMP
        |      AS month,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT month, cents,
        |    sum(cents) OVER (ORDER BY month
        |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
        |      + sum(cents) OVER (ORDER BY month
        |        ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS trend24,
        |    count(*) OVER (ORDER BY month
        |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn
        |  FROM m),
        |d AS (SELECT month(month)::INT AS moy,
        |    24 * cents - trend24 AS det24
        |  FROM t WHERE wn = 13),
        |s AS (SELECT moy, det24,
        |    (sum(det24) OVER (PARTITION BY moy)
        |      // count(*) OVER (PARTITION BY moy))::BIGINT
        |      AS seasonal_24ths
        |  FROM d)
        |SELECT moy, count(*)::BIGINT AS n_obs,
        |  max(seasonal_24ths)::BIGINT AS seasonal_24ths,
        |  sum(abs(det24 - seasonal_24ths))::BIGINT AS resid_abs_sum_24ths,
        |  max(abs(det24 - seasonal_24ths))::BIGINT AS resid_max_24ths
        |FROM s GROUP BY moy ORDER BY moy""".stripMargin) { (s, d) =>
      seasonalDecomposition(Tables.orders(s, d))
    },

    // --------------------------------------------------------------- q174
    "q174_cusum_changepoint" -> QueryDef.sql(
      "CUSUM change-point detection over per-type daily event counts " +
      "(Page 1954 — the drift monitor every ingestion pipeline runs " +
      "against its own volume): per event type, deviations from the " +
      "per-type mean daily rate in exact micro-units (k_micro = " +
      "(1e6*total) DIV n_days), and the one-sided upper/lower CUSUM " +
      "statistics via the prefix-extremum identity that makes the " +
      "RECURSIVE max(0, S+dev) SQL-expressible: up_t = cs_t - " +
      "min(0, min_{i<=t} cs_i), down_t = max(0, max_{i<=t} cs_i) - " +
      "cs_t over the running deviation sum cs (the 0 term is the " +
      "virtual cs_0 anchor the recursion starts from — spec-pinned " +
      "against the literal recursion on random series). Emits per " +
      "type the max drift in " +
      "each direction and its argmax day (row_number tie-broken by " +
      "day) — ALL integers and dates, hash-exact. Shape at 100 TB: " +
      "one combinable (type, day) rollup is the only " +
      "data-proportional pass; the window chain partitions by event " +
      "type over the calendar-bounded day frame (~4k rows/decade per " +
      "type) — per-type partitions are independent, so the scan " +
      "parallelizes by type and no global sort exists.",
      """WITH dc AS (SELECT event_type, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*)::BIGINT AS n_days,
        |    ((1000000 * sum(cnt)) // count(*))::BIGINT AS k_micro
        |  FROM dc GROUP BY 1),
        |c AS (SELECT dc.event_type, dc.day, st.n_days, st.k_micro,
        |    sum(1000000 * dc.cnt - st.k_micro) OVER (
        |      PARTITION BY dc.event_type ORDER BY dc.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM dc JOIN st USING (event_type)),
        |u AS (SELECT event_type, day, n_days, k_micro,
        |    cs - least(0, min(cs) OVER (PARTITION BY event_type
        |      ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS up,
        |    greatest(0, max(cs) OVER (PARTITION BY event_type
        |      ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - cs
        |      AS down
        |  FROM c),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY up DESC, day) AS ru,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY down DESC, day) AS rd
        |  FROM u)
        |SELECT event_type, max(n_days)::BIGINT AS n_days,
        |  max(k_micro)::BIGINT AS k_micro,
        |  max(CASE WHEN ru = 1 THEN up END)::BIGINT AS max_up_micro,
        |  max(CASE WHEN ru = 1 THEN day END) AS up_day,
        |  max(CASE WHEN rd = 1 THEN down END)::BIGINT AS max_down_micro,
        |  max(CASE WHEN rd = 1 THEN day END) AS down_day
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) => cusumChangepoint(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q175
    "q175_autocorrelation" -> QueryDef.sql(
      "Sample autocorrelation function of daily order volume at " +
      "calendar lags 1-7 (Box & Jenkins — the seasonality/" +
      "independence diagnostic read before fitting q171's forecast): " +
      "kept exact by clearing denominators — with n days and " +
      "Sx = sum(x), the centered value scaled by n is c_t = n*x_t - " +
      "Sx (an exact integer), num_k = sum(c_t * c_{t+k}) over " +
      "CALENDAR-day pairs (a self-join on day+k, robust to the 7 " +
      "missing days in the spine — a row-lag would misalign there), " +
      "den = sum(c_t^2). Emits exact int64 num/den plus ONE " +
      "same-shape IEEE division per lag (the q158/q169 rule). " +
      "decimal(38,0)/HUGEINT intermediates put the int64 ceiling at " +
      "the CAST, not the sum: |c| <= n*max|x-mean| keeps num within " +
      "int64 to ~sf100 on this spine; beyond, emit decimal. Shape at " +
      "100 TB: one combinable day rollup is the only " +
      "data-proportional pass; the 7-lag self-join and scoring run " +
      "on the calendar-bounded day frame (~2.4k rows) broadcast " +
      "against a 7-row lag spine.",
      """WITH dm AS (SELECT o_orderdate::DATE AS day,
        |    count(*)::BIGINT AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx
        |  FROM dm),
        |cen AS (SELECT day, (st.n * x - st.sx)::HUGEINT AS c
        |  FROM dm CROSS JOIN st),
        |den AS (SELECT sum(c * c)::HUGEINT AS den FROM cen),
        |lg AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7))
        |  AS t(lag)),
        |num AS (SELECT lg.lag, count(*)::BIGINT AS n_pairs,
        |    sum(a.c * b.c)::HUGEINT AS num
        |  FROM lg JOIN cen a ON true
        |  JOIN cen b ON b.day = a.day + lg.lag
        |  GROUP BY lg.lag)
        |SELECT lag::INT AS lag, n_pairs,
        |  num::BIGINT AS num, den.den::BIGINT AS den,
        |  num::DOUBLE / den.den::DOUBLE AS acf
        |FROM num CROSS JOIN den ORDER BY lag""".stripMargin) { (s, d) =>
      autocorrelation(Tables.orders(s, d), maxLag = 7)
    },

    // --------------------------------------------------------------- q187
    "q187_rfm_segmentation" -> QueryDef.sql(
      "RFM customer segmentation (Hughes 1994 — the classic " +
      "recency/frequency/monetary quintile grid behind lifecycle " +
      "marketing): per purchasing customer the exact last-order day " +
      "(integer days since epoch), order count, and spend in exact " +
      "cents; each dimension scored 1-5 by ntile over the FULLY " +
      "TIE-BROKEN (metric, custkey) order (the q106 determinism " +
      "rule — ANSI ntile splits floor/ceil identically on both " +
      "engines over a duplicate-free order), then one aggregate to " +
      "the at-most-125-cell segment grid with integer counts and " +
      "sums -> hash-exact. Scale contract: each ntile runs as " +
      "RangeRank (literal quantile-boundary buckets -> per-bucket " +
      "window + broadcast offset prefix sums) — NO Exchange " +
      "SinglePartition anywhere (plan-pinned), so the exact form " +
      "itself survives ~10^9 customers at buckets-way parallelism; " +
      "the three ntiles fold their side passes from ONE " +
      "SharedFrames-persisted customer aggregate. Beyond that, " +
      "quintile BOUNDARIES come from q85's mergeable sketch and " +
      "scoring becomes a map-side lookup — this entry is the exact " +
      "semantic that path approximates.",
      """WITH cust AS (SELECT o_custkey AS k,
        |    max(datediff('day', DATE '1970-01-01', o_orderdate::DATE))
        |      ::BIGINT AS last_day,
        |    count(*)::BIGINT AS freq,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS money
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT k, last_day, freq, money,
        |    ntile(5) OVER (ORDER BY last_day, k)::BIGINT AS r,
        |    ntile(5) OVER (ORDER BY freq, k)::BIGINT AS f,
        |    ntile(5) OVER (ORDER BY money, k)::BIGINT AS m
        |  FROM cust)
        |SELECT r, f, m, count(*)::BIGINT AS n_customers,
        |  sum(freq)::BIGINT AS n_orders,
        |  sum(money)::BIGINT AS money_cents
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY r, f, m""".stripMargin) { (s, d) =>
      // Shared-persisted: the three RangeRank ntiles fold boundaries
      // and bucket counts from this frame (6 side passes + the main
      // pass), so one materialized customer aggregate feeds all 7.
      val cust = graft.plans.SharedFrames(s, d, "q187_cust") {
        Tables.orders(s, d)
          .groupBy(col("o_custkey").as("k"))
          .agg(
            max(datediff(col("o_orderdate").cast("date"),
              to_date(lit("1970-01-01")))).cast("long").as("last_day"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .cast("long").as("money"))
      }
      val sc = graft.functions.RangeRank.withNtiles(cust,
        Seq(("last_day", "k", 5, "r"), ("freq", "k", 5, "f"),
          ("money", "k", 5, "m")), statsFrom = cust)
      sc.groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"),
          sum("freq").cast("long").as("n_orders"),
          sum("money").cast("long").as("money_cents"))
        .orderBy("r", "f", "m")
    },

    // --------------------------------------------------------------- q189
    "q189_cohort_ltv" -> QueryDef.sql(
      "Cohort lifetime-value curves (the growth-accounting triangle: " +
      "cumulative revenue per acquisition cohort by months-since-" +
      "first-order — q87's retention counts upgraded to money): " +
      "cohort = integer month index (year*12 + month, identical " +
      "arithmetic on both engines — no months_between float path) of " +
      "each customer's first order; per (cohort, age) the exact " +
      "order count and spend cents; the running LTV is a window " +
      "over the AGE DIMENSION inside each cohort partition (bounded: " +
      "months, never customers — the q117 prefix rule), and " +
      "ltv_cents_per_user is the one IEEE division against the " +
      "exact cohort size. Shape at 100 TB: two combinable " +
      "aggregates (first-order election, cohort-age rollup), one " +
      "cohort-keyed join, windows over O(months) rows per cohort.",
      """WITH fo AS (SELECT o_custkey AS k,
        |    min(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT
        |      AS cohort_m
        |  FROM orders GROUP BY 1),
        |cs AS (SELECT cohort_m, count(*)::BIGINT AS cohort_size
        |  FROM fo GROUP BY 1),
        |sp AS (SELECT fo.cohort_m,
        |    (year(o.o_orderdate) * 12 + month(o.o_orderdate)
        |      - fo.cohort_m)::BIGINT AS age_m,
        |    count(*)::BIGINT AS n_orders,
        |    sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS spend_cents
        |  FROM orders o JOIN fo ON o.o_custkey = fo.k
        |  GROUP BY 1, 2),
        |cum AS (SELECT cohort_m, age_m, n_orders, spend_cents,
        |    sum(spend_cents) OVER (PARTITION BY cohort_m ORDER BY age_m
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
        |  FROM sp)
        |SELECT c.cohort_m, c.age_m, c.n_orders, c.spend_cents,
        |  c.cum_cents, cs.cohort_size,
        |  c.cum_cents::DOUBLE / cs.cohort_size::DOUBLE
        |    AS ltv_cents_per_user
        |FROM cum c JOIN cs USING (cohort_m)
        |ORDER BY cohort_m, age_m""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val om = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
      val fo = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"))
        .agg(min(om).cast("long").as("cohort_m"))
      val cs = fo.groupBy("cohort_m")
        .agg(count(lit(1)).as("cohort_size"))
      val sp = Tables.orders(s, d)
        .join(fo, col("o_custkey") === fo("k"))
        .groupBy(col("cohort_m"),
          (om.cast("long") - col("cohort_m")).as("age_m"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .cast("long").as("spend_cents"))
      val w = Window.partitionBy("cohort_m").orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sp.withColumn("cum_cents", sum("spend_cents").over(w).cast("long"))
        .join(cs, Seq("cohort_m"))
        .select(col("cohort_m"), col("age_m"), col("n_orders"),
          col("spend_cents"), col("cum_cents"), col("cohort_size"),
          (col("cum_cents").cast("double")
            / col("cohort_size").cast("double")).as("ltv_cents_per_user"))
        .orderBy("cohort_m", "age_m")
    },

    // --------------------------------------------------------------- q192
    "q192_purchase_intervals" -> QueryDef.sql(
      "Inter-purchase interval profile (the repeat-purchase cadence " +
      "behind replenishment models and q140's survival curves — " +
      "there time-to-FIRST-event, here the gaps BETWEEN events): per " +
      "customer, the day gap between consecutive orders (lag over " +
      "the customer partition, fully tie-broken by orderkey so " +
      "same-day orders yield deterministic zero gaps), then a " +
      "30-day-bucket histogram with per-bucket exact gap sums and " +
      "the overall row via ROLLUP (coalesced to bucket -1). " +
      "mean_gap_days is the one single-shape IEEE division per row; " +
      "everything else is integers -> hash-exact. Shape at 100 TB: " +
      "the lag window is customer-keyed (bounded partitions), the " +
      "histogram is a combinable aggregate over O(gaps) rows with " +
      "at most a few hundred buckets — no global window, no join.",
      """WITH o AS (SELECT o_custkey AS k,
        |    datediff('day', DATE '1970-01-01', o_orderdate::DATE)
        |      ::BIGINT AS day, o_orderkey AS ok
        |  FROM orders),
        |g AS (SELECT k, day - lag(day) OVER (PARTITION BY k
        |    ORDER BY day, ok) AS gap FROM o),
        |b AS (SELECT gap, gap // 30 AS bucket FROM g
        |  WHERE gap IS NOT NULL)
        |SELECT coalesce(bucket, -1)::BIGINT AS gap_bucket,
        |  count(*)::BIGINT AS n_gaps,
        |  sum(gap)::BIGINT AS sum_gap_days,
        |  sum(gap)::DOUBLE / count(*)::DOUBLE AS mean_gap_days
        |FROM b GROUP BY ROLLUP(bucket)
        |ORDER BY gap_bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, d).select(col("o_custkey").as("k"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long").as("day"),
        col("o_orderkey").as("ok"))
      val g = o.select(col("k"),
        (col("day") - lag("day", 1)
          .over(Window.partitionBy("k").orderBy("day", "ok"))).as("gap"))
        .where(col("gap").isNotNull)
        .withColumn("bucket", expr("gap DIV 30"))
      g.rollup(col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          sum("gap").cast("long").as("sum_gap_days"))
        .select(coalesce(col("bucket"), lit(-1L)).cast("long")
            .as("gap_bucket"),
          col("n_gaps"), col("sum_gap_days"),
          (col("sum_gap_days").cast("double")
            / col("n_gaps").cast("double")).as("mean_gap_days"))
        .orderBy("gap_bucket")
    },

    // --------------------------------------------------------------- q210
    "q210_feature_snapshot" -> QueryDef.sql(
      "Point-in-time training-feature materialization — the " +
      "feature-store read pattern (r10 verdict growth item 6a): for " +
      "every LABEL event (each purchase), the user's feature state " +
      "AS OF that moment — running event count, running spend in " +
      "exact cents, count of distinct event types seen (a bit_or " +
      "type bitmask + bit_count, so 'distinct so far' stays a " +
      "combinable window aggregate instead of an O(n^2) distinct), " +
      "and the latest event type — assembled LEAKAGE-SAFE: features " +
      "come only from non-label events at-or-before the label " +
      "timestamp, via the q22 AsOf operator (union + last-value " +
      "carry, never a per-key cross product). First-purchase labels " +
      "with no feature history emit NULL features (the cold-start " +
      "row a trainer must see, not silently drop). Determinism: " +
      "feature states are deduped to one row per (user, ts) keeping " +
      "the highest event_id (whose running windows already include " +
      "its same-ts peers), so the as-of carry has unique state " +
      "times; ALL-INTEGER features + a VARCHAR -> hash-exact. " +
      "Shape at 100 TB: one user-partitioned window pass over " +
      "events builds the feature history, the as-of join is one " +
      "union + one user-keyed window — two shuffles on the same " +
      "key (AQE-coalesced), no data-sized join anywhere; a feature " +
      "store materializes exactly this frame per training snapshot " +
      "and the labels side alone changes between snapshots.",
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    round(value * 100)::BIGINT AS cents FROM events),
        |fh0 AS (SELECT user_id, ts, event_id, event_type,
        |    count(*) OVER w AS n_events,
        |    sum(cents) OVER w AS cents_sum,
        |    bit_or(CASE event_type WHEN 'click' THEN 1
        |      WHEN 'view' THEN 2 WHEN 'signup' THEN 4
        |      WHEN 'error' THEN 8 ELSE 16 END) OVER w AS typemask
        |  FROM e WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fh AS (SELECT user_id, ts, event_type, n_events, cents_sum,
        |    typemask FROM (SELECT *, row_number() OVER (
        |      PARTITION BY user_id, ts ORDER BY event_id DESC) AS dr
        |    FROM fh0) WHERE dr = 1),
        |lab AS (SELECT user_id, ts, event_id, cents FROM e
        |  WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, ts, 0 AS tag, NULL::BIGINT AS event_id,
        |      NULL::BIGINT AS label_cents, n_events, cents_sum,
        |      typemask, event_type AS last_type
        |    FROM fh
        |  UNION ALL
        |  SELECT user_id, ts, 1, event_id, cents,
        |      NULL, NULL, NULL, NULL
        |    FROM lab),
        |c AS (SELECT user_id, ts, tag, event_id, label_cents,
        |    last_value(n_events IGNORE NULLS) OVER w AS n_events_asof,
        |    last_value(cents_sum IGNORE NULLS) OVER w AS cents_asof,
        |    last_value(typemask IGNORE NULLS) OVER w AS tm_asof,
        |    last_value(last_type IGNORE NULLS) OVER w AS last_type_asof
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts, event_id,
        |  label_cents AS purchase_cents,
        |  n_events_asof::BIGINT AS n_events_asof,
        |  cents_asof::BIGINT AS cents_asof,
        |  bit_count(tm_asof)::BIGINT AS n_types_asof,
        |  last_type_asof
        |FROM c WHERE tag = 1
        |ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bits = when(col("event_type") === "click", 1)
        .when(col("event_type") === "view", 2)
        .when(col("event_type") === "signup", 4)
        .when(col("event_type") === "error", 8).otherwise(16)
      val fh0 = e.where(col("event_type") =!= "purchase")
        .withColumn("bit", bits)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          count(lit(1)).over(w).as("n_events"),
          sum("cents").over(w).as("cents_sum"),
          expr("bit_or(bit)").over(w).as("typemask"))
      val fh = fh0
        .withColumn("dr", row_number().over(
          Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
        .where(col("dr") === 1)
        .select(col("user_id"), col("ts"), col("n_events"),
          col("cents_sum"), col("typemask"),
          col("event_type").as("last_type"))
      val lab = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("cents").as("label_cents"))
      AsOf.joinAsOf(fh, lab, key = "user_id", time = "ts",
          leftValueCols = Seq("n_events", "cents_sum", "typemask",
            "last_type"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("label_cents").as("purchase_cents"),
          col("n_events_asof").cast("long").as("n_events_asof"),
          col("cents_sum_asof").cast("long").as("cents_asof"),
          bit_count(col("typemask_asof")).cast("long").as("n_types_asof"),
          col("last_type_asof"))
        .orderBy("user_id", "ts", "event_id")
    },

    // --------------------------------------------------------------- q214
    "q214_logrank_test" -> QueryDef.sql(
      "Two-sample log-rank test (Mantel-Cox) on signup -> first " +
      "purchase — did the experiment arm change conversion-time " +
      "survival? Completes the survival family: q140 estimates the " +
      "curve, q201 the hazard, this row TESTS arm equality. Arms use " +
      "q110's deterministic user_id % 2 rule so the experiment " +
      "readout and its survival test share one assignment. Per event " +
      "day over the SAME risk-set frame as q140/q201 extended with " +
      "per-arm counts (d1, n1 by the same suffix-sum algebra): " +
      "O-E = d1 - d*n1/n and the hypergeometric variance " +
      "(d*n1/n) * ((n-n1)/n) * ((n-d)/(n-1)), every input an exact " +
      "integer and each term a fixed exactly-rounded tree; the two " +
      "sums fold in ASCENDING day order (q84 rule), z = " +
      "sum(O-E)/sqrt(sum V) (sqrt is correctly rounded by spec; no " +
      "erf/CDF — the libm rule, the z is the deliverable) -> " +
      "hash-exact. Shape at 100 TB: two user-level aggregates, one " +
      "day-grid aggregate with per-arm conditional sums, and every " +
      "pairwise step (suffix-sum join, ordered fold) runs on the " +
      "~tens-of-rows DAY GRID, never users; output is ONE row.",
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY 1),
        |hz AS (SELECT max(ts) AS h FROM events),
        |durs AS (SELECT su.user_id, (su.user_id % 2)::BIGINT AS arm,
        |    CASE WHEN pu.p_ts IS NOT NULL
        |      THEN (epoch_us(pu.p_ts) - epoch_us(su.s_ts)) // 86400000000
        |      ELSE (epoch_us(hz.h) - epoch_us(su.s_ts)) // 86400000000
        |    END AS t_day,
        |    CASE WHEN pu.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN hz),
        |cells AS (SELECT t_day, sum(ev)::BIGINT AS d,
        |    sum(CASE WHEN arm = 1 THEN ev ELSE 0 END)::BIGINT AS d1,
        |    count(*)::BIGINT AS m, sum(arm)::BIGINT AS m1
        |  FROM durs GROUP BY 1),
        |risk AS (SELECT t_day, d, d1,
        |    (SELECT sum(m) FROM cells c2 WHERE c2.t_day >= cells.t_day)
        |      ::BIGINT AS n,
        |    (SELECT sum(m1) FROM cells c2 WHERE c2.t_day >= cells.t_day)
        |      ::BIGINT AS n1
        |  FROM cells),
        |terms AS (SELECT t_day,
        |    d1::DOUBLE - d::DOUBLE * n1::DOUBLE / n::DOUBLE AS oe,
        |    (d::DOUBLE * n1::DOUBLE / n::DOUBLE)
        |      * ((n - n1)::DOUBLE / n::DOUBLE)
        |      * ((n - d)::DOUBLE / (n - 1)::DOUBLE) AS v
        |  FROM risk WHERE d >= 1 AND n > 1),
        |tot AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS users0,
        |    sum(arm)::BIGINT AS users1,
        |    sum(CASE WHEN arm = 0 THEN ev ELSE 0 END)::BIGINT AS d0_total,
        |    sum(CASE WHEN arm = 1 THEN ev ELSE 0 END)::BIGINT AS d1_total
        |  FROM durs),
        |fold AS (SELECT count(*)::BIGINT AS n_event_days,
        |    list_reduce(list_prepend(0.0, list(oe ORDER BY t_day)),
        |      (a, x) -> a + x) AS o_minus_e,
        |    list_reduce(list_prepend(0.0, list(v ORDER BY t_day)),
        |      (a, x) -> a + x) AS var_lr
        |  FROM terms)
        |SELECT tot.users0, tot.users1, tot.d0_total, tot.d1_total,
        |  fold.n_event_days, fold.o_minus_e, fold.var_lr,
        |  fold.o_minus_e / sqrt(fold.var_lr) AS z
        |FROM tot CROSS JOIN fold""".stripMargin) { (s, d) =>
      logRankTest(Tables.events(s, d))
    },

    // --------------------------------------------------------------- q220
    "q220_holt_backtest" -> QueryDef.sql(
      "Holt double-exponential smoothing with a walk-forward one-step " +
      "backtest — the trend-aware forecaster between q98's EWMA (no " +
      "trend) and q171's seasonal-naive (no smoothing): monthly " +
      "revenue in exact cents, level/trend recursion l_t = a*y_t + " +
      "(1-a)*(l_{t-1}+b_{t-1}), b_t = g*(l_t-l_{t-1}) + (1-g)*b_{t-1} " +
      "with a = 0.5, g = 0.3 as LITERAL constants (identical doubles " +
      "in both engines), initialized l = y_1, b = y_2 - y_1. Each " +
      "month's forecast is the fold over its STRICT prefix (walk-" +
      "forward: the model never sees the month it predicts), realized " +
      "via the q140 grid-pair pattern — prefix lists are built by a " +
      "month-grid self-join and folded with a STRUCT accumulator in " +
      "ascending month order, a fixed exactly-rounded tree -> " +
      "hash-exact. Shape at 100 TB: ONE combinable month rollup is " +
      "the only data-proportional pass; the O(T^2) prefix join and " +
      "every fold run on the CALENDAR-BOUNDED month grid (~tens of " +
      "rows at any corpus size).",
      """WITH RECURSIVE grid AS (
        |  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS m,
        |    sum(round(o_totalprice * 100)::BIGINT)::DOUBLE AS y
        |  FROM orders GROUP BY 1),
        |g AS (SELECT m, y, row_number() OVER (ORDER BY m)::BIGINT AS rn
        |  FROM grid),
        |hw AS (
        |  SELECT 2::BIGINT AS rn, g1.y AS l, g2.y - g1.y AS b
        |  FROM g g1, g g2 WHERE g1.rn = 1 AND g2.rn = 2
        |  UNION ALL
        |  SELECT g.rn,
        |    0.5 * g.y + 0.5 * (hw.l + hw.b),
        |    0.3 * ((0.5 * g.y + 0.5 * (hw.l + hw.b)) - hw.l)
        |      + 0.7 * hw.b
        |  FROM hw JOIN g ON g.rn = hw.rn + 1)
        |SELECT t.m AS month, t.y::BIGINT AS y_cents,
        |  (t.rn - 1)::BIGINT AS n_train,
        |  hw.l AS level, hw.b AS trend, hw.l + hw.b AS yhat,
        |  t.y - (hw.l + hw.b) AS err
        |FROM g t JOIN hw ON hw.rn = t.rn - 1
        |WHERE t.rn >= 3 ORDER BY month""".stripMargin) { (s, d) =>
      holtBacktest(Tables.orders(s, d))
    },

    // --------------------------------------------------------------- q221
    "q221_sliding_heavy_hitters" -> QueryDef.sql(
      "Trailing-7-day heavy hitters per day — q96's top-k lifted onto " +
      "q120's sliding calendar window (the operational 'what surged " +
      "this week' view): per day, every event type's trailing-7-day " +
      "count and share, with the top-3 ELECTED by (count desc, type " +
      "asc) total order (the q196 rule). EXACT sliding counts without " +
      "re-scanning events per window: ONE combinable (day, type) " +
      "rollup, then the <= 7x expansion runs on the DAY-GRID x TYPES " +
      "frame (the q120 days-dimension range join — work is 7 x grid " +
      "cells, never 7 x events). Integers + one single-shape division " +
      "-> hash-exact. Shape at 100 TB: the rollup is the only " +
      "data-proportional pass; everything after runs on ~30 x 5 " +
      "grid rows regardless of corpus size.",
      """WITH dt AS (SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    event_type, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM dt),
        |win AS (SELECT d.day, dt.event_type, sum(dt.n)::BIGINT AS n7
        |  FROM days d JOIN dt ON dt.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1, 2),
        |tot AS (SELECT day, sum(n7)::BIGINT AS total7 FROM win
        |  GROUP BY 1),
        |r AS (SELECT day, event_type, n7,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY n7 DESC, event_type)::BIGINT AS rank
        |  FROM win)
        |SELECT r.day, r.rank, r.event_type, r.n7, tot.total7,
        |  r.n7::DOUBLE / tot.total7::DOUBLE AS share7
        |FROM r JOIN tot USING (day)
        |WHERE r.rank <= 3
        |ORDER BY r.day, r.rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dt = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      val days = dt.select("day").distinct()
      val win = days.alias("d")
        .join(dt.alias("t"),
          col("t.day").between(col("d.day") - 6, col("d.day")))
        .groupBy(col("d.day").as("day"), col("t.event_type").as("event_type"))
        .agg(sum("n").cast("long").as("n7"))
      val tot = win.groupBy("day").agg(sum("n7").cast("long").as("total7"))
      win
        .withColumn("rank", row_number().over(Window.partitionBy("day")
          .orderBy(col("n7").desc, col("event_type"))).cast("long"))
        .where(col("rank") <= 3)
        .join(broadcast(tot), Seq("day"))
        .select(col("day"), col("rank"), col("event_type"), col("n7"),
          col("total7"),
          (col("n7").cast("double") / col("total7").cast("double"))
            .as("share7"))
        .orderBy("day", "rank")
    },

    // --------------------------------------------------------------- q257
    "q257_sax_symbols" -> QueryDef.sql(
      "SAX symbolization of the daily revenue series (Lin/Keogh " +
      "2003 — Piecewise Aggregate Approximation + symbolic " +
      "breakpoints, the standard time-series indexing/motif " +
      "alphabet): daily revenue in EXACT integer dollars, 16 " +
      "equal-TIME segments (seg = (day-min)*16 div (range) — pure " +
      "int arithmetic, empty calendar days simply contribute no " +
      "rows), per-segment mean z-scored against the global daily " +
      "mean/population-sigma and mapped onto the 4-symbol alphabet " +
      "at the standard N(0,1) quartile breakpoints (-0.67/0/0.67). " +
      "Determinism: every input to the float stage is an exact " +
      "integer (daily dollars, day counts; the squared-dollars sum " +
      "Q overflows int64 past ~1e9 daily dollars so it accumulates " +
      "in decimal(38,0)/HUGEINT on both engines — the q238 lift, " +
      "CAUGHT at the ~sf1 replication gate where the silent int64 " +
      "wrap would have shipped), and mean/sigma/z are a FIXED " +
      "chain of IEEE ops (the decimal->double conversion is " +
      "round-to-nearest of the same exact integer on both engines) " +
      "(two divisions, one sqrt, one subtract/divide) — identical " +
      "on both engines, so the doubles and the symbol elections " +
      "hash-exact with no rounding. Shape at 100 TB: one " +
      "day-grained rollup (calendar-bounded), broadcast scalars, " +
      "per-segment fold — the q214 day-grid discipline.",
      """WITH d AS (SELECT
        |    datediff('day', DATE '1970-01-01', o_orderdate::DATE)
        |      ::BIGINT AS day,
        |    sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS rev
        |  FROM orders GROUP BY 1),
        |g AS (SELECT min(day)::BIGINT AS mn, max(day)::BIGINT AS mx,
        |    count(*)::BIGINT AS n, sum(rev)::BIGINT AS t,
        |    sum(rev::HUGEINT * rev::HUGEINT) AS q FROM d),
        |z AS (SELECT ((d.day - g.mn) * 16) // (g.mx - g.mn + 1)
        |      AS seg, d.rev, g.n, g.t, g.q FROM d CROSS JOIN g),
        |s AS (SELECT seg, count(*)::BIGINT AS n_days,
        |    sum(rev)::BIGINT AS rev_dollars,
        |    max(n) AS n, max(t) AS t, max(q) AS q
        |  FROM z GROUP BY 1),
        |f AS (SELECT seg::BIGINT AS seg, n_days, rev_dollars,
        |    ((rev_dollars::DOUBLE / n_days::DOUBLE)
        |      - (t::DOUBLE / n::DOUBLE))
        |     / sqrt((q::DOUBLE / n::DOUBLE)
        |       - (t::DOUBLE / n::DOUBLE) * (t::DOUBLE / n::DOUBLE))
        |      AS mean_z
        |  FROM s)
        |SELECT seg, n_days, rev_dollars, mean_z,
        |  CASE WHEN mean_z < -0.67 THEN 'a' WHEN mean_z < 0.0 THEN 'b'
        |    WHEN mean_z < 0.67 THEN 'c' ELSE 'd' END AS symbol
        |FROM f ORDER BY seg""".stripMargin) { (s, d) =>
      saxSymbols(Tables.orders(s, d), segments = 16)
    }
  )

  /** q171's Spark plan: one combinable month rollup (the only
    * data-proportional pass), then a same-month-last-year self-join
    * and integer scoring on the calendar-bounded month frame. The
    * 2e6 sMAPE numerator stays within int64 up to ~4.6e12 cents of
    * monthly |error| (~$46B/month) — beyond that, widen the scoring
    * CTE to decimal(38,0); the rollup itself never overflows. */
  def forecastBacktest(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = orders
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("month").agg(sum("cents").as("cents"))
    val f = m.as("a").join(
      m.select((col("month") + expr("INTERVAL 12 MONTHS")).as("fmonth"),
        col("cents").as("forecast_cents")).as("p"),
      col("a.month") === col("p.fmonth"))
      .select(col("a.month").as("month"),
        col("a.cents").as("actual_cents"), col("forecast_cents"))
    val e = f.select(year(col("month")).as("fc_year"),
      col("actual_cents"), col("forecast_cents"),
      abs(col("actual_cents") - col("forecast_cents")).as("abs_err"))
      .withColumn("smape_micro",
        expr("(2000000 * abs_err) div (actual_cents + forecast_cents)"))
    e.groupBy("fc_year").agg(
      count(lit(1)).as("n_months"),
      sum("actual_cents").as("actual_cents"),
      sum("forecast_cents").as("forecast_cents"),
      sum("abs_err").as("abs_err_cents"),
      expr("(1000000 * sum(abs_err)) div sum(actual_cents)")
        .as("wape_micro"),
      sum("smape_micro").as("smape_sum_micro"))
      .orderBy("fc_year")
  }

  /** q173's Spark plan: one combinable month rollup, then the 2x12
    * centered-MA trend (W13 + W11 window sums — exact 24ths, no
    * fraction), per-month-of-year seasonal index via windowed
    * sum-DIV-count, and residual dispersion. Everything past the
    * rollup runs on the ~80-row month frame. The empty OVER ()
    * partitions are intentional: the frame is calendar-bounded. */
  def seasonalDecomposition(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = orders
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("month").agg(sum("cents").as("cents"))
    val w13 = Window.orderBy("month").rowsBetween(-6, 6)
    val w11 = Window.orderBy("month").rowsBetween(-5, 5)
    val t = m.select(col("month"), col("cents"),
      (sum("cents").over(w13) + sum("cents").over(w11)).as("trend24"),
      count(lit(1)).over(w13).as("wn"))
    val d = t.where(col("wn") === 13)
      .select(month(col("month")).cast("int").as("moy"),
        (lit(24L) * col("cents") - col("trend24")).as("det24"))
    val wMoy = Window.partitionBy("moy")
    val sIdx = d.select(col("moy"), col("det24"),
      sum("det24").over(wMoy).as("sdet"),
      count(lit(1)).over(wMoy).as("ndet"))
      .withColumn("seasonal_24ths", expr("sdet div ndet"))
    sIdx.groupBy("moy").agg(
      count(lit(1)).as("n_obs"),
      max("seasonal_24ths").as("seasonal_24ths"),
      sum(abs(col("det24") - col("seasonal_24ths")))
        .as("resid_abs_sum_24ths"),
      max(abs(col("det24") - col("seasonal_24ths")))
        .as("resid_max_24ths"))
      .orderBy("moy")
  }

  /** q174's Spark plan: one combinable (type, day) rollup, a
    * broadcast of the per-type mean rate, then the prefix-extremum
    * CUSUM identity (up = cs - running min, down = running max - cs)
    * over per-type windows — the recursive max(0, S+dev) form made
    * window-expressible. Argmax days via row_number tie-broken by
    * day. */
  def cusumChangepoint(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dc = events
      .select(col("event_type"), col("ts").cast("date").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val st = dc.groupBy("event_type").agg(
      count(lit(1)).as("n_days"),
      expr("(1000000 * sum(cnt)) div count(1)").as("k_micro"))
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = dc.join(broadcast(st), "event_type")
      .withColumn("cs",
        sum(lit(1000000L) * col("cnt") - col("k_micro")).over(wRun))
    val u = c.select(col("event_type"), col("day"), col("n_days"),
      col("k_micro"),
      (col("cs") - least(lit(0L), min("cs").over(wRun))).as("up"),
      (greatest(lit(0L), max("cs").over(wRun)) - col("cs")).as("down"))
    val r = u
      .withColumn("ru", row_number().over(Window
        .partitionBy("event_type").orderBy(col("up").desc, col("day"))))
      .withColumn("rd", row_number().over(Window
        .partitionBy("event_type").orderBy(col("down").desc, col("day"))))
    r.groupBy("event_type").agg(
      max("n_days").as("n_days"), max("k_micro").as("k_micro"),
      max(when(col("ru") === 1, col("up"))).as("max_up_micro"),
      max(when(col("ru") === 1, col("day"))).as("up_day"),
      max(when(col("rd") === 1, col("down"))).as("max_down_micro"),
      max(when(col("rd") === 1, col("day"))).as("down_day"))
      .orderBy("event_type")
  }

  /** q175's Spark plan: one combinable day rollup, a 1-row (n, Sx)
    * broadcast, exact integer centering c = n*x - Sx in
    * decimal(38,0), then a calendar-day self-join against a 7-row
    * lag spine (broadcast) — robust to spine gaps, unlike a row
    * lag. One IEEE division per lag at the very end. */
  def autocorrelation(orders: org.apache.spark.sql.DataFrame,
      maxLag: Int): org.apache.spark.sql.DataFrame = {
    val d38 = "decimal(38,0)"
    val dm = orders
      .select(col("o_orderdate").cast("date").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    val st = dm.agg(count(lit(1)).cast(d38).as("n"),
      sum("x").cast(d38).as("sx"))
    val cen = dm.crossJoin(broadcast(st))
      .select(col("day"),
        (col("n") * col("x") - col("sx")).cast(d38).as("c"))
    val den = cen.agg(sum(col("c") * col("c")).cast(d38).as("den"))
    val spark = orders.sparkSession
    val lg = spark.range(1, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val a = cen.select(col("day").as("aday"), col("c").as("ac"))
    val b = cen.select(col("day").as("bday"), col("c").as("bc"))
    val num = a.crossJoin(broadcast(lg))
      .join(b, expr("bday = date_add(aday, lag)"))
      .groupBy("lag").agg(count(lit(1)).as("n_pairs"),
        sum(col("ac") * col("bc")).cast(d38).as("numd"))
    num.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        col("numd").cast("long").as("num"),
        col("den").cast("long").as("den"),
        (col("numd").cast("double") / col("den").cast("double"))
          .as("acf"))
      .orderBy("lag")
  }

  /** Oracle for q172, generated from the same coalition enumeration
    * the Spark side executes: per-converter pre-conversion channel
    * bitmask (bit_or over CASE bits), one FILTERed count per coalition
    * S (v(S) = converters with mask & ~S = 0), then the unrolled
    * factorial-weighted Shapley sum per channel. Every CTE is AS
    * MATERIALIZED for the same reason as q170's oracle. */
  private lazy val shapleyAttributionSql: String = {
    val chs = attrChannels.sorted
    val n = chs.length
    val full = (1 << n) - 1
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val caseBits = chs.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1 << i}" }.mkString(" ")
    val inList = chs.map(c => s"'$c'").mkString(", ")
    val vCols = (0 to full).map { s =>
      s"count(*) FILTER (WHERE (mask & ${full ^ s}) = 0)::BIGINT AS v$s"
    }.mkString(",\n    ")
    val finals = chs.zipWithIndex.map { case (c, i) =>
      val b = 1 << i
      val terms = (0 to full).filter(s => (s & b) == 0).map { s =>
        val k = Integer.bitCount(s)
        s"${fact(k) * fact(n - 1 - k)}*(v${s | b} - v$s)"
      }.mkString(" + ")
      s"SELECT '$c' AS channel, ($terms)::BIGINT AS shapley_nfact_u,\n" +
        s"  (v$full - v${full ^ b})::BIGINT AS grand_marginal,\n" +
        s"  v$full AS n_conv FROM vs"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |cv AS MATERIALIZED (SELECT user_id, min(rn) AS crn FROM e
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |tm AS MATERIALIZED (SELECT e.user_id,
       |    bit_or(CASE e.event_type $caseBits END) AS mask
       |  FROM e JOIN cv USING (user_id)
       |  WHERE e.rn < cv.crn AND e.event_type IN ($inList)
       |  GROUP BY e.user_id),
       |um AS MATERIALIZED (SELECT coalesce(tm.mask, 0) AS mask
       |  FROM cv LEFT JOIN tm USING (user_id)),
       |vs AS MATERIALIZED (SELECT
       |    $vCols
       |  FROM um)
       |SELECT channel, shapley_nfact_u, grand_marginal, n_conv
       |FROM ($finals)
       |ORDER BY channel""".stripMargin
  }

  /** q172's Spark plan: distributed mask extraction (journey
    * truncation + per-user bit_or + a 2^n-bucket count, all
    * combinable user_id shuffles), then the subset-sum zeta transform
    * and factorial-weighted Shapley sum on the COLLECTED 2^n-row
    * coalition table — dimension-sized by construction (the q57/q170
    * bounded-collect contract). Output units are 1/n! (24ths for the
    * catalog's 4 channels), so every column is an exact integer. */
  def shapleyAttribution(events: org.apache.spark.sql.DataFrame,
      channels: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chs = channels.sorted
    val n = chs.length
    require(n <= 8, s"2^n coalition enumeration needs small n, got $n")
    val full = (1 << n) - 1
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val e = events.select(col("user_id"), col("event_type"),
      row_number().over(w).as("rn"))
    val cv = e.where(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("crn"))
    val caseBits = chs.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1 << i}" }.mkString(" ")
    val tm = e.join(cv, Seq("user_id"))
      .where(col("rn") < col("crn") && col("event_type").isin(chs: _*))
      .select(col("user_id"),
        expr(s"CASE event_type $caseBits END").as("bit"))
      .groupBy("user_id").agg(expr("bit_or(bit)").as("mask"))
    val um = cv.select("user_id").join(tm, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0)).as("mask"))
    // bounded collect: at most 2^n coalition-mask buckets by construction
    val cnt = um.groupBy("mask").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1))
      .toMap.withDefaultValue(0L)
    val v = (0 to full).map { s =>
      (0 to full).filter(m => (m & ~s & full) == 0).map(cnt).sum
    }
    val rows = chs.zipWithIndex.map { case (c, i) =>
      val b = 1 << i
      val phi = (0 to full).filter(s => (s & b) == 0).map { s =>
        val k = Integer.bitCount(s)
        fact(k) * fact(n - 1 - k) * (v(s | b) - v(s))
      }.sum
      (c, phi, v(full) - v(full ^ b), v(full))
    }
    val spark = events.sparkSession
    import spark.implicits._
    rows.toDF("channel", "shapley_nfact_u", "grand_marginal", "n_conv")
      .orderBy("channel")
  }

  /** Attribution channels, shared by the Spark plan and the generated
    * oracle (events.event_type minus the 'purchase' conversion).
    * Lazy: referenced from [[markovAttributionSql]] during `defs`
    * initialization, which runs before this later field would be
    * assigned in declaration order. */
  private lazy val attrChannels = Seq("click", "error", "signup", "view")

  /** Oracle for q170: the journey/transition CTEs (mirroring q105's
    * lag shape) + the UNROLLED 12-round integer fixed-point solve,
    * one CTE chain per scenario (base + one per removed channel),
    * generated by the same loop structure the Spark side executes. */
  private lazy val markovAttributionSql: String = {
    val S = "1000000000000"
    // Every CTE is AS MATERIALIZED: DuckDB's default may INLINE a CTE
    // into each of its references, and `c`/`t`/`states` are referenced
    // by all 60 unrolled solve steps — inlining re-evaluates the heavy
    // events-window pipeline per step (observed: >80 GB of temp spill
    // at the ~sf1 gate). Materialized, the pipeline runs once and the
    // solve steps join <=7-row tables.
    def solve(scen: String, removed: Option[String], iters: Int): String = {
      val init =
        s"""p0_$scen AS MATERIALIZED (SELECT st, CASE WHEN st = 'CONV'
           |    THEN $S::BIGINT ELSE 0::BIGINT END AS pu FROM states)""".stripMargin
      val steps = (1 to iters).map { k =>
        val rm = removed
          .map(r => s"WHEN st.st = '$r' THEN 0::BIGINT\n        |         ")
          .getOrElse("")
        s"""p${k}_$scen AS MATERIALIZED (SELECT st.st AS st,
           |    CASE WHEN st.st = 'CONV' THEN $S::BIGINT
           |         WHEN st.st = 'NULLSTATE' THEN 0::BIGINT
           |         ${rm}ELSE coalesce(m.v, 0::BIGINT) END AS pu
           |  FROM states st LEFT JOIN (
           |    SELECT c.prev AS st,
           |      (sum(c.cnt * p.pu) // max(t.total))::BIGINT AS v
           |    FROM c JOIN p${k - 1}_$scen p ON c.curr = p.st
           |      JOIN t ON t.prev = c.prev
           |    GROUP BY c.prev) m ON st.st = m.st)""".stripMargin
      }
      (init +: steps).mkString(",\n")
    }
    val scens = ("base", None) +: attrChannels.map(c => (c, Some(c)))
    val solves = scens.map { case (n, r) => solve(n, r, 12) }.mkString(",\n")
    val finals = attrChannels.map { ch =>
      s"""SELECT '$ch' AS channel,
         |  (SELECT pu FROM p12_base WHERE st = 'START')::BIGINT AS p_base_u,
         |  (SELECT pu FROM p12_$ch WHERE st = 'START')::BIGINT
         |    AS p_removed_u""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |cv AS MATERIALIZED (SELECT user_id, min(rn) AS crn FROM e
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |j AS MATERIALIZED (SELECT e.user_id,
       |    CASE WHEN e.event_type = 'purchase' THEN 'CONV'
       |         ELSE e.event_type END AS st, e.rn
       |  FROM e LEFT JOIN cv USING (user_id)
       |  WHERE cv.crn IS NULL OR e.rn <= cv.crn),
       |s0 AS MATERIALIZED (SELECT DISTINCT user_id, 'START' AS st,
       |  0 AS rn FROM e),
       |tend AS MATERIALIZED (SELECT j.user_id, 'NULLSTATE' AS st,
       |    max(j.rn) + 1 AS rn
       |  FROM j LEFT JOIN cv USING (user_id)
       |  WHERE cv.crn IS NULL GROUP BY j.user_id),
       |fl AS MATERIALIZED (SELECT * FROM j UNION ALL SELECT * FROM s0
       |  UNION ALL SELECT * FROM tend),
       |tr AS MATERIALIZED (SELECT user_id,
       |    lag(st) OVER (PARTITION BY user_id ORDER BY rn) AS prev,
       |    st AS curr FROM fl),
       |c AS MATERIALIZED (SELECT prev, curr, count(*)::BIGINT AS cnt
       |  FROM tr
       |  WHERE prev IS NOT NULL AND prev <> 'CONV'
       |    AND prev <> 'NULLSTATE'
       |  GROUP BY 1, 2),
       |t AS MATERIALIZED (SELECT prev, sum(cnt)::BIGINT AS total
       |  FROM c GROUP BY 1),
       |states AS MATERIALIZED (SELECT DISTINCT prev AS st FROM c
       |  UNION SELECT DISTINCT curr FROM c),
       |$solves
       |SELECT channel, p_base_u, p_removed_u,
       |  (p_base_u - p_removed_u)::BIGINT AS effect_u
       |FROM ($finals)
       |ORDER BY channel""".stripMargin
  }

  /** q170's Spark plan: distributed journey/transition extraction
    * (q105's lag shape), then the 12-round integer fixed-point
    * absorbing-chain solve on the COLLECTED transition matrix —
    * bounded by |states|^2 <= (|channels|+3)^2 BY CONSTRUCTION (the
    * matrix is dimension-sized, the q57-centroid collect contract) —
    * and the per-channel knockout effects returned as a literal
    * 4-row frame. */
  def markovAttribution(events: org.apache.spark.sql.DataFrame,
      channels: Seq[String], iters: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = 1000000000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val e = events.select(col("user_id"), col("event_type"),
      row_number().over(w).as("rn"))
    val cv = e.where(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("crn"))
    val j = e.join(cv, Seq("user_id"), "left")
      .where(col("crn").isNull || col("rn") <= col("crn"))
      .select(col("user_id"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("st"), col("rn"))
    val s0 = e.select("user_id").distinct()
      .select(col("user_id"), lit("START").as("st"), lit(0).as("rn"))
    val tend = j.join(cv, Seq("user_id"), "left").where(col("crn").isNull)
      .groupBy("user_id").agg((max("rn") + 1).as("rn"))
      .select(col("user_id"), lit("NULLSTATE").as("st"), col("rn"))
    val fl = j.unionByName(s0).unionByName(tend)
    val wT = Window.partitionBy("user_id").orderBy("rn")
    val tr = fl.select(col("user_id"),
      lag(col("st"), 1).over(wT).as("prev"), col("st").as("curr"))
    val cnts = tr
      .where(col("prev").isNotNull && col("prev") =!= "CONV" &&
        col("prev") =!= "NULLSTATE")
      .groupBy("prev", "curr").agg(count(lit(1)).as("cnt"))
      // bounded collect: at most (|channels|+3)^2 rows by construction
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tot = cnts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val states = (cnts.map(_._1) ++ cnts.map(_._2)).distinct.sorted
    def solveFrom(removed: Option[String]): Long = {
      var p = states.map(s =>
        s -> (if (s == "CONV") S else 0L)).toMap
      (1 to iters).foreach { _ =>
        val next = states.map { s =>
          val v =
            if (s == "CONV") S
            else if (s == "NULLSTATE") 0L
            else if (removed.contains(s)) 0L
            else {
              val out = cnts.filter(_._1 == s)
              if (out.isEmpty) 0L
              else out.map { case (_, t, c) => c * p(t) }.sum / tot(s)
            }
          s -> v
        }.toMap
        p = next
      }
      p.getOrElse("START", 0L)
    }
    val base = solveFrom(None)
    val rows = channels.sorted.map { ch =>
      val rm = solveFrom(Some(ch))
      (ch, base, rm, base - rm)
    }
    val spark = events.sparkSession
    import spark.implicits._
    rows.toDF("channel", "p_base_u", "p_removed_u", "effect_u")
      .orderBy("channel")
  }

  /** The q147 out-of-orderness audit over an arbitrary events frame:
    * disorder = running-max event time (in arrival order) minus own
    * event time; per type, the max and the would-be-late fraction at
    * the candidate watermark. */
  def disorderAudit(events: org.apache.spark.sql.DataFrame,
      watermarkSec: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("disorder_us", max("us").over(w) - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("max(disorder_us) div 1000000").as("max_disorder_sec"),
        sum(when(col("disorder_us") > watermarkSec * 1000000L, 1L)
          .otherwise(0L)).cast("long").as("n_late"))
      .select(col("event_type"), col("n"), col("max_disorder_sec"),
        col("n_late"),
        (col("n_late").cast("double") / col("n").cast("double"))
          .as("late_frac"))
      .orderBy("event_type")
  }

  /** The q146 golden-record operator over an arbitrary events frame. */
  def goldenRecord(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("last_type", last("event_type").over(w))
      .withColumn("last_event_id", last("event_id").over(w))
      .groupBy("user_id")
      .agg(min("ts").as("first_seen"), max("ts").as("last_seen"),
        count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"),
        sum("cents").cast("long").as("value_cents"),
        max("last_type").as("last_type"),
        max("last_event_id").as("last_event_id"))
      .orderBy("user_id")
  }

  /** The signup->first-purchase risk-set frame shared by q140
    * (Kaplan-Meier) and q201 (Nelson-Aalen): per event/censor day
    * `t_day`, events `d`, censorings `c`, and the at-risk count `n`
    * computed by suffix-sum algebra over the (small) day grid. */
  private[operators] def survivalRisk(
      events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val su = events.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = events.where(col("event_type") === "purchase")
      .join(su, "user_id")
      .where(col("ts") >= col("s_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val hz = broadcast(events.agg(max("ts").as("h")))
    val durs = su.join(pu, Seq("user_id"), "left").crossJoin(hz)
      .select(
        when(col("p_ts").isNotNull,
          expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 86400000000"))
          .otherwise(
            expr("(unix_micros(h) - unix_micros(s_ts)) div 86400000000"))
          .as("t_day"),
        when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
    val cells = durs.groupBy("t_day")
      .agg(sum("ev").cast("long").as("d"),
        sum(lit(1L) - col("ev")).cast("long").as("c"),
        count(lit(1)).as("m"))
      // the suffix-sum join reads the day grid on BOTH sides: without
      // materialization the signup/purchase aggregates + join ran twice
      // per side, and the q140/q201 risk-set self-joins doubled it
      // again (the r16 multi-consumer pattern); the frame is ~tens of
      // day rows
      .localCheckpoint()
    // risk set by suffix-sum algebra over the (small) day grid
    cells.alias("a")
      .join(cells.alias("b"), col("b.t_day") >= col("a.t_day"))
      .groupBy(col("a.t_day").as("t_day"), col("a.d").as("d"),
        col("a.c").as("c"))
      .agg(sum(col("b.m")).cast("long").as("n"))
      // both q140 and q201 read this frame on both sides of their
      // ordered-fold self-join
      .localCheckpoint()
  }

  /** The q140 Kaplan-Meier operator over an arbitrary events frame —
    * see the catalog doc for the ordered-product parity contract. */
  def kaplanMeier(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val risk = survivalRisk(events)
    risk.alias("r").join(risk.alias("u"), col("u.t_day") <= col("r.t_day"))
      .groupBy(col("r.t_day").as("t_day"), col("r.n").as("n_risk"),
        col("r.d").as("n_event"), col("r.c").as("n_censor"))
      .agg(sort_array(collect_list(struct(col("u.t_day").as("td"),
        (lit(1.0) - col("u.d").cast("double") / col("u.n").cast("double"))
          .as("f")))).as("fs"))
      .select(col("t_day"), col("n_risk"), col("n_event"), col("n_censor"),
        aggregate(expr("transform(fs, s -> s.f)"), lit(1.0),
          (a, x) => a * x).as("survival"))
      .orderBy("t_day")
  }

  /** The q201 Nelson-Aalen operator: cumulative hazard H(t) =
    * sum_{u<=t} d_u/n_u and its Poisson variance sum_{u<=t} d_u/n_u^2,
    * both folded in ASCENDING day order over [[survivalRisk]] (the q84
    * ordered-fold rule — addition this time). d/n^2 is computed as
    * (d/n)/n, two sequential exactly-rounded divisions, so n*n never
    * overflows at any population scale. */
  def nelsonAalen(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val risk = survivalRisk(events)
    risk.alias("r").join(risk.alias("u"), col("u.t_day") <= col("r.t_day"))
      .groupBy(col("r.t_day").as("t_day"), col("r.n").as("n_risk"),
        col("r.d").as("n_event"), col("r.c").as("n_censor"))
      .agg(sort_array(collect_list(struct(col("u.t_day").as("td"),
        (col("u.d").cast("double") / col("u.n").cast("double")).as("h"),
        ((col("u.d").cast("double") / col("u.n").cast("double"))
          / col("u.n").cast("double")).as("v")))).as("fs"))
      .select(col("t_day"), col("n_risk"), col("n_event"), col("n_censor"),
        aggregate(expr("transform(fs, s -> s.h)"), lit(0.0),
          (a, x) => a + x).as("cum_hazard"),
        aggregate(expr("transform(fs, s -> s.v)"), lit(0.0),
          (a, x) => a + x).as("na_variance"))
      .orderBy("t_day")
  }

  /** The q214 two-sample log-rank (Mantel-Cox) operator: the
    * signup->first-purchase duration frame split into arms by q110's
    * user_id % 2 rule, per-arm risk sets by the same suffix-sum
    * algebra as [[survivalRisk]], O-E and hypergeometric-variance
    * terms per event day, and both sums folded in ascending day order
    * (the q84 rule). Output is a single row; every pairwise step runs
    * on the day grid, never on users. */
  def logRankTest(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val D = "double"
    val su = events.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = events.where(col("event_type") === "purchase")
      .join(su, "user_id")
      .where(col("ts") >= col("s_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val hz = broadcast(events.agg(max("ts").as("h")))
    val durs = su.join(pu, Seq("user_id"), "left").crossJoin(hz)
      .select(
        expr("user_id % 2").cast("long").as("arm"),
        when(col("p_ts").isNotNull,
          expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 86400000000"))
          .otherwise(
            expr("(unix_micros(h) - unix_micros(s_ts)) div 86400000000"))
          .as("t_day"),
        when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
      // consumed by the day-grid aggregate AND the per-arm totals:
      // un-materialized, the signup/purchase aggregates + join ran
      // twice (the r16 multi-consumer pattern); the frame is 3 longs
      // per signup user
      .localCheckpoint()
    val cells = durs.groupBy("t_day")
      .agg(sum("ev").cast("long").as("d"),
        sum(when(col("arm") === 1L, col("ev")).otherwise(0L))
          .cast("long").as("d1"),
        count(lit(1)).as("m"),
        sum("arm").cast("long").as("m1"))
      // the suffix-sum join reads this day-grid frame on BOTH sides
      .localCheckpoint()
    val risk = cells.alias("a")
      .join(cells.alias("b"), col("b.t_day") >= col("a.t_day"))
      .groupBy(col("a.t_day").as("t_day"), col("a.d").as("d"),
        col("a.d1").as("d1"))
      .agg(sum(col("b.m")).cast("long").as("n"),
        sum(col("b.m1")).cast("long").as("n1"))
    val terms = risk.where(col("d") >= 1L && col("n") > 1L)
      .select(col("t_day"),
        (col("d1").cast(D)
          - col("d").cast(D) * col("n1").cast(D) / col("n").cast(D))
          .as("oe"),
        ((col("d").cast(D) * col("n1").cast(D) / col("n").cast(D))
          * ((col("n") - col("n1")).cast(D) / col("n").cast(D))
          * ((col("n") - col("d")).cast(D)
            / (col("n") - lit(1L)).cast(D))).as("v"))
    val tot = durs.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L))
        .cast("long").as("users0"),
      sum("arm").cast("long").as("users1"),
      sum(when(col("arm") === 0L, col("ev")).otherwise(0L))
        .cast("long").as("d0_total"),
      sum(when(col("arm") === 1L, col("ev")).otherwise(0L))
        .cast("long").as("d1_total"))
    val fold = terms
      .agg(count(lit(1)).as("n_event_days"),
        sort_array(collect_list(struct(col("t_day").as("td"),
          col("oe").as("oe"), col("v").as("v")))).as("fs"))
      .select(col("n_event_days"),
        aggregate(expr("transform(fs, s -> s.oe)"), lit(0.0),
          (a, x) => a + x).as("o_minus_e"),
        aggregate(expr("transform(fs, s -> s.v)"), lit(0.0),
          (a, x) => a + x).as("var_lr"))
    broadcast(tot).crossJoin(broadcast(fold))
      .select(col("users0"), col("users1"), col("d0_total"),
        col("d1_total"), col("n_event_days"), col("o_minus_e"),
        col("var_lr"),
        (col("o_minus_e") / sqrt(col("var_lr"))).as("z"))
  }

  /** The q220 Holt walk-forward backtest: month rollup, grid-pair
    * prefix lists, struct-accumulator fold in ascending month order
    * (alpha = 0.5, gamma = 0.3 literals — see the catalog doc for the
    * parity contract). */
  def holtBacktest(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    holtFold(monthGrid(orders))

  /** q220's month rollup — the SAME fold in batch and streaming (the
    * streamed grid is a Complete-mode aggregation; sums commute). */
  def monthGrid(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    orders
      .select(date_trunc("month", col("o_orderdate")).as("m"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .groupBy("m").agg(sum("cents").cast("double").as("y"))

  /** q220's walk-forward Holt fold over a (m, y) grid — the read-back
    * a forecast monitor applies to the stored month cells. */
  def holtFold(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pre = grid.alias("r").join(grid.alias("u"), col("u.m") < col("r.m"))
      .groupBy(col("r.m").as("m"), col("r.y").as("y"))
      .agg(expr("transform(sort_array(collect_list(struct(u.m, u.y))), " +
        "s -> s.y)").as("p"))
    pre.where(size(col("p")) >= 2)
      .withColumn("st", expr(
        "aggregate(slice(p, 3, size(p)), " +
          "named_struct('l', p[0], 'b', p[1] - p[0]), " +
          "(acc, x) -> named_struct(" +
          "'l', 0.5d * x + 0.5d * (acc.l + acc.b), " +
          "'b', 0.3d * ((0.5d * x + 0.5d * (acc.l + acc.b)) - acc.l) " +
          "+ 0.7d * acc.b))"))
      .select(col("m").as("month"), col("y").cast("long").as("y_cents"),
        size(col("p")).cast("long").as("n_train"),
        col("st.l").as("level"), col("st.b").as("trend"),
        (col("st.l") + col("st.b")).as("yhat"),
        (col("y") - (col("st.l") + col("st.b"))).as("err"))
      .orderBy("month")
  }

  /** The q130 linear multi-touch attribution operator: every touch in
    * the window shares the purchase's credit equally, emitted per
    * (purchase, channel) with exact integer counts and ONE division —
    * per-row, so no float accumulation order exists to diverge. */
  def linearAttribution(events: org.apache.spark.sql.DataFrame,
      windowSec: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val touches = events
      .where(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_type").as("touch_type"))
    val purch = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val j = purch.join(touches,
        col("t_user") === col("user_id") && col("t_ts") <= col("ts") &&
          unix_micros(col("ts")) - unix_micros(col("t_ts"))
            <= windowSec * 1000000L)
      .groupBy("event_id", "touch_type").agg(count(lit(1)).as("c"))
    j.withColumn("n",
        sum("c").over(Window.partitionBy("event_id")).cast("long"))
      .select(col("event_id"), col("touch_type"), col("c"), col("n"),
        (col("c").cast("double") / col("n").cast("double")).as("credit"))
      .orderBy("event_id", "touch_type")
  }

  /** The q129 last-touch attribution operator over an arbitrary events
    * frame (event_id, ts, user_id, event_type) — see the catalog doc for
    * the determinism and scale contracts. */
  def lastTouchAttribution(events: org.apache.spark.sql.DataFrame,
      windowSec: Long): org.apache.spark.sql.DataFrame = {
    val touches = events
      .where(col("event_type").isin("click", "view"))
      .groupBy("user_id", "ts")
      .agg(max_by(col("event_type"), col("event_id")).as("tt"),
        max("event_id").as("tid"))
      .withColumn("tts", col("ts"))
    val purch = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val gapUs = unix_micros(col("ts")) - unix_micros(col("tts_asof"))
    val within = col("tts_asof").isNotNull && gapUs <= windowSec * 1000000L
    AsOf.joinAsOf(touches, purch, key = "user_id", time = "ts",
        leftValueCols = Seq("tt", "tid", "tts"),
        rightCols = Some(Seq("event_id")))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(within, col("tt_asof")).as("touch_type"),
        when(within, col("tid_asof")).as("touch_id"),
        // integer div, not float /: the q103/q104 epoch-floor parity rule
        when(within,
          expr("(unix_micros(ts) - unix_micros(tts_asof)) div 1000000"))
          .as("gap_sec"))
      .orderBy("event_id")
  }

  /** The q118 trigram pattern miner over an arbitrary
    * (user_id, ts, event_id, event_type) frame — shared with
    * TemporalPropertiesSpec. */
  def sequencePatterns(events: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = events
      .withColumn("p1", lag("event_type", 1).over(w))
      .withColumn("p2", lag("event_type", 2).over(w))
      .where(col("p2").isNotNull)
      .groupBy(col("p2").as("e1"), col("p1").as("e2"),
        col("event_type").as("e3"))
      .agg(count(lit(1)).as("cnt"))
    val tot = broadcast(tri.agg(sum("cnt").as("total")))
    tri.crossJoin(tot)
      .select(col("e1"), col("e2"), col("e3"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3")))
        .cast("long"))
      .where(col("rank") <= k)
      .orderBy("rank")
  }

  /** The q120 DAU/WAU/stickiness triple over an arbitrary
    * (user_id, ts) frame — shared with TemporalPropertiesSpec. */
  def rollingActiveUsers(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ud = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .distinct()
    val days = ud.select("day").distinct()
    val win = days.select(col("day"))
      .join(ud.select(col("user_id"), col("day").as("uday")),
        col("uday").between(col("day") - 6, col("day")))
    val wau = win.groupBy("day")
      .agg(count_distinct(col("user_id")).as("wau"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    days.join(dau, "day").join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  /** The q117 first-occurrence + day-prefix cumulative-distinct over an
    * arbitrary (user_id, ts) frame — shared with
    * TemporalPropertiesSpec. */
  def cumulativeUniques(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val day = expr("cast(ts as long) div 86400")
    val f = events.groupBy("user_id").agg(min(day).as("first_day"))
    val days = events.select(day.as("day")).distinct()
    val nw = f.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(nw, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
      .orderBy("day")
  }

  /** The q114 conversion-latency profile over an arbitrary
    * (user_id, ts, event_id, event_type) frame — shared with
    * TemporalPropertiesSpec. */
  def conversionLatency(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val es = col("ts").cast("long")
    val v = events.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(es).as("t_view"))
    val c = events.where(col("event_type") === "click")
      .join(v, "user_id").where(es > col("t_view"))
      .groupBy("user_id").agg(min(es).as("t_click"))
    val p = events.where(col("event_type") === "purchase")
      .join(c, "user_id").where(es > col("t_click"))
      .groupBy("user_id").agg(min(es).as("t_purchase"))
    val gaps = v.join(c, "user_id")
      .select(lit("view_to_click").as("stage"), col("user_id"),
        (col("t_click") - col("t_view")).as("gap_sec"))
      .unionByName(c.join(p, "user_id")
        .select(lit("click_to_purchase").as("stage"), col("user_id"),
          (col("t_purchase") - col("t_click")).as("gap_sec")))
    val wRank = Window.partitionBy("stage").orderBy("gap_sec", "user_id")
    val rk = gaps
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("stage")))
      .where(col("rn") === expr("(9 * n + 9) div 10"))
      .select(col("stage"), col("gap_sec").as("p90_sec"))
    val agg = gaps.groupBy("stage").agg(count(lit(1)).as("n"),
      expr("percentile(gap_sec, 0.5)").as("p50_sec"),
      min("gap_sec").as("min_sec"), max("gap_sec").as("max_sec"))
    agg.join(rk, "stage")
      .select("stage", "n", "p50_sec", "p90_sec", "min_sec", "max_sec")
      .orderBy("stage")
  }

  /** The q112 trailing-window audit over an arbitrary
    * (user_id, event_id, ts) frame — shared with
    * TemporalPropertiesSpec. */
  def rateLimitAudit(events: org.apache.spark.sql.DataFrame,
      windowSec: Long, maxEvents: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-windowSec, Window.currentRow)
    events
      .withColumn("n_24h", count(lit(1)).over(w))
      .where(col("n_24h") > maxEvents)
      .select("user_id", "event_id", "ts", "n_24h")
      .orderBy("user_id", "event_id")
  }

  /** The q109 sweep-line over an arbitrary (user_id, ts, event_id)
    * frame — composes [[sessionize]]; the running sum is the two-level
    * day-sharded prefix (see the catalog doc). Shared with
    * TemporalPropertiesSpec. */
  def concurrencyProfile(events: org.apache.spark.sql.DataFrame,
      gapSec: Long): org.apache.spark.sql.DataFrame = {
    val sess = sessionize(events, gapSec)
    val deltas = sess
      .select(col("start_ts").cast("long").as("es"), lit(1L).as("delta"))
      .unionByName(sess.select((col("end_ts").cast("long") + 1).as("es"),
        lit(-1L).as("delta")))
    val bysec = deltas.groupBy("es").agg(sum("delta").as("delta"))
      .withColumn("day", expr("es div 86400"))
      // feeds the in-day window AND the day-offset broadcast; without
      // materialization the broadcast re-ran the whole sessionize
      // chain as a concurrent job (the q95/q211/q234 r16 pattern)
      .localCheckpoint()
    val wDay = Window.partitionBy("day").orderBy("es")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = bysec.withColumn("pfx", sum("delta").over(wDay))
    // one row per day: the cross-day carry is a window over days only
    val wDays = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bysec.groupBy("day").agg(sum("delta").as("dtot"))
      .withColumn("off", coalesce(sum("dtot").over(wDays), lit(0L)))
      .select("day", "off")
    within.join(broadcast(offsets), "day")
      .select(col("es"), col("delta"),
        (col("off") + col("pfx")).as("concurrency"))
      .orderBy("es")
  }

  /** The q111 dyadic decayed-activity score over an arbitrary
    * (user_id, ts) frame — shared with TemporalPropertiesSpec. */
  def decayedActivity(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val maxDay = broadcast(events
      .agg(max(expr("cast(ts as long) div 86400")).as("maxday")))
    val cast = events.select(col("user_id"),
      expr("cast(ts as long) div 86400").as("day"))
    val s = cast.crossJoin(maxDay)
      .select(col("user_id"),
        least(col("maxday") - col("day"), lit(50L)).as("age"))
      .select(col("user_id"),
        expr("shiftleft(1L, cast(50 - age as int))").as("w"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("w").as("units"))
      // lazy checkpoint: RangeRank's two side passes + the rank window
      // scan the materialized per-user frame once each instead of
      // re-running the events rollup three times (the frame is exactly
      // what a single-partition window would have shuffled anyway)
      .localCheckpoint(false)
    // the rank orders the USER dimension, which grows with the corpus
    // — so it runs as RangeRank (per-bucket windows + broadcast
    // offsets, no single-partition exchange; WindowAuditSpec pins it)
    graft.functions.RangeRank
      .withRowNumber(s, "units", "user_id", "rank", desc = true)
      .select(col("user_id"), col("n_events"), col("units"),
        (col("units").cast("double")
          / lit(1L << 50).cast("double")).as("decayed"),
        col("rank"))
      .orderBy("rank")
  }

  /** The q103 sessionizer over an arbitrary (user_id, ts, event_id)
    * frame — shared by the catalog entry and TemporalPropertiesSpec. */
  def sessionize(events: org.apache.spark.sql.DataFrame, gapSec: Long)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull
          || col("ts").cast("long") - col("prev_ts").cast("long") > gapSec, 1)
          .otherwise(0))
      .withColumn("session_n", sum("new_s").over(wRun).cast("long"))
      .groupBy("user_id", "session_n")
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"),
        count(lit(1)).as("n_events"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long")))
          .as("duration_sec"))
      .orderBy("user_id", "session_n")
  }

  /** The q104 exact-integer OLS trend over an arbitrary
    * (event_type, ts, value) frame; 128-bit closed form — see the
    * catalog doc. Shared with TemporalPropertiesSpec. */
  def trendOls(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val wMin = Window.partitionBy("event_type")
    val b = events.select(col("event_type"),
      (col("ts").cast("long")
        - min(col("ts").cast("long")).over(wMin)).as("x"),
      round(col("value") * 100, 0).cast("long").as("y"))
    // Products and sums accumulate IN decimal(38,0), not int64: sxx/sxy
    // on long columns silently wrap past 9.2e18 (x ~ 1e7-second spans x
    // large groups), while the oracle sums in HUGEINT — the 128-bit
    // claim must hold on both sides.
    val xd = col("x").cast(dec)
    val yd = col("y").cast(dec)
    val s = b.groupBy("event_type").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum(xd * yd).as("sxy"),
      sum(xd * xd).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    s.select(col("event_type"), col("n").cast("long").as("n"),
      slope.as("slope_cents_per_sec"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double")).as("intercept_cents"))
      .orderBy("event_type")
  }

  /** The q105 Markov transition matrix over an arbitrary
    * (user_id, ts, event_id, event_type) frame — shared with
    * TemporalPropertiesSpec. */
  def markovTransitions(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val c = events
      .withColumn("prev", lag("event_type", 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("curr"))
      .agg(count(lit(1)).as("cnt"))
    val t = c.groupBy("prev").agg(sum("cnt").as("total"))
    c.join(broadcast(t), "prev")
      .select(col("prev"), col("curr"), col("cnt"), col("total"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
      .orderBy("prev", "curr")
  }

  /** The q98 EWMA operator over an arbitrary (user_id, ts, event_id,
    * value) frame — shared by the catalog entry and
    * TemporalPropertiesSpec. Zero-initialized recurrence folded in
    * (ts, event_id) order; see the catalog doc for the parity contract. */
  def ewmaSmoothing(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("value").as("v")))),
          lit(0.0),
          (acc, e) => acc * lit(0.75) + e.getField("v") * lit(0.25))
          .as("ewma"))
      .orderBy("user_id")

  /** The q86 funnel operator over an arbitrary (user_id, ts, event_type)
    * frame — shared by the catalog entry and FunnelCohortSpec. */
  def funnelStages(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val u = events.select("user_id").distinct()
    val m1 = events.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val m2 = events.where(col("event_type") === "click")
      .join(m1, "user_id").where(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val m3 = events.where(col("event_type") === "purchase")
      .join(m2, "user_id").where(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    u.join(m1, Seq("user_id"), "left")
      .join(m2, Seq("user_id"), "left")
      .join(m3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L).as("stage"))
      .orderBy("user_id")
  }

  /** The q87 cohort-retention operator over an arbitrary
    * (user_id, ts) frame — shared by the catalog entry and
    * FunnelCohortSpec. */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val first = events.groupBy("user_id")
      .agg(to_date(date_trunc("week", min("ts"))).as("cohort_week"))
    events.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        to_date(date_trunc("week", col("ts"))).as("act_week"))
      .groupBy(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7)
          .cast("long").as("week_n"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_n")
  }

  /** The q80 SCD2 history build over an arbitrary
    * (user_id, ts, event_id, event_type) frame — shared by the catalog
    * entry and Scd2Spec so the tests exercise the shipped plan. See the
    * q80 catalog doc for the scale shape. */
  def scd2History(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy("user_id").orderBy("valid_from")
    val g = events
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull
          || lag("event_type", 1).over(w) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("grp", sum("chg").over(wRun).cast("long"))
    g.groupBy("user_id", "grp")
      .agg(min("event_type").as("event_type"),
        min("ts").as("valid_from"), max("ts").as("last_seen"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        lead("valid_from", 1).over(w2).as("valid_to"),
        lead("valid_from", 1).over(w2).isNull.as("is_current"),
        col("last_seen"), col("n_events"))
      .orderBy("user_id", "valid_from")
  }

  /** The q90 CDC compaction + merge over an arbitrary base
    * (key, payload) and changelog (key, ts, event_id, op I/U/D, value)
    * — shared by the catalog entry and CdcMergeSpec. Compaction is ONE
    * aggregate: max over a (ts, event_id, op, value) struct picks the
    * last change per key lexicographically ((ts, event_id) is a total
    * order), partial-aggregating map-side — no per-key window sort of
    * the changelog. */
  def cdcMerge(base: org.apache.spark.sql.DataFrame, keyCol: String,
      payloadCol: String, changelog: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val compact = changelog.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("op"), col("value")))
          .as("m"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("m.op").as("last_op"),
        col("m.ts").as("last_ts"), col("m.value").as("last_value"),
        col("n_changes"))
    base.join(compact, col(keyCol) === col("user_id"), "full_outer")
      .where(col("last_op").isNull || col("last_op") =!= "D")
      .select(coalesce(col(keyCol), col("user_id")).as("custkey"),
        when(col("user_id").isNull, "base").otherwise("merged").as("status"),
        when(col("user_id").isNull, col(payloadCol))
          .otherwise(col("last_value")).as("bal"),
        col("last_ts"),
        coalesce(col("n_changes"), lit(0L)).as("n_changes"))
      .orderBy("custkey")
  }

  /** The q92 gap-fill + linear interpolation over an arbitrary
    * (event_type, ts, value) frame — shared by the catalog entry and
    * GapFillSpec. The grid is built from a per-type min/max aggregate +
    * sequence(), so its size is O(types x buckets) independent of the
    * fact count; neighbors come from last/first(ignoreNulls) over
    * explicit ROWS frames on the grid rows. */
  def gapFillInterpolate(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = events
      .groupBy(col("event_type"),
        window(col("ts"), "15 minutes")("start").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v"))
      // consumed by the span aggregate AND the grid left-join: without
      // materialization the events bucket aggregate ran twice (the r16
      // multi-consumer pattern); the frame is O(types x buckets)
      .localCheckpoint()
    val grid = m.groupBy("event_type")
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 15 MINUTES"))).as("bucket"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry-backward via a DESC-ordered running `last` rather than
    // `first ignoreNulls` over [current, unbounded following]: Spark's
    // unbounded-FOLLOWING frame re-scans forward from every row (O(n^2)
    // per partition — a r16 task-metric profile measured the window
    // stage at 1.26 s single-task), while the unbounded-PRECEDING frame is the
    // O(n) incremental one. `last non-null at bucket >= current in DESC
    // order` elects exactly the nearest following known cell.
    val wNext = Window.partitionBy("event_type").orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val known = when(col("v").isNotNull, struct(col("bucket").as("b"), col("v")))
    val g = grid.join(m, Seq("event_type", "bucket"), "left")
      .withColumn("pv", last(known, ignoreNulls = true).over(wPrev))
      .withColumn("nv", last(known, ignoreNulls = true).over(wNext))
    // interpolation arithmetic mirrors the oracle EXACTLY:
    // prev + (next - prev) * (dt_to_prev / span), all IEEE doubles
    val frac = (unix_timestamp(col("bucket")) - unix_timestamp(col("pv.b")))
      .cast("double") /
      (unix_timestamp(col("nv.b")) - unix_timestamp(col("pv.b"))).cast("double")
    g.select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull || col("nv").isNull, lit(null).cast("double"))
          .otherwise(col("pv.v") + (col("nv.v") - col("pv.v")) * frac)
          .as("v_filled"),
        col("v").isNull.as("is_interpolated"))
      .orderBy("event_type", "bucket")
  }

  /** q257's SAX fold over an arbitrary orders frame — shared with
    * SaxSpec. All float inputs are exact int64s; the z chain is a
    * fixed IEEE shape (see the catalog doc). */
  def saxSymbols(orders: org.apache.spark.sql.DataFrame,
      segments: Int): org.apache.spark.sql.DataFrame = {
    val d = orders
      .groupBy(datediff(col("o_orderdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice")).cast("long")).cast("long")
        .as("rev"))
    val g = broadcast(d.agg(min("day").cast("long").as("mn"),
      max("day").cast("long").as("mx"),
      count(lit(1)).cast("long").as("n"),
      sum("rev").cast("long").as("t"),
      sum(col("rev").cast("decimal(19,0)") * col("rev").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("q")))
    val z = d.crossJoin(g)
      .select(expr(s"((day - mn) * $segments) div (mx - mn + 1)")
        .cast("long").as("seg"), col("rev"), col("n"), col("t"), col("q"))
    val seg = z.groupBy("seg").agg(
      count(lit(1)).cast("long").as("n_days"),
      sum("rev").cast("long").as("rev_dollars"),
      max("n").as("n"), max("t").as("t"), max("q").as("q"))
    val mu = col("t").cast("double")./(col("n").cast("double"))
    val sigma = sqrt(col("q").cast("double")./(col("n").cast("double"))
      .-(mu * mu))
    val meanZ = (col("rev_dollars").cast("double")
      ./(col("n_days").cast("double")).-(mu))./(sigma)
    seg.select(col("seg"), col("n_days"), col("rev_dollars"),
        meanZ.as("mean_z"))
      .select(col("seg"), col("n_days"), col("rev_dollars"),
        col("mean_z"),
        when(col("mean_z") < -0.67, "a")
          .when(col("mean_z") < 0.0, "b")
          .when(col("mean_z") < 0.67, "c")
          .otherwise("d").as("symbol"))
      .orderBy("seg")
  }
}
