"""Event-time analytics over the ``events`` table (extension surface,
SURVEY.md §2.11): calendar aggregation in the reference's flagship shape,
tumbling windows, sessionization, and JSON property extraction.

These are the batch forms; ``streaming/`` holds the ``readStream`` +
watermark variants of the windowed aggregations (same logical plans).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .stable import cent_avg, cent_avg_sql, cent_sum, cent_sum_sql
from .tables import events, local_frame, read_bounded, table

SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # 30 minutes

_EV_AVG_SQL = cent_avg_sql("value", "avg_value")
_EV_SUM_SQL = cent_sum_sql("value", "sum_value")


@register(
    "monthly_avg_value",
    oracle=f"""
    SELECT CAST(EXTRACT(month FROM ts) AS INTEGER) AS month,
           {_EV_AVG_SQL},
           COUNT(*) AS n
    FROM events
    WHERE value > 100
    GROUP BY 1
    ORDER BY month
    """,
    description="the reference flagship query shape (parse ts → month → filter → "
    "group avg → round → order) on the events table; "
    "reference ops O7-O14 (/root/reference/wallmart_pipeline.py:89-119)",
    tags=("date", "agg", "reference-shape"),
)
def monthly_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") > 100)
        .withColumn("month", F.month("ts"))
        .filter(F.col("month").isNotNull())  # gotcha G1: pandas drops null keys
        .groupBy("month")
        .agg(cent_avg("value", "avg_value"), F.count("*").alias("n"))
        .orderBy("month")  # gotcha G2: pandas sorts group keys
    )


@register(
    "events_hourly_window",
    oracle=f"""
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS hour_start,
           COUNT(*) AS n,
           {_EV_AVG_SQL},
           {_EV_SUM_SQL}
    FROM events
    GROUP BY 1
    ORDER BY hour_start
    """,
    description="tumbling 1-hour event-time window aggregation (batch form of "
    "the Structured Streaming windowed agg)",
    tags=("window", "event-time"),
)
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            cent_avg("value", "avg_value"),
            cent_sum("value", "sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n",
            "avg_value",
            "sum_value",
        )
        .orderBy("hour_start")
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH x AS (SELECT user_id, epoch_ns(ts) AS ts_ns FROM events),
    flagged AS (
        SELECT user_id, ts_ns,
               CASE WHEN LAG(ts_ns) OVER w IS NULL
                         OR ts_ns - LAG(ts_ns) OVER w > {SESSION_GAP_NS}
                    THEN 1 ELSE 0 END AS is_new
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)
    ),
    sessions AS (
        SELECT user_id, ts_ns,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sess_id, COUNT(*) AS ev_cnt,
               MAX(ts_ns) - MIN(ts_ns) AS dur_ns
        FROM sessions GROUP BY user_id, sess_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(ev_cnt) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(dur_ns) AS BIGINT) / COUNT(*) / 1000000000.0, 1)
               AS avg_session_sec
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="batch sessionization: 30-min-gap session assignment via "
    "lag + running sum, then two-level rollup per user; ns-exact "
    "gap arithmetic on the raw int64 timestamps",
    tags=("window", "event-time", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | (F.col("ts_ns") - F.lag("ts_ns").over(w) > SESSION_GAP_NS),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("sess_id", F.sum("is_new").over(run))
    per_session = sessions.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("ev_cnt"),
        (F.max("ts_ns") - F.min("ts_ns")).alias("dur_ns"),
    )
    # Session durations stay exact int64 nanoseconds until the very last
    # division, so the average is bit-identical to the oracle's.
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("ev_cnt").alias("n_events"),
            F.round(
                F.sum("dur_ns") / F.count(F.lit(1)) / F.lit(1_000_000_000.0), 1
            ).alias("avg_session_sec"),
        )
        .orderBy("user_id")
    )


@register(
    "events_sliding_window",
    oracle=f"""
    WITH slides AS (
        SELECT value,
               time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                   - k * INTERVAL '15 minutes' AS window_start
        FROM events, UNNEST(range(4)) AS u(k)
    )
    SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           {_EV_SUM_SQL}
    FROM slides
    GROUP BY slides.window_start
    ORDER BY window_start
    """,
    description="sliding event-time window (1 h length, 15 min slide): "
    "every event lands in 4 overlapping windows; oracle expands the "
    "slide set explicitly",
    tags=("window", "event-time", "sliding"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"), cent_sum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
        .orderBy("window_start")
    )


@register(
    "events_json_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           {_EV_AVG_SQL}
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
    description="JSON property extraction from the props column + group agg "
    "(multimodal/semistructured column handling)",
    tags=("json", "scalar"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), cent_avg("value", "avg_value"))
        .orderBy("k_bucket")
    )


@register(
    "user_event_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS rn
        FROM events
    )
    SELECT user_id,
           STRING_AGG(event_type, '>' ORDER BY rn) AS path,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked
    WHERE rn <= 10
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="ordered aggregation done right: per-user journey string "
    "of the first 10 events.  Spark's collect_list has UNDEFINED order, so "
    "the deterministic idiom is collect structs keyed by (ts_ns, event_id) "
    "→ sort_array → transform → array_join — one shuffle on user_id "
    "shared by the row_number window and the aggregation",
    tags=("events", "ordered-agg"),
)
def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir).select("user_id", "event_type", "ts_ns", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    first10 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    return (
        first10.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "time_series_gap_fill",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
               COUNT(*) AS n,
               {_EV_SUM_SQL}
        FROM events
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT time_bucket(INTERVAL '1 day', MIN(CAST(ts AS TIMESTAMP))) AS lo,
               time_bucket(INTERVAL '1 day', MAX(CAST(ts AS TIMESTAMP))) AS hi
        FROM events
    ),
    days AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS d
        FROM bounds
    ),
    grid AS (
        SELECT t.event_type, days.d
        FROM days CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT g.event_type,
           STRFTIME(g.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(dy.n, 0) AS BIGINT) AS n,
           COALESCE(dy.sum_value, 0.0) AS sum_value
    FROM grid g
    LEFT JOIN daily dy ON g.event_type = dy.event_type AND g.d = dy.d
    ORDER BY g.event_type, day
    """,
    description="calendar gap-fill: daily per-type counts/sums joined onto "
    "the dense day grid (sequence over the global min/max day × distinct "
    "types) so days with no events appear as explicit zeros — dashboards "
    "and forecasting inputs need the dense series; the heavy shuffle is "
    "the pre-aggregation on (type, day), after which the tiny grid "
    "broadcast-left-joins the aggregate; zero fills are exact and the "
    "present sums are cent_sum-stable, so nothing can tie",
    tags=("events", "event-time", "gap-fill"),
)
def time_series_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("DAY", "ts").alias("d"))
        .agg(F.count("*").alias("n"), cent_sum("value", "sum_value"))
    )
    bounds = ev.agg(
        F.date_trunc("DAY", F.min("ts")).alias("lo"),
        F.date_trunc("DAY", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    return (
        grid.join(F.broadcast(daily), ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n
        FROM events
        GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys
            FROM per_key)
    SELECT p.user_id, p.n,
           p.n * 1.0 / t.total AS share,
           p.n * 1.0 * t.n_keys / t.total AS skew_factor
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.n DESC, p.user_id
    LIMIT 20
    """,
    description="shuffle-key skew diagnostic: per-key event counts, each "
    "heavy hitter's share of all rows and its skew factor (count / mean "
    "count) — the profiling step that decides whether a join needs "
    "operators.skew.salted_join; one map-side-combined agg, a 1-row "
    "broadcast total, and a 0-byte-shuffle top-k; the shares divide "
    "exact integers once so the doubles are engine-portable",
    tags=("events", "skew", "diagnostics"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = per_key.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            (F.col("n") * F.lit(1.0) / F.col("total")).alias("share"),
            (F.col("n") * F.lit(1.0) * F.col("n_keys") / F.col("total")).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(20)
    )


@register(
    "latest_record_compaction",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events
    )
    SELECT user_id, event_type, ts_us,
           event_id AS last_event_id,
           value AS last_value
    FROM ranked WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    description="latest-record-wins compaction (the SCD-1 / CDC-ingest "
    "dedupe: keep the newest row per key): implemented as ONE aggregation "
    "of max(struct(ts_us, event_id, value)) — lexicographic struct max "
    "with the unique (ts_us, event_id) prefix picks exactly the latest "
    "row but, unlike the row_number window, combines map-side: the "
    "shuffle carries one row per key per partition where the window "
    "would shuffle every input row (Spark plans it as partial+final "
    "SortAggregate — struct max is not hash-aggregable); ordering uses "
    "the µs value "
    "with the event_id tiebreak because DuckDB truncates parquet "
    "nanosecond timestamps to µs (same boundary trap as "
    "events_session_window); payload rides through untouched so no float "
    "is ever aggregated; oracle states the same semantics as the "
    "textbook ROW_NUMBER()=1",
    tags=("events", "dedup", "cdc"),
)
def latest_record_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    m = F.max(F.struct("ts_us", "event_id", "value")).alias("m")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(m)
        .select(
            "user_id",
            "event_type",
            F.col("m.ts_us").alias("ts_us"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.value").alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "events_dow_hour_heatmap",
    oracle=f"""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
           CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
           COUNT(*) AS n,
           {_EV_SUM_SQL}
    FROM events
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
    description="day-of-week × hour activity heatmap (the dashboard "
    "staple): one map-side-combined aggregation over at most 7×24 = 168 "
    "group keys — the partial aggregate collapses each input partition "
    "to ≤168 rows, so shuffle volume is constant in input size; Spark "
    "dayofweek is 1=Sunday where DuckDB dayofweek() is 0=Sunday — hence "
    "the Spark-side -1 alignment; UTC pinned by the events loader",
    tags=("events", "event-time", "agg"),
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - F.lit(1)).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(F.count("*").alias("n"), cent_sum("value", "sum_value"))
        .orderBy("dow", "hour")
    )


@register(
    "event_interarrival_profile",
    oracle="""
    WITH x AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               epoch_ns(ts) AS ts_ns, event_id
        FROM events
    ),
    g AS (
        SELECT event_type,
               ts_ns - LAG(ts_ns) OVER (
                   PARTITION BY event_type, day
                   ORDER BY ts_ns, event_id) AS gap
        FROM x
    ),
    f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap, 0.5) / 1e9, 4) AS p50_gap_s,
           ROUND(quantile_cont(gap, 0.9) / 1e9, 4) AS p90_gap_s,
           ROUND(MAX(gap) / 1e9, 4) AS max_gap_s
    FROM f
    GROUP BY event_type
    ORDER BY event_type
    """,
    description="per-type event inter-arrival profile: lag over a "
    "(event_type, day)-partitioned window on the exact nanosecond "
    "timestamp gives integer arrival gaps (day-scoped so no window "
    "partition grows with stream lifetime), then EXACT interpolated "
    "p50/p90 via the distributed histogram ladder "
    "(operators.percentiles.exact_group_percentiles — bit-compatible "
    "with quantile_cont, never a per-group sort buffer) joined with the "
    "count/max aggregate.  The traffic-cadence diagnostic behind "
    "rate-anomaly alerting and watermark-delay tuning.  Scale shape: "
    "one keyed exchange for the lag window, histogram-ladder state = "
    "distinct gap values per type (integer ns gaps collapse heavily), "
    "gaps rounded to seconds only at the output edge",
    tags=("event-time", "window", "percentile"),
)
def event_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_group_percentiles

    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_type", F.to_date("ts").alias("day"), "ts_ns", "event_id"
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts_ns", "event_id")
    g = (
        x.withColumn("gap", F.col("ts_ns") - F.lag("ts_ns").over(w))
        .filter(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    # on_overflow="error": this query is oracle-checked against DuckDB's
    # exact quantile_cont, so a silent approx fallback above the histogram
    # bound would diverge with no plan signal — fail loudly instead.
    pct = exact_group_percentiles(
        g, ["event_type"], "gap", [0.5, 0.9], on_overflow="error"
    )
    stats = g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"), F.max("gap").alias("_mx")
    )
    return (
        stats.join(pct, "event_type")
        .select(
            "event_type",
            "n_gaps",
            F.round(F.col("p_0") / F.lit(1e9), 4).alias("p50_gap_s"),
            F.round(F.col("p_1") / F.lit(1e9), 4).alias("p90_gap_s"),
            F.round(F.col("_mx") / F.lit(1e9), 4).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "concurrent_sessions_profile",
    oracle=f"""
    WITH x AS (SELECT user_id, epoch_ns(ts) AS ts_ns FROM events),
    flagged AS (
        SELECT user_id, ts_ns,
               CASE WHEN LAG(ts_ns) OVER w IS NULL
                         OR ts_ns - LAG(ts_ns) OVER w > {SESSION_GAP_NS}
                    THEN 1 ELSE 0 END AS is_new
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)
    ),
    sessions AS (
        SELECT user_id, ts_ns,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sess_id,
               MIN(ts_ns) AS s_ns, MAX(ts_ns) AS e_ns
        FROM sessions GROUP BY user_id, sess_id
    ),
    tagged AS (
        SELECT CAST(make_timestamp(s_ns // 1000) AS DATE) AS day, s_ns, e_ns
        FROM per_session
    ),
    deltas AS (
        SELECT day, s_ns AS t, 1 AS delta FROM tagged
        UNION ALL
        SELECT day, e_ns AS t, -1 AS delta FROM tagged
    ),
    swept AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS c
        FROM deltas
    ),
    peaks AS (SELECT day, CAST(MAX(c) AS BIGINT) AS peak_concurrent
              FROM swept GROUP BY day),
    counts AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions
               FROM tagged GROUP BY day)
    SELECT c.day, c.n_sessions, p.peak_concurrent
    FROM counts c JOIN peaks p ON c.day = p.day
    ORDER BY c.day
    """,
    description="peak concurrent sessions per day via the sweep-line "
    "pattern: 30-min-gap sessionization (the events_sessionization "
    "chain) -> [start, end] interval per session -> ±1 boundary deltas "
    "-> day-partitioned running sum -> per-day max.  The sweep line "
    "turns interval-overlap counting (naively a range self-join, "
    "quadratic in concurrent intervals) into one sort + prefix sum — "
    "the capacity-planning / peak-load query every event warehouse "
    "runs.  Sessions are attributed to their start day and the counter "
    "is day-scoped, so every window in the plan is keyed (user_id for "
    "sessionization, day for the sweep) — nothing funnels one task and "
    "partitions never grow with stream lifetime.  Tie discipline: at "
    "equal timestamps ends (-1) sort before starts (+1) via ORDER BY "
    "(t, delta), so touching intervals don't count as overlapping and "
    "zero-length (single-event) sessions contribute nothing; identical "
    "in both engines, and intermediate prefix sums over equal keys are "
    "permutation-invariant, so the per-day max is deterministic",
    tags=("event-time", "session", "window", "sweep-line"),
)
def concurrent_sessions_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | (F.col("ts_ns") - F.lag("ts_ns").over(w) > SESSION_GAP_NS),
            1,
        ).otherwise(0),
    )
    per_session = (
        flagged.withColumn("sess_id", F.sum("is_new").over(run))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts_ns").alias("s_ns"), F.max("ts_ns").alias("e_ns"))
    )
    tagged = per_session.select(
        F.to_date(F.timestamp_micros(F.expr("s_ns div 1000"))).alias("day"),
        "s_ns",
        "e_ns",
    )
    deltas = tagged.select(
        "day", F.col("s_ns").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        tagged.select(
            "day", F.col("e_ns").alias("t"), F.lit(-1).alias("delta")
        )
    )
    sweep = Window.partitionBy("day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peaks = (
        deltas.withColumn("c", F.sum("delta").over(sweep))
        .groupBy("day")
        .agg(F.max("c").cast("long").alias("peak_concurrent"))
    )
    counts = tagged.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return counts.join(peaks, "day").orderBy("day")


@register(
    "multi_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS p_id, user_id, epoch_ns(ts) AS p_ns,
               CAST(ROUND(value * 100.0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS v_id, user_id, epoch_ns(ts) AS v_ns
        FROM events WHERE event_type = 'view'
    ),
    j AS (
        SELECT p.p_id, p.user_id, p.cents, v.v_id, v.v_ns
        FROM p LEFT JOIN v
          ON p.user_id = v.user_id
         AND v.v_ns <= p.p_ns
         AND v.v_ns > p.p_ns - 86400000000000
    ),
    credited AS (
        SELECT user_id, p_id, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY p_id ORDER BY v_ns DESC, v_id) AS rk,
               COUNT(*) OVER (PARTITION BY p_id) AS n
        FROM j WHERE v_id IS NOT NULL
    ),
    per_view AS (
        SELECT user_id, p_id,
               cents // n
                   + CASE WHEN rk = 1 THEN cents % n ELSE 0 END AS credit
        FROM credited
    ),
    touch AS (
        SELECT user_id,
               CAST(SUM(credit) AS BIGINT) AS attributed_cents,
               CAST(COUNT(*) AS BIGINT) AS n_views_credited,
               CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases_touched
        FROM per_view GROUP BY user_id
    ),
    direct AS (
        SELECT user_id,
               CAST(SUM(cents) AS BIGINT) AS direct_cents,
               CAST(COUNT(*) AS BIGINT) AS n_direct
        FROM j WHERE v_id IS NULL GROUP BY user_id
    )
    SELECT COALESCE(t.user_id, d.user_id) AS user_id,
           COALESCE(t.attributed_cents, 0) AS attributed_cents,
           COALESCE(t.n_views_credited, 0) AS n_views_credited,
           COALESCE(t.n_purchases_touched, 0) AS n_purchases_touched,
           COALESCE(d.direct_cents, 0) AS direct_cents,
           COALESCE(d.n_direct, 0) AS n_direct
    FROM touch t FULL OUTER JOIN direct d ON t.user_id = d.user_id
    ORDER BY user_id
    """,
    description="exact multi-touch attribution: each purchase's value is "
    "split across the SAME user's views in the preceding 24 h by "
    "largest-remainder penny allocation — every view gets cents div n "
    "and the most recent view absorbs cents mod n, so credits are pure "
    "BIGINT, order-independent, and sum EXACTLY to the purchase total "
    "(the conservation law a float split violates and finance teams "
    "reject; purchases with no qualifying view fall into a per-user "
    "direct bucket, so the whole ledger balances — pinned in "
    "tests/test_round14_properties.py).  Scale shape: one equi-join on "
    "user_id with the 24 h range predicate as the join filter (never a "
    "time cross-join), one purchase-partitioned rank window, then a "
    "user-keyed aggregate — every shuffle is keyed on user or purchase "
    "id; the 24 h horizon bounds the per-purchase fan-out by the user's "
    "daily view rate, independent of history length",
    tags=("event-time", "join", "window", "attribution"),
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts_ns").alias("p_ns"),
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("cents"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts_ns").alias("v_ns"),
    )
    j = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ns") <= F.col("p_ns"))
        & (F.col("v_ns") > F.col("p_ns") - F.lit(86400000000000)),
        "left",
    )
    wp = Window.partitionBy("p_id")
    credited = (
        j.filter(F.col("v_id").isNotNull())
        .select(
            "user_id",
            "p_id",
            "cents",
            F.row_number()
            .over(wp.orderBy(F.col("v_ns").desc(), "v_id"))
            .alias("rk"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
        .select(
            "user_id",
            "p_id",
            (
                F.expr("cents div n")
                + F.when(F.col("rk") == 1, F.col("cents") % F.col("n"))
                .otherwise(F.lit(0))
            ).alias("credit"),
        )
    )
    touch = credited.groupBy("user_id").agg(
        F.sum("credit").cast("long").alias("attributed_cents"),
        F.count(F.lit(1)).cast("long").alias("n_views_credited"),
        F.countDistinct("p_id").cast("long").alias("n_purchases_touched"),
    )
    direct = (
        j.filter(F.col("v_id").isNull())
        .groupBy("user_id")
        .agg(
            F.sum("cents").cast("long").alias("direct_cents"),
            F.count(F.lit(1)).cast("long").alias("n_direct"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        touch.join(direct, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("attributed_cents", zero).alias("attributed_cents"),
            F.coalesce("n_views_credited", zero).alias("n_views_credited"),
            F.coalesce("n_purchases_touched", zero).alias(
                "n_purchases_touched"
            ),
            F.coalesce("direct_cents", zero).alias("direct_cents"),
            F.coalesce("n_direct", zero).alias("n_direct"),
        )
        .orderBy("user_id")
    )


# --- exponentially time-decayed engagement ----------------------------------

# Half-life = 1 day over the feed's 30-day window: weight(event) =
# 2^-(days before the newest event).  The dyadic base is the exactness
# trick — the weighted term is cents << (30 - delta_days), a pure BIGINT,
# so the whole decayed accumulator is exact integer arithmetic and the
# single readout division by 2^30 is one deterministic conversion.
_DECAY_SHIFT = 30


@register(
    "time_decayed_engagement",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(ROUND(value * 100.0) AS BIGINT) AS cents
        FROM events
    ),
    a AS (SELECT MAX(d) AS anchor FROM ev),
    g AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS raw_cents,
               CAST(SUM(cents * (CAST(1 AS BIGINT)
                    << ({_DECAY_SHIFT} - datediff('day', d, a.anchor))))
                    AS BIGINT) AS acc
        FROM ev, a GROUP BY user_id
    )
    SELECT user_id, n_events, raw_cents,
           ROUND(CAST(acc AS DOUBLE)
                 / CAST({1 << _DECAY_SHIFT} AS DOUBLE), 4)
               AS decayed_cents
    FROM g ORDER BY user_id
    """,
    description="per-user exponentially TIME-DECAYED engagement value "
    "(half-life 1 day, landmark/backward decay anchored at the feed's "
    "newest event date — the recency-weighted counter a ranking or "
    "abuse system keeps instead of a lifetime sum; Cormode et al., "
    "ICDE'09 'forward decay' is the same estimator reorganized for "
    "moving anchors on unbounded streams).  Exactness: the decay base "
    "is DYADIC, so each term is cents << (30 - age_days) — pure BIGINT, "
    "order-independent, exact in both engines; the one float op is the "
    "final readout division by 2^30.  Overflow headroom documented like "
    "corr_matrix_lineitem's: the accumulator is PER USER, bounded by "
    "user_events x max_cents x 2^30 < 2^56 even at 1,000x this feed "
    "(only a global total would approach 2^63; shrink the shift or go "
    "DECIMAL(38) there).  Distinct from events_time_weighted_value, "
    "which weights by holding DURATION, not recency.  Scale shape: one "
    "keyed aggregate behind a 1-row anchor broadcast; no window, no "
    "second pass",
    tags=("event-time", "agg", "decay", "exact-cents"),
)
def time_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("cents"),
    )
    anchor = ev.agg(F.max("d").alias("anchor"))
    term = F.col("cents") * F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_DECAY_SHIFT} - datediff(anchor, d))"
    )
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum(term).cast("long").alias("acc"),
        )
        .select(
            "user_id",
            "n_events",
            "raw_cents",
            F.round(
                F.col("acc").cast("double") / F.lit(float(1 << _DECAY_SHIFT)),
                4,
            ).alias("decayed_cents"),
        )
        .orderBy("user_id")
    )


# --- forward-decay engagement: the streaming-maintainable organization ------


@register(
    "events_forward_decay",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(ROUND(value * 100.0) AS BIGINT) AS cents
        FROM events
    ),
    a AS (
        SELECT datediff('day', DATE '2024-01-01', MAX(d)) AS anchor_days
        FROM ev
    ),
    g AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents * (CAST(1 AS BIGINT)
                    << datediff('day', DATE '2024-01-01', d)))
                    AS BIGINT) AS acc_fw
        FROM ev GROUP BY user_id
    )
    SELECT user_id, n_events, acc_fw,
           CAST(a.anchor_days AS BIGINT) AS anchor_days,
           ROUND(CAST(acc_fw AS DOUBLE)
                 / CAST(CAST(1 AS BIGINT) << a.anchor_days AS DOUBLE), 4)
               AS decayed_cents
    FROM g, a ORDER BY user_id
    """,
    description="per-user exponentially time-decayed engagement in the "
    "FORWARD-decay organization (Cormode et al., ICDE'09): each event "
    "contributes cents << days(event - LANDMARK) — a weight fixed at "
    "ingest that never depends on 'now' — so the accumulator is an "
    "add-only exact BIGINT a STREAM can maintain without re-weighting "
    "history, and moving the readout time only rescales the one divisor "
    "2^days(anchor - landmark).  Same decayed value as "
    "time_decayed_engagement (the backward/landmark form; the exact "
    "BIGINT identity acc_fw << (SHIFT - anchor_days) == backward acc is "
    "pinned in tests/test_streaming.py) — what changes is WHERE the "
    "rescaling lives, which is what makes this the production form: the "
    "streaming twin streaming.events.hourly_user_forward_decay emits "
    "hourly (user, acc_fw) cells that merge downstream by plain "
    "addition, exactly like the five sketch families' registers.  This "
    "query is its oracle-checked batch readout: the registered plan "
    "builds the SAME hourly cells (one logical plan, batch source), "
    "merges them per user by SUM, and divides once at the anchor.  "
    "Overflow trade documented on the streaming twin (advance the "
    "landmark and right-shift cells — exact, integers).  Scale shape: "
    "two keyed aggregates (hour cells, then user merge) behind a 1-row "
    "anchor broadcast; no window function, no second scan of raw events",
    tags=("event-time", "streaming-twin", "decay", "exact-cents"),
)
def events_forward_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import (
        FWD_DECAY_LANDMARK,
        hourly_user_forward_decay,
    )

    ev = table(spark, sf_dir, "events")
    cells = hourly_user_forward_decay(ev)
    anchor = ev.agg(
        F.datediff(F.max(F.to_date("ts")), F.lit(FWD_DECAY_LANDMARK).cast("date"))
        .cast("long")
        .alias("anchor_days")
    )
    merged = cells.groupBy("user_id").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("acc_fw").cast("long").alias("acc_fw"),
    )
    return (
        merged.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            "n_events",
            "acc_fw",
            "anchor_days",
            F.round(
                F.col("acc_fw").cast("double")
                / F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT), "
                    "CAST(anchor_days AS INT)) AS DOUBLE)"
                ),
                4,
            ).alias("decayed_cents"),
        )
        .orderBy("user_id")
    )


# --- Kaplan-Meier time-to-conversion survival curve --------------------------


# Bound on the survival queries' one driver read: the stratified grid
# over a one-year feed is at most 53 weeks x 2 cohorts x 366 days, about
# 38.8k cells; the other two read at most 2 x 366.
_SURVIVAL_CELLS = 65_536


def _survival_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared subject construction for the survival queries: one row per
    user with a first 'view' — ``(stratum, cohort, day, ev)`` where
    ``day`` is the duration from first view to first qualifying purchase
    (or to the feed anchor for right-censored never-purchasers), ``ev``
    flags conversion, ``cohort`` is the user_id parity and ``stratum``
    the first-view week.  The censoring rule, the conversion predicate
    and both keys live here once, for survival_time_to_purchase,
    survival_km_logrank and survival_logrank_stratified.

    The frame is lazy: its one consumer is ``_read_cells``'s keyed
    aggregate, read once under ``_SURVIVAL_CELLS``."""
    ev = table(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    anchor = ev.agg(F.max("ts").alias("anchor"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        t0.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.floor(
                F.datediff(
                    F.to_date("first_view"), F.lit("2024-01-01").cast("date")
                )
                / F.lit(7.0)
            )
            .cast("int")
            .alias("stratum"),
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("cohort"),
            F.when(
                F.col("first_purchase").isNotNull(),
                F.datediff(
                    F.to_date("first_purchase"), F.to_date("first_view")
                ),
            )
            .otherwise(
                F.datediff(F.to_date("anchor"), F.to_date("first_view"))
            )
            .cast("int")
            .alias("day"),
            F.when(F.col("first_purchase").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("ev"),
        )
    )


def _survival_cells(spark: SparkSession, sf_dir: str, keys: tuple) -> DataFrame:
    """The lazy ``(*keys, day, d, c)`` aggregate the survival queries
    read: integer event and censoring counts per key and day."""
    return _survival_subjects(spark, sf_dir).groupBy(*keys, "day").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )


def _read_cells(spark: SparkSession, sf_dir: str, query: str, *keys: str) -> dict:
    """Read the cell table once and nest it by key, ``{k1: {k2: {day:
    (d, c)}}}``; more than ``_SURVIVAL_CELLS`` cells raises."""
    out: dict = {}
    cells = _survival_cells(spark, sf_dir, keys)
    for *ks, day, d, c in read_bounded(
        cells, _SURVIVAL_CELLS, f"{query}: the survival cell read"
    ):
        node = out
        for k in ks:
            node = node.setdefault(k, {})
        node[day] = (d, c)
    return out


_KM_SCHEMA = (
    "day int, n_risk long, n_event long, n_censored long, "
    "died_out int, log_s double"
)


def _km_fold(cells: dict, days: list) -> list:
    """Kaplan-Meier over one group's ``{day: (d, c)}`` cells, evaluated
    on every day of the ascending ``days`` (a day without a cell counts
    no events).  Rows follow ``_KM_SCHEMA``: the risk set is the group
    total minus the prefix of d + c, ``died_out`` a running max, and
    ``log_s`` sums ln(1 - d/n) in day order — the same IEEE sequence as
    the oracle's windows.  The readout takes exp and rounds in Spark."""
    n = sum(d + c for d, c in cells.values())
    died, log_s, rows = 0, 0.0, []
    for day in days:
        d, c = cells.get(day, (0, 0))
        died = max(died, 1 if d == n and d > 0 else 0)
        log_s += math.log(1.0 - float(d) / n) if d < n else 0.0
        rows.append((day, n, d, c, died, log_s))
        n -= d + c
    return rows


def _km_survival() -> Column:
    return (
        F.when(F.col("died_out") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("log_s"), 6))
        .alias("km_survival")
    )


def _chi2(o: str, e: str, v: str) -> Column:
    return F.when(
        F.col(v) > 0,
        F.round((F.col(o) - F.col(e)) * (F.col(o) - F.col(e)) / F.col(v), 4),
    )


@register(
    "survival_time_to_purchase",
    oracle="""
    WITH t0 AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ),
    a AS (SELECT MAX(ts) AS anchor FROM events),
    conv AS (
        SELECT t0.user_id, MIN(e.ts) AS first_purchase
        FROM t0 JOIN events e
          ON e.user_id = t0.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= t0.first_view
        GROUP BY t0.user_id
    ),
    subj AS (
        SELECT t0.user_id,
               CAST(CASE WHEN conv.first_purchase IS NOT NULL
                    THEN datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(conv.first_purchase AS DATE))
                    ELSE datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(a.anchor AS DATE)) END AS INT)
                   AS day,
               CASE WHEN conv.first_purchase IS NOT NULL THEN 1 ELSE 0 END
                   AS ev
        FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id
        CROSS JOIN a
    ),
    days AS (
        SELECT day,
               CAST(SUM(ev) AS BIGINT) AS n_event,
               CAST(SUM(1 - ev) AS BIGINT) AS n_censored
        FROM subj GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subj),
    risk AS (
        SELECT day, n_event, n_censored,
               CAST(tot.n_total
                    - COALESCE(SUM(n_event + n_censored) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM days, tot
    ),
    km AS (
        SELECT day, n_risk, n_event, n_censored,
               MAX(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY day) AS died_out,
               SUM(CASE WHEN n_event < n_risk
                   THEN ln(1.0 - CAST(n_event AS DOUBLE) / n_risk)
                   ELSE 0.0 END) OVER (ORDER BY day) AS log_s
        FROM risk
    )
    SELECT day, n_risk, n_event, n_censored,
           CASE WHEN died_out = 1 THEN 0.0
                ELSE ROUND(exp(log_s), 6) END AS km_survival
    FROM km ORDER BY day
    """,
    description="Kaplan-Meier time-to-conversion curve (Kaplan & Meier "
    "1958, the product-limit estimator — survival analysis' standard "
    "nonparametric answer to 'how long from first exposure to "
    "conversion, given that some subjects never convert'): subject = "
    "user, origin = first view, event = first purchase at or after it, "
    "right-censoring at the feed's last timestamp for users who never "
    "purchase — the censoring handling is the whole point, since "
    "dropping never-converters (or counting them as day-29 converters) "
    "biases any plain average.  Per event day t: n_risk (subjects with "
    "duration >= t), n_event, n_censored, and S(t) = prod over s <= t "
    "of (1 - d_s/n_s).  Both engines build the product as "
    "exp(sum(ln(term))) in the SAME day order with the same guard "
    "branch (a day where everyone at risk converts sends S to exactly "
    "0.0 via a flag, never through ln(0), whose result differs across "
    "engines), so the rounded curve compares exactly; counts are exact "
    "BIGINT.  KM == the empirical survival function when nothing is "
    "censored — hypothesis-pinned for ANY duration multiset in "
    "tests/test_round15_properties.py.  Scale shape: two keyed "
    "aggregates (first-view, first-qualifying-purchase) + one keyed "
    "left join build subjects, and one keyed aggregate folds them to "
    "per-day (d, c) cells; the driver reads those cells once, bounded "
    "at 65,536 (the calendar bounds them, <= 366 a year; more raises), "
    "runs the risk-set and product-limit fold in day order, and a "
    "per-day frame returns to Spark for exp and rounding; no "
    "per-subject window, no global sort of subjects",
    tags=("event-time", "window", "survival", "funnel"),
)
def survival_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _read_cells(spark, sf_dir, "survival_time_to_purchase")
    return (
        local_frame(spark, _km_fold(cells, sorted(cells)), _KM_SCHEMA)
        .select("day", "n_risk", "n_event", "n_censored", _km_survival())
        .orderBy("day")
    )


# --- per-cohort Kaplan-Meier curves + the log-rank test -----------------------


def _logrank_fold(cohorts: dict) -> tuple[dict, tuple]:
    """Per-cohort KM and the log-rank accumulation for one group's
    ``{cohort: {day: (d, c)}}`` cells (a stratum, or the whole feed).
    Every cohort's KM runs on the group's day grid — the risk set of one
    cohort must be evaluable at the OTHER cohort's event days.  Returns
    ``({cohort: km rows}, (o1, dsum, e1, v))``, with cohort A's observed
    events, all events, and E1 and V accumulated in day order: the
    oracle's window sums, term for term.  One copy serves both log-rank
    queries, so a fix to the variance term cannot drift them apart."""
    days = sorted({day for cells in cohorts.values() for day in cells})
    km = {g: _km_fold(cells, days) for g, cells in cohorts.items()}
    o1 = dsum = 0
    e1 = v = 0.0
    for i in range(len(days)):
        n1, d1 = km["A"][i][1:3] if "A" in km else (0, 0)
        nt = sum(rows[i][1] for rows in km.values())
        dt = sum(rows[i][2] for rows in km.values())
        o1 += d1
        dsum += dt
        e1 += float(dt) * n1 / nt if nt > 0 else 0.0
        v += (
            float(dt) * n1 * (nt - n1) * (nt - dt) / (float(nt) * nt * (nt - 1))
            if nt > 1
            else 0.0
        )
    return km, (o1, dsum, e1, v)


@register(
    "survival_km_logrank",
    oracle="""
    WITH t0 AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ),
    a AS (SELECT MAX(ts) AS anchor FROM events),
    conv AS (
        SELECT t0.user_id, MIN(e.ts) AS first_purchase
        FROM t0 JOIN events e
          ON e.user_id = t0.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= t0.first_view
        GROUP BY t0.user_id
    ),
    subj AS (
        SELECT CASE WHEN t0.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
               CAST(CASE WHEN conv.first_purchase IS NOT NULL
                    THEN datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(conv.first_purchase AS DATE))
                    ELSE datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(a.anchor AS DATE)) END AS INT)
                   AS day,
               CASE WHEN conv.first_purchase IS NOT NULL THEN 1 ELSE 0 END
                   AS ev
        FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id
        CROSS JOIN a
    ),
    gd AS (
        SELECT cohort, day,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY cohort, day
    ),
    grid AS (
        SELECT g.cohort, dd.day,
               COALESCE(gd.d, 0) AS d, COALESCE(gd.c, 0) AS c
        FROM (SELECT DISTINCT day FROM subj) dd
        CROSS JOIN (SELECT DISTINCT cohort FROM subj) g
        LEFT JOIN gd ON gd.cohort = g.cohort AND gd.day = dd.day
    ),
    totg AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM subj GROUP BY cohort
    ),
    risk AS (
        SELECT grid.cohort, grid.day,
               grid.d AS n_event, grid.c AS n_censored,
               CAST(totg.n_total - COALESCE(SUM(grid.d + grid.c) OVER (
                    PARTITION BY grid.cohort ORDER BY grid.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM grid JOIN totg ON totg.cohort = grid.cohort
    ),
    km AS (
        SELECT cohort, day, n_risk, n_event, n_censored,
               MAX(CASE WHEN n_event = n_risk AND n_event > 0
                   THEN 1 ELSE 0 END)
                   OVER (PARTITION BY cohort ORDER BY day) AS died_out,
               SUM(CASE WHEN n_event < n_risk
                   THEN ln(1.0 - CAST(n_event AS DOUBLE) / n_risk)
                   ELSE 0.0 END)
                   OVER (PARTITION BY cohort ORDER BY day) AS log_s
        FROM risk
    ),
    cells AS (
        SELECT day,
               CAST(SUM(CASE WHEN cohort = 'A' THEN n_event ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(n_event) AS BIGINT) AS dt,
               CAST(SUM(CASE WHEN cohort = 'A' THEN n_risk ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(n_risk) AS BIGINT) AS nt
        FROM risk GROUP BY day
    ),
    cum AS (
        SELECT day,
               SUM(d1) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o1,
               SUM(dt) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dsum,
               SUM(CASE WHEN nt > 0
                   THEN CAST(dt AS DOUBLE) * n1 / nt ELSE 0.0 END)
                   OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e1,
               SUM(CASE WHEN nt > 1
                   THEN CAST(dt AS DOUBLE) * n1 * (nt - n1) * (nt - dt)
                        / (CAST(nt AS DOUBLE) * nt * (nt - 1))
                   ELSE 0.0 END)
                   OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
               ROW_NUMBER() OVER (ORDER BY day DESC) AS rn
        FROM cells
    ),
    tot AS (
        SELECT CAST(o1 AS BIGINT) AS o1, CAST(dsum AS BIGINT) AS dsum,
               e1, v
        FROM cum WHERE rn = 1
    ),
    coh AS (
        SELECT 'A' AS cohort, o1 AS observed, e1 AS e_raw FROM tot
        UNION ALL
        SELECT 'B', dsum - o1, CAST(dsum AS DOUBLE) - e1 FROM tot
    )
    SELECT km.cohort, km.day, km.n_risk, km.n_event, km.n_censored,
           CASE WHEN km.died_out = 1 THEN 0.0
                ELSE ROUND(exp(km.log_s), 6) END AS km_survival,
           coh.observed, ROUND(coh.e_raw, 4) AS expected,
           CASE WHEN tot.v > 0
                THEN ROUND((tot.o1 - tot.e1) * (tot.o1 - tot.e1) / tot.v, 4)
           END AS logrank_chi2
    FROM km JOIN coh ON coh.cohort = km.cohort CROSS JOIN tot
    ORDER BY km.cohort, km.day
    """,
    description="per-cohort Kaplan-Meier time-to-conversion curves plus "
    "the LOG-RANK test (Mantel 1966; Peto & Peto 1972) — the standard "
    "A/B survival comparison: did cohort A convert faster than cohort "
    "B, accounting for right-censoring (the question a plain "
    "conversion-rate diff answers WRONGLY when observation windows "
    "differ).  Cohort = user_id parity, the deterministic stand-in for "
    "an experiment's bucketing hash.  Same subject construction as "
    "survival_time_to_purchase (origin = first view, event = first "
    "purchase at/after it, censoring at the feed anchor); each cohort's "
    "product-limit curve runs on the per-day grid of both cohorts.  "
    "The log-rank statistic rides exact integer per-day cells (d_gt, "
    "n_gt): expected events E1 = sum_t d_t*n_1t/n_t and the "
    "hypergeometric variance "
    "V = sum_t d_t*n_1t*n_2t*(n_t-d_t)/(n_t^2*(n_t-1)) accumulate in "
    "day order (the oracle's ordered window sums, term for term: "
    "deterministic IEEE order in both engines, the exp(sum(ln)) "
    "discipline), chi2 = (O1-E1)^2/V emitted once, rounded.  "
    "Hypothesis-pinned against an independent "
    "first-principles implementation for ANY censored two-cohort "
    "duration multiset, plus the label-swap invariance and "
    "identical-cohorts => chi2 ~ 0 laws "
    "(tests/test_round16_properties.py).  Scale shape: two keyed "
    "aggregates + one keyed left join build subjects, one keyed "
    "aggregate folds them to per-(cohort, day) cells, read once by the "
    "driver under a 65,536-cell bound (the calendar bounds them, "
    "<= 2 x 366 a year; more raises); the KM and log-rank folds run "
    "there, and exp, rounding and chi2 run in Spark over the returned "
    "rows; no per-subject window, no global sort of subjects",
    tags=("event-time", "window", "survival", "funnel", "ab-test"),
)
def survival_km_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _read_cells(spark, sf_dir, "survival_km_logrank", "cohort")
    km, (o1, dsum, e1, v) = _logrank_fold(cells)
    coh = {"A": (o1, e1), "B": (dsum - o1, float(dsum) - e1)}
    rows = [(g, *r, *coh[g], o1, e1, v) for g in km for r in km[g]]
    schema = (
        f"cohort string, {_KM_SCHEMA}, observed long, e_raw double, "
        "o1 long, e1 double, v double"
    )
    return (
        local_frame(spark, rows, schema)
        .select(
            "cohort",
            "day",
            "n_risk",
            "n_event",
            "n_censored",
            _km_survival(),
            "observed",
            F.round("e_raw", 4).alias("expected"),
            _chi2("o1", "e1", "v").alias("logrank_chi2"),
        )
        .orderBy("cohort", "day")
    )


# --- stratified log-rank test -------------------------------------------------


@register(
    "survival_logrank_stratified",
    oracle="""
    WITH t0 AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ),
    a AS (SELECT MAX(ts) AS anchor FROM events),
    conv AS (
        SELECT t0.user_id, MIN(e.ts) AS first_purchase
        FROM t0 JOIN events e
          ON e.user_id = t0.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= t0.first_view
        GROUP BY t0.user_id
    ),
    subj AS (
        SELECT CAST(FLOOR(datediff('day', DATE '2024-01-01',
                    CAST(t0.first_view AS DATE)) / 7.0) AS INT) AS stratum,
               CASE WHEN t0.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
               CAST(CASE WHEN conv.first_purchase IS NOT NULL
                    THEN datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(conv.first_purchase AS DATE))
                    ELSE datediff('day', CAST(t0.first_view AS DATE),
                                  CAST(a.anchor AS DATE)) END AS INT)
                   AS day,
               CASE WHEN conv.first_purchase IS NOT NULL THEN 1 ELSE 0 END
                   AS ev
        FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id
        CROSS JOIN a
    ),
    gd AS (
        SELECT stratum, cohort, day,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY stratum, cohort, day
    ),
    grid AS (
        SELECT g.stratum, g.cohort, dd.day,
               COALESCE(gd.d, 0) AS d, COALESCE(gd.c, 0) AS c
        FROM (SELECT DISTINCT stratum, day FROM subj) dd
        JOIN (SELECT DISTINCT stratum, cohort FROM subj) g
          ON g.stratum = dd.stratum
        LEFT JOIN gd ON gd.stratum = g.stratum AND gd.cohort = g.cohort
                     AND gd.day = dd.day
    ),
    totg AS (
        SELECT stratum, cohort, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM subj GROUP BY stratum, cohort
    ),
    risk AS (
        SELECT grid.stratum, grid.cohort, grid.day, grid.d,
               CAST(totg.n_total - COALESCE(SUM(grid.d + grid.c) OVER (
                    PARTITION BY grid.stratum, grid.cohort ORDER BY grid.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM grid JOIN totg ON totg.stratum = grid.stratum
                           AND totg.cohort = grid.cohort
    ),
    cells AS (
        SELECT stratum, day,
               CAST(SUM(CASE WHEN cohort = 'A' THEN d ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(d) AS BIGINT) AS dt,
               CAST(SUM(CASE WHEN cohort = 'A' THEN n_risk ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(n_risk) AS BIGINT) AS nt
        FROM risk GROUP BY stratum, day
    ),
    cum AS (
        SELECT stratum, day,
               SUM(d1) OVER w AS o1,
               SUM(CASE WHEN nt > 0
                   THEN CAST(dt AS DOUBLE) * n1 / nt ELSE 0.0 END)
                   OVER w AS e1,
               SUM(CASE WHEN nt > 1
                   THEN CAST(dt AS DOUBLE) * n1 * (nt - n1) * (nt - dt)
                        / (CAST(nt AS DOUBLE) * nt * (nt - 1))
                   ELSE 0.0 END) OVER w AS v,
               ROW_NUMBER() OVER (PARTITION BY stratum
                                  ORDER BY day DESC) AS rn
        FROM cells
        WINDOW w AS (PARTITION BY stratum ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    per_s AS (
        SELECT stratum, CAST(o1 AS BIGINT) AS o1, e1, v
        FROM cum WHERE rn = 1
    ),
    comb AS (
        SELECT SUM(CAST(o1 AS DOUBLE)) OVER ws AS o_all,
               SUM(e1) OVER ws AS e_all,
               SUM(v) OVER ws AS v_all,
               SUM(1) OVER ws AS k,
               ROW_NUMBER() OVER (ORDER BY stratum DESC) AS rn
        FROM per_s
        WINDOW ws AS (ORDER BY stratum
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT o_all, e_all, v_all, CAST(k AS BIGINT) AS n_strata
        FROM comb WHERE rn = 1
    ),
    cnt AS (
        SELECT stratum,
               CAST(SUM(CASE WHEN cohort = 'A' THEN n_total ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN cohort = 'B' THEN n_total ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM totg GROUP BY stratum
    )
    SELECT p.stratum, cnt.n_a, cnt.n_b,
           p.o1 AS observed_a,
           ROUND(p.e1, 4) AS expected_a,
           ROUND(p.v, 4) AS variance_a,
           tot.n_strata,
           CASE WHEN tot.v_all > 0
                THEN ROUND((tot.o_all - tot.e_all) * (tot.o_all - tot.e_all)
                     / tot.v_all, 4)
           END AS stratified_chi2
    FROM per_s p
    JOIN cnt ON cnt.stratum = p.stratum
    CROSS JOIN tot
    ORDER BY p.stratum
    """,
    description="STRATIFIED log-rank test (Mantel 1966; the multi-center "
    "form in Kalbfleisch & Prentice): the A/B survival comparison of "
    "survival_km_logrank re-run WITHIN enrollment-week strata (stratum "
    "= the subject's first-view week — controlling for time-varying "
    "conversion propensity, exactly what a staged rollout confounds) "
    "and combined by SUMMING the per-stratum O-E and hypergeometric "
    "variance cells: chi2 = (sum_s (O_s - E_s))^2 / sum_s V_s, 1 df.  "
    "Emits one row per stratum (subject counts, observed/expected/"
    "variance for cohort A) plus the combined statistic, so the "
    "per-stratum contributions that drive the verdict are inspectable "
    "— the standard guard against Simpson-style reversals a pooled "
    "test hides.  Same subject construction as the other survival "
    "queries (shared helper, one censoring rule); integer per-day "
    "cells; per-stratum accumulation in day order and the "
    "cross-stratum combination in stratum order — every double "
    "accumulates in the same order as the oracle's ordered windows.  "
    "Stratified == unstratified for a single stratum and == "
    "the Fraction first-principles form for ANY input "
    "(tests/test_round16_properties.py).  Scale shape: keyed "
    "aggregates to per-(stratum, cohort, day) cells, read once by the "
    "driver under a 65,536-cell bound (a one-year feed's grid is at "
    "most 53 weeks x 2 cohorts x 366 days, about 38.8k cells; more "
    "raises); the per-stratum log-rank fold runs there and the "
    "rounding and chi2 in Spark; no per-subject window",
    tags=("event-time", "window", "survival", "ab-test", "stratified"),
)
def survival_logrank_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    strata = _read_cells(
        spark, sf_dir, "survival_logrank_stratified", "stratum", "cohort"
    )
    per_s = []
    o_all = e_all = v_all = 0.0
    for s in sorted(strata):
        _km, (o1, _dsum, e1, v) = _logrank_fold(strata[s])
        n = {g: sum(d + c for d, c in cells.values()) for g, cells in strata[s].items()}
        per_s.append((s, n.get("A", 0), n.get("B", 0), o1, e1, v))
        o_all += float(o1)
        e_all += e1
        v_all += v
    rows = [(*r, len(per_s), o_all, e_all, v_all) for r in per_s]
    schema = (
        "stratum int, n_a long, n_b long, observed_a long, e1 double, "
        "v double, n_strata long, o_all double, e_all double, v_all double"
    )
    return (
        local_frame(spark, rows, schema)
        .select(
            "stratum",
            "n_a",
            "n_b",
            "observed_a",
            F.round("e1", 4).alias("expected_a"),
            F.round("v", 4).alias("variance_a"),
            "n_strata",
            _chi2("o_all", "e_all", "v_all").alias("stratified_chi2"),
        )
        .orderBy("stratum")
    )


# --- two-proportion A/B z-test + Wilson intervals ------------------------------


# conversion threshold: purchases per user at the synthetic corpus median
REPEAT_PURCHASE_MIN = 14


@register(
    "conversion_ab_ztest",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
               CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                       THEN 1 ELSE 0 END) >= {REPEAT_PURCHASE_MIN}
                         THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS x
        FROM u GROUP BY cohort
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN cohort = 'A' THEN n END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN cohort = 'A' THEN x END) AS BIGINT) AS x1,
               CAST(SUM(CASE WHEN cohort = 'B' THEN n END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN cohort = 'B' THEN x END) AS BIGINT) AS x2
        FROM c
    ),
    z AS (
        SELECT n1, x1, n2, x2,
               CASE WHEN n1 > 0 AND n2 > 0
                         AND (x1 + x2) > 0 AND (x1 + x2) < (n1 + n2)
                    THEN (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                         / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                                * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                                * (CAST(1.0 AS DOUBLE) / n1 + CAST(1.0 AS DOUBLE) / n2))
               END AS z_raw
        FROM s
    )
    SELECT c.cohort, c.n AS n_users, c.x AS n_converted,
           CAST(c.x AS DOUBLE) / c.n AS conv_rate,
           ROUND(((CAST(c.x AS DOUBLE) / c.n) + CAST(1.9208 AS DOUBLE) / c.n
                  - 1.96 * SQRT((CAST(c.x AS DOUBLE) / c.n)
                                * (1.0 - CAST(c.x AS DOUBLE) / c.n) / c.n
                                + CAST(0.9604 AS DOUBLE) / (CAST(c.n AS DOUBLE) * c.n)))
                 / (1.0 + CAST(3.8416 AS DOUBLE) / c.n), 6) AS wilson_lo,
           ROUND(((CAST(c.x AS DOUBLE) / c.n) + CAST(1.9208 AS DOUBLE) / c.n
                  + 1.96 * SQRT((CAST(c.x AS DOUBLE) / c.n)
                                * (1.0 - CAST(c.x AS DOUBLE) / c.n) / c.n
                                + CAST(0.9604 AS DOUBLE) / (CAST(c.n AS DOUBLE) * c.n)))
                 / (1.0 + CAST(3.8416 AS DOUBLE) / c.n), 6) AS wilson_hi,
           ROUND(z.z_raw, 4) AS z_score,
           CASE WHEN z.z_raw > 1.96 THEN 'A-higher'
                WHEN z.z_raw < -1.96 THEN 'B-higher'
                WHEN z.z_raw IS NULL THEN NULL
                ELSE 'no-difference' END AS verdict
    FROM c CROSS JOIN z
    ORDER BY c.cohort
    """,
    description="Two-proportion A/B z-test on repeat-purchaser conversion "
    "with per-cohort Wilson 95% intervals — the proportion-scale "
    "companion to survival_km_logrank's time-to-event A/B test (same "
    "deterministic user_id%%2 cohort assignment).  Conversion = a user's "
    "purchase count >= 14, a threshold at the synthetic corpus's per-user "
    "median (events-per-user is SF-invariant in this testdata, so the "
    "statistic stays LIVE at every bundled SF — the binary "
    "any-purchase definition saturates at 100%% conversion and "
    "NULL-guards the z away).  Per cohort: the distinct-user count, "
    "converting-user count, exact conversion-rate ratio, and the Wilson "
    "score interval (the CI that stays inside [0,1] and behaves at small "
    "n, unlike Wald); across cohorts the pooled two-proportion z "
    "statistic with a 1.96 verdict, NULL-guarded for an empty cohort or "
    "a degenerate all/none-converted pool where the pooled variance is "
    "zero.  Exactness: the per-cohort (n, x) cells are pure BIGINT from "
    "one user-keyed aggregate; conv_rate is an exact integer ratio; the "
    "Wilson bounds and z are single closed-form double expressions of "
    "those integers (1.96 constants pre-squared to literals), mirrored "
    "term-by-term in both engines and rounded once.  Scale shape: one "
    "shuffle on user_id for the per-user conversion flag, one tiny "
    "cohort aggregate, a 1-row conditional-sum pivot broadcast onto the "
    "two cohort rows; no window, no join wider than 2 rows",
    tags=("events", "ab-test", "statistics", "exact-cells"),
)
def conversion_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        events(spark, sf_dir)
        .select(
            "user_id",
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("cohort"),
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_p"),
        )
        .groupBy("user_id", "cohort")
        .agg(
            F.when(F.sum("is_p") >= REPEAT_PURCHASE_MIN, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("conv")
        )
    )
    c = u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    s = c.agg(
        F.sum(F.when(F.col("cohort") == "A", F.col("n"))).cast("long").alias("n1"),
        F.sum(F.when(F.col("cohort") == "A", F.col("x"))).cast("long").alias("x1"),
        F.sum(F.when(F.col("cohort") == "B", F.col("n"))).cast("long").alias("n2"),
        F.sum(F.when(F.col("cohort") == "B", F.col("x"))).cast("long").alias("x2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    pool = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    z_raw = F.when(
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & ((F.col("x1") + F.col("x2")) > 0)
        & ((F.col("x1") + F.col("x2")) < (F.col("n1") + F.col("n2"))),
        (F.col("x1").cast("double") / F.col("n1")
         - F.col("x2").cast("double") / F.col("n2"))
        / F.sqrt(
            pool * (F.lit(1.0) - pool)
            * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)
        ),
    )
    z = s.select("n1", "x1", "n2", "x2", z_raw.alias("z_raw"))
    p = F.col("x").cast("double") / F.col("n")
    nd = F.col("n").cast("double")
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n")
        + F.lit(0.9604) / (nd * F.col("n"))
    )
    denom = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    center = p + F.lit(1.9208) / F.col("n")
    return (
        c.crossJoin(F.broadcast(z))
        .select(
            "cohort",
            F.col("n").alias("n_users"),
            F.col("x").alias("n_converted"),
            p.alias("conv_rate"),
            F.round((center - half) / denom, 6).alias("wilson_lo"),
            F.round((center + half) / denom, 6).alias("wilson_hi"),
            F.round(F.col("z_raw"), 4).alias("z_score"),
            F.when(F.col("z_raw") > 1.96, F.lit("A-higher"))
            .when(F.col("z_raw") < -1.96, F.lit("B-higher"))
            .when(F.col("z_raw").isNull(), F.lit(None).cast("string"))
            .otherwise(F.lit("no-difference"))
            .alias("verdict"),
        )
        .orderBy("cohort")
    )
