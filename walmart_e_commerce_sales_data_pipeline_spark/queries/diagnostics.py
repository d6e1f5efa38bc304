"""Pipeline-health diagnostics (extension surface, SURVEY.md §2.11):
data-quality auditing and trend estimation.

A 100 TB ingest runs a referential-integrity / constraint audit as a gate
before anything downstream trusts the tables, and fits cheap closed-form
trend lines over aggregated series for drift monitoring.  Both are pure
relational plans:

- ``referential_integrity_audit``: one conditional-aggregation pass per
  fact table (orphan foreign keys via LEFT join + null-probe, NOT an
  anti-join per check; null/range constraint violations as CASE sums in
  the same pass; primary-key duplication from one per-key aggregate), so
  the whole audit costs two joins and three scans regardless of how many
  checks ride along — the audit shape that still works when lineitem is
  the 100 TB table.
- ``revenue_trend_slope``: per-nation ordinary-least-squares slope of
  monthly revenue via sufficient statistics (n, Σx, Σy, Σxy, Σx²) — the
  classic distributed regression: two hash aggregates, no iteration, no
  driver-side math.  All sums stay exact integers (month index × exact
  cent totals) until one final deterministic double combination, so the
  slope is bit-identical cross-engine (queries/stable.py discipline).
"""

from __future__ import annotations

from bisect import bisect_left
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register
from .tables import local_frame, read_bounded, table


@register(
    "referential_integrity_audit",
    oracle="""
    WITH li_j AS (
        SELECT l.l_shipdate, l.l_extendedprice, l.l_discount,
               o.o_orderkey AS ok
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    li_agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS orphan,
               CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nullship,
               CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nonpos,
               CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS baddisc
        FROM li_j
    ),
    pk AS (
        SELECT CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c) - COUNT(*) AS BIGINT) AS violations
        FROM (
            SELECT COUNT(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber
        )
    ),
    o_agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS violations
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    checks AS (
        SELECT 'lineitem_orphan_order' AS check_name,
               orphan AS violations, total FROM li_agg
        UNION ALL
        SELECT 'lineitem_null_shipdate', nullship, total FROM li_agg
        UNION ALL
        SELECT 'lineitem_nonpositive_price', nonpos, total FROM li_agg
        UNION ALL
        SELECT 'lineitem_discount_out_of_range', baddisc, total FROM li_agg
        UNION ALL
        SELECT 'lineitem_duplicate_pk', violations, total FROM pk
        UNION ALL
        SELECT 'orders_orphan_customer', violations, total FROM o_agg
    )
    SELECT check_name, violations, total,
           ROUND(violations / total, 6) AS viol_rate
    FROM checks ORDER BY check_name
    """,
    description="referential-integrity and constraint audit over the fact "
    "tables: foreign-key orphans (lineitem->orders, orders->customer), "
    "null / non-positive / out-of-range constraint violations, and "
    "primary-key duplication, each reported as (violations, total, rate). "
    "Scale shape: orphans come from LEFT joins + null-probes folded into "
    "ONE conditional-aggregation pass per fact table (never an anti-join "
    "per check — adding a check adds a CASE column, not a scan), the "
    "PK-duplication check is a single per-key partial aggregate, and "
    "every branch reduces to a 1-row frame before the 6-row UNION, so "
    "the audit costs two shuffle joins + three scans however many "
    "constraints ride along",
    tags=("audit", "join", "agg", "quality"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    li_j = li.select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    ).join(
        o.select(F.col("o_orderkey").alias("ok")),
        F.col("l_orderkey") == F.col("ok"),
        "left",
    )
    one = F.lit(1)
    zero = F.lit(0)
    li_agg = li_j.agg(
        F.count(one).cast("long").alias("total"),
        F.sum(F.when(F.col("ok").isNull(), one).otherwise(zero))
        .cast("long")
        .alias("orphan"),
        F.sum(F.when(F.col("l_shipdate").isNull(), one).otherwise(zero))
        .cast("long")
        .alias("nullship"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, one).otherwise(zero))
        .cast("long")
        .alias("nonpos"),
        F.sum(F.when(~F.col("l_discount").between(0, 1), one).otherwise(zero))
        .cast("long")
        .alias("baddisc"),
    )
    li_checks = li_agg.selectExpr(
        "stack(4, 'lineitem_orphan_order', orphan,"
        "         'lineitem_null_shipdate', nullship,"
        "         'lineitem_nonpositive_price', nonpos,"
        "         'lineitem_discount_out_of_range', baddisc)"
        " AS (check_name, violations)",
        "total",
    )
    pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(one).alias("c"))
        .agg(
            (F.sum("c") - F.count(one)).cast("long").alias("violations"),
            F.sum("c").cast("long").alias("total"),
        )
        .select(
            F.lit("lineitem_duplicate_pk").alias("check_name"),
            "violations",
            "total",
        )
    )
    o_checks = (
        o.select("o_custkey")
        .join(
            c.select(F.col("c_custkey").alias("ck")),
            F.col("o_custkey") == F.col("ck"),
            "left",
        )
        .agg(
            F.sum(F.when(F.col("ck").isNull(), one).otherwise(zero))
            .cast("long")
            .alias("violations"),
            F.count(one).cast("long").alias("total"),
        )
        .select(
            F.lit("orders_orphan_customer").alias("check_name"),
            "violations",
            "total",
        )
    )
    return (
        li_checks.select("check_name", "violations", "total")
        .union(pk)
        .union(o_checks)
        .withColumn(
            "viol_rate", F.round(F.col("violations") / F.col("total"), 6)
        )
        .orderBy("check_name")
    )


@register(
    "revenue_trend_slope",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name,
               (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
               SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, x
    ),
    stats AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM monthly GROUP BY n_name
    )
    SELECT n_name, m AS n_months,
           ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
               AS slope_cents_per_month,
           ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
               AS intercept_cents
    FROM stats ORDER BY n_name
    """,
    description="per-nation OLS slope of the monthly revenue series via "
    "sufficient statistics: slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) over "
    "(month index, exact cent total) points — distributed closed-form "
    "regression, the drift-monitoring primitive (pinned against an "
    "independent numpy polyfit in tests/test_diagnostics.py).  Exactness: "
    "x is an integer month index and y an exact integer cent total "
    "(cent_sum pattern), so every sufficient statistic is an exact "
    "integer; the only floating arithmetic is the final slope/intercept "
    "combination, mirrored term-by-term through DOUBLE casts so both "
    "engines emit identical bits at any magnitude (integer->double "
    "conversion and IEEE multiply are deterministic even past 2^53, "
    "where staying in BIGINT would instead overflow).  Scale shape: two "
    "hash aggregates (monthly rollup, then per-group stats) behind two "
    "broadcast-able dimension joins; no iteration, no driver math, "
    "series length bounded by the calendar",
    tags=("agg", "regression", "join"),
)
def revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    x = (F.year("o_orderdate") - F.lit(1995)) * F.lit(12) + F.month(
        "o_orderdate"
    ) - F.lit(1)
    monthly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", x.alias("x"))
        .agg(
            # cents are rounded PER ORDER, then summed as exact BIGINTs
            # (the bootstrap/IVM/attribution pattern): rounding a float
            # SUM instead would depend on partition-order accumulation
            # near .5-cent boundaries (ADVICE r14).
            F.sum(
                F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
            ).alias("y")
        )
    )
    stats = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    den = md * sxxd - sxd * sxd
    return stats.select(
        "n_name",
        F.col("m").alias("n_months"),
        F.round((md * sxyd - sxd * syd) / den, 4).alias(
            "slope_cents_per_month"
        ),
        F.round((syd * sxxd - sxd * sxyd) / den, 4).alias("intercept_cents"),
    ).orderBy("n_name")


@register(
    "events_time_weighted_value",
    oracle="""
    WITH x AS (
        SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
               CAST(ROUND(value * 100.0) AS BIGINT) AS cents
        FROM events
    ),
    iv AS (
        SELECT user_id, cents,
               (LEAD(ts_ns) OVER w - ts_ns) // 1000 AS dur_us
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS span_us,
           ROUND(CAST(SUM(cents * dur_us) AS DOUBLE)
                 / CAST(SUM(dur_us) AS DOUBLE) / 100.0, 4) AS twa_value
    FROM iv WHERE dur_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="per-user TIME-WEIGHTED average event value: each event's "
    "value holds until the user's next event, so the mean weights values "
    "by interval duration instead of event count — the correct reading "
    "for state-like metrics (session quality, price level) under bursty "
    "sampling, where a plain AVG over-weights bursts.  Exactness: "
    "weights are exact integer microseconds (the ns timestamps are µs "
    "multiples, so the //1000 is lossless), values are exact integer "
    "cents, and both accumulators are exact BIGINT sums — the only "
    "float is the final ratio (deterministic IEEE on identical "
    "integers).  Scale shape: one shuffle on user_id shared by the lead "
    "window and the aggregation; per-user state is one row",
    tags=("event-time", "window", "agg"),
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts_ns",
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    iv = ev.select(
        "user_id",
        "cents",
        F.expr("(lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) - ts_ns) div 1000").alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dur_us").cast("long").alias("span_us"),
            F.round(
                F.sum(F.col("cents") * F.col("dur_us")).cast("double")
                / F.sum("dur_us").cast("double")
                / F.lit(100.0),
                4,
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@register(
    "revenue_decline_streaks",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name,
               (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
               SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, x
    ),
    flagged AS (
        SELECT n_name, x, y,
               CASE WHEN y < LAG(y) OVER w THEN 1 ELSE 0 END AS dec,
               LAG(y) OVER w - y AS drop_cents,
               ROW_NUMBER() OVER w AS rn
        FROM monthly
        WINDOW w AS (PARTITION BY n_name ORDER BY x)
    ),
    islands AS (
        SELECT n_name, drop_cents,
               rn - ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY x)
                   AS island
        FROM flagged WHERE dec = 1
    ),
    streaks AS (
        SELECT n_name, island,
               CAST(COUNT(*) AS BIGINT) AS len,
               CAST(MAX(drop_cents) AS BIGINT) AS worst_drop
        FROM islands GROUP BY n_name, island
    )
    SELECT n_name,
           CAST(SUM(len) AS BIGINT) AS n_decline_months,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(MAX(worst_drop) AS BIGINT) AS worst_drop_cents
    FROM streaks GROUP BY n_name
    ORDER BY n_name
    """,
    description="per-nation month-over-month revenue DECLINE STREAKS via "
    "gaps-and-islands over the aggregated series: consecutive declining "
    "months group into islands (row_number difference trick), reporting "
    "streak count, longest streak, total declining months, and the worst "
    "single-month drop — the drift-monitoring complement to "
    "revenue_trend_slope (a slope can hide an 8-month slide inside a "
    "recovering year).  All arithmetic is exact integer cents on a "
    "calendar-bounded series; windows and islands are keyed by nation.  "
    "Scale shape: the heavy work is the same monthly rollup as the "
    "slope query (partial aggregate to (nation, month) cells); "
    "everything downstream moves <= months-per-nation rows per key",
    tags=("window", "islands", "agg", "monitoring"),
)
def revenue_decline_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    x = (F.year("o_orderdate") - F.lit(1995)) * F.lit(12) + F.month(
        "o_orderdate"
    ) - F.lit(1)
    monthly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", x.alias("x"))
        .agg(
            # cents are rounded PER ORDER, then summed as exact BIGINTs
            # (the bootstrap/IVM/attribution pattern): rounding a float
            # SUM instead would depend on partition-order accumulation
            # near .5-cent boundaries (ADVICE r14).
            F.sum(
                F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
            ).alias("y")
        )
    )
    w = Window.partitionBy("n_name").orderBy("x")
    flagged = monthly.select(
        "n_name",
        "x",
        F.when(F.col("y") < F.lag("y").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .alias("dec"),
        (F.lag("y").over(w) - F.col("y")).alias("drop_cents"),
        F.row_number().over(w).alias("rn"),
    )
    wd = Window.partitionBy("n_name").orderBy("x")
    islands = flagged.filter(F.col("dec") == 1).select(
        "n_name",
        "drop_cents",
        (F.col("rn") - F.row_number().over(wd)).alias("island"),
    )
    streaks = islands.groupBy("n_name", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.max("drop_cents").cast("long").alias("worst_drop"),
    )
    return (
        streaks.groupBy("n_name")
        .agg(
            F.sum("len").cast("long").alias("n_decline_months"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.max("worst_drop").cast("long").alias("worst_drop_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join with measured false-positive rate.
# ---------------------------------------------------------------------------
#
# The runtime-filter primitive a 100 TB join pipeline ships to the fact
# side instead of the key set: m = 4096 bits, k = 3 probes, each probe a
# disjoint 3-hex-digit slice of ONE portable md5 (3 hex digits = exactly
# 12 bits = the 4096-bit address space, so the slicing is uniform and
# engine-identical).  Unlike Spark's builtin BloomFilter aggregate (seeded
# murmur, opaque bitmap) every position here is deterministic, so the
# whole filter — build, probe, and its false-positive behavior — carries
# an exact cross-engine oracle.
_BLOOM_BITS = 4096
_BLOOM_K = 3


def _bloom_pos_sql(h_expr: str, slot: int) -> str:
    hexd = "0123456789abcdef"
    p = 3 * slot + 1
    return (
        f"((instr('{hexd}', substring({h_expr}, {p}, 1)) - 1) * 256"
        f" + (instr('{hexd}', substring({h_expr}, {p + 1}, 1)) - 1) * 16"
        f" + (instr('{hexd}', substring({h_expr}, {p + 2}, 1)) - 1))"
    )


@register(
    "bloom_semijoin_stats",
    oracle=f"""
    WITH keys AS (
        SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS h
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            {" UNION ALL ".join(
                f"SELECT {_bloom_pos_sql('h', s)} AS pos FROM keys"
                for s in range(_BLOOM_K)
            )}
        )
    ),
    probes AS (
        SELECT DISTINCT o_custkey FROM orders
    ),
    ph AS (
        SELECT o_custkey, md5(CAST(o_custkey AS VARCHAR)) AS h FROM probes
    ),
    ppos AS (
        {" UNION ALL ".join(
            f"SELECT o_custkey, {_bloom_pos_sql('h', s)} AS pos FROM ph"
            for s in range(_BLOOM_K)
        )}
    ),
    verdict AS (
        SELECT p.o_custkey,
               CAST(COUNT(b.pos) AS BIGINT) = {_BLOOM_K} AS pass
        FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
        GROUP BY p.o_custkey
    ),
    o_pass AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pass
        FROM orders o JOIN verdict v ON v.o_custkey = o.o_custkey
        WHERE v.pass
    ),
    o_true AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true
        FROM orders o WHERE EXISTS (
            SELECT 1 FROM keys k WHERE k.c_custkey = o.o_custkey
        )
    ),
    nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits),
    no AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders)
    SELECT nk.n_keys, nb.bits_set, no.n_orders,
           o_pass.n_pass, o_true.n_true,
           o_pass.n_pass - o_true.n_true AS false_positives,
           ROUND((o_pass.n_pass - o_true.n_true)
                 / (no.n_orders - o_true.n_true), 6) AS fp_rate
    FROM nk, nb, no, o_pass, o_true
    """,
    description="Bloom-filter semi-join with MEASURED false-positive "
    "rate: a 4096-bit, k=3 filter built from the BUILDING-segment "
    "customer keys (each probe a disjoint 3-hex-digit slice of one "
    "portable md5 — 12 bits addresses the bitmap exactly), probed by "
    "every order's custkey, with the exact semi-join alongside so the "
    "output reports pass/true/false-positive counts and the realized "
    "fp rate — the runtime-filter primitive a 100 TB pipeline ships to "
    "the fact side instead of a key set, here with a fully "
    "deterministic layout so (unlike the builtin seeded BloomFilter "
    "aggregate) build, probe, AND error behavior carry an exact "
    "cross-engine oracle.  Realized fp_rate must straddle the "
    "(1-e^(-kn/m))^k theory value (asserted in tests/test_diagnostics"
    ".py).  Scale shape: the bit set is <= 4,096 rows however many keys "
    "feed it (the whole point — fixed-size filter state), probing is a "
    "distinct-key equi-join against that bounded set, and the exact "
    "branch is a plain key semi-join; nothing pairwise, nothing "
    "collected",
    tags=("join", "bloom", "sketch", "portable"),
)
def bloom_semijoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    keys = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.md5(F.col("c_custkey").cast("string")).alias("h")
    )
    pos_structs = lambda: F.explode(  # noqa: E731
        F.array(
            *[F.expr(_bloom_pos_sql("h", s)) for s in range(_BLOOM_K)]
        )
    ).alias("pos")
    bits = keys.select(pos_structs()).distinct()
    probes = o.select("o_custkey").distinct().withColumn(
        "h", F.md5(F.col("o_custkey").cast("string"))
    )
    ppos = probes.select("o_custkey", pos_structs())
    verdict = (
        ppos.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
        .select("o_custkey")
    )
    o_pass = o.join(verdict, "o_custkey", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_pass")
    )
    o_true = o.join(
        keys.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        "left_semi",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    nb = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    no = o.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    return (
        nk.crossJoin(nb)
        .crossJoin(no)
        .crossJoin(o_pass)
        .crossJoin(o_true)
        .select(
            "n_keys",
            "bits_set",
            "n_orders",
            "n_pass",
            "n_true",
            (F.col("n_pass") - F.col("n_true")).alias("false_positives"),
            F.round(
                F.try_divide(
                    F.col("n_pass") - F.col("n_true"),
                    F.col("n_orders") - F.col("n_true"),
                ),
                6,
            ).alias("fp_rate"),
        )
    )


def _ehb_oracle() -> str:
    cell_branches = " UNION ALL ".join(
        f"SELECT hour_ts, {_bloom_pos_sql('h', s)} AS pos FROM hb"
        for s in range(_BLOOM_K)
    )
    probe_branches = " UNION ALL ".join(
        f"SELECT hour_ts, user_id, {_bloom_pos_sql('h', s)} AS pos FROM pr"
        for s in range(_BLOOM_K)
    )
    return f"""
    WITH ev AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
               user_id
        FROM events
    ),
    hu AS (SELECT DISTINCT hour_ts, user_id FROM ev),
    nh AS (
        SELECT hour_ts, CAST(COUNT(*) AS BIGINT) AS n_hour_users
        FROM hu GROUP BY hour_ts
    ),
    hb AS (
        SELECT hour_ts, md5(CAST(user_id AS VARCHAR)) AS h FROM hu
    ),
    bits AS (SELECT DISTINCT hour_ts, pos FROM ({cell_branches})),
    nb AS (
        SELECT hour_ts, CAST(COUNT(*) AS BIGINT) AS bits_set
        FROM bits GROUP BY hour_ts
    ),
    pr AS (
        SELECT hour_ts - INTERVAL '1 hour' AS hour_ts, user_id,
               md5(CAST(user_id AS VARCHAR)) AS h
        FROM hu
    ),
    nn AS (
        SELECT hour_ts, CAST(COUNT(*) AS BIGINT) AS n_next_users
        FROM pr GROUP BY hour_ts
    ),
    ppos AS ({probe_branches}),
    verdict AS (
        SELECT p.hour_ts, p.user_id,
               CAST(COUNT(b.pos) AS BIGINT) = {_BLOOM_K} AS pass
        FROM ppos p
        LEFT JOIN bits b ON b.hour_ts = p.hour_ts AND b.pos = p.pos
        GROUP BY p.hour_ts, p.user_id
    ),
    np AS (
        SELECT hour_ts,
               CAST(COUNT(*) FILTER (WHERE pass) AS BIGINT) AS n_pass
        FROM verdict GROUP BY hour_ts
    ),
    tr AS (
        SELECT a.hour_ts, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM hu a JOIN hu b
          ON b.user_id = a.user_id
         AND b.hour_ts = a.hour_ts + INTERVAL '1 hour'
        GROUP BY a.hour_ts
    )
    SELECT STRFTIME(nh.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_start,
           nh.n_hour_users, nb.bits_set, nn.n_next_users,
           COALESCE(np.n_pass, 0) AS n_pass,
           COALESCE(tr.n_true, 0) AS n_true_returns,
           COALESCE(np.n_pass, 0) - COALESCE(tr.n_true, 0) AS false_positives,
           ROUND(CAST(COALESCE(np.n_pass, 0) - COALESCE(tr.n_true, 0) AS DOUBLE)
                 / NULLIF(nn.n_next_users - COALESCE(tr.n_true, 0), 0), 6)
               AS fp_rate
    FROM nh
    JOIN nb ON nb.hour_ts = nh.hour_ts
    JOIN nn ON nn.hour_ts = nh.hour_ts
    LEFT JOIN np ON np.hour_ts = nh.hour_ts
    LEFT JOIN tr ON tr.hour_ts = nh.hour_ts
    ORDER BY hour_start
    """


@register(
    "events_hourly_bloom_returns",
    oracle=_ehb_oracle(),
    description="per-hour Bloom-filter returning-user prescreen: for every "
    "tumbling event-time hour H whose successor hour exists, hour H+1's "
    "users are probed against hour H's 4,096-bit k=3 Bloom filter (same "
    "deterministic portable-md5 slice geometry as bloom_semijoin_stats), "
    "with the exact hour-over-hour return join alongside so the output "
    "reports pass / true-return / false-positive counts and the realized "
    "fp rate per hour — the batch twin of the streaming operator "
    "streaming.events.hourly_user_bloom (stream == batch pinned in "
    "tests/test_streaming.py), giving the third streaming sketch family "
    "(membership, beside CMS frequency and histogram quantiles) an "
    "external oracle.  This is the 'was this user active last hour?' "
    "prescreen a 100 TB stream answers from 4 KB of state per hour "
    "instead of the user set.  Scale shape: the filter aggregation's key "
    "domain is (hour, pos) — bounded at 4,096 rows per hour however many "
    "users arrive, exactly the streaming twin's state-size claim; the "
    "probe is a (hour, pos)-keyed equi-join against that bounded set; "
    "the exact branch is an (hour+1, user)-keyed self-join of the "
    "distinct hour-user pairs; nothing pairwise, nothing collected",
    tags=("sketch", "bloom", "event-time", "portable", "streaming-twin"),
)
def events_hourly_bloom_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # Materialize the distinct hour-user frame once (r19, VERDICT r18
    # item 6): it fans into SIX consumers (per-hour totals, the bloom
    # bit table, next-hour probes x2, and BOTH sides of the true-return
    # self-join), and the r18 sf0.1 persist probe that read wall-neutral
    # under-measured it — the sf1 A/B shows real byte savings: shuffle
    # 88.9 -> 74.7 MB and wall 5.78 -> 5.43 s at sf1, 3.03 -> 1.97 s at
    # sf0.1 (min of 2, plans/r19).  Bounded state: one row per distinct
    # (hour, user).
    hu = (
        ev.select(
            F.window("ts", "1 hour").getField("start").alias("hour_ts"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nh = hu.groupBy("hour_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_hour_users")
    )
    pos_array = lambda: F.explode(  # noqa: E731
        F.array(*[F.expr(_bloom_pos_sql("h", s)) for s in range(_BLOOM_K)])
    ).alias("pos")
    hb = hu.select("hour_ts", F.md5(F.col("user_id").cast("string")).alias("h"))
    bits = hb.select("hour_ts", pos_array()).distinct()
    nb = bits.groupBy("hour_ts").agg(
        F.count(F.lit(1)).cast("long").alias("bits_set")
    )
    pr = hu.select(
        (F.col("hour_ts") - F.expr("INTERVAL 1 HOUR")).alias("hour_ts"),
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    nn = pr.groupBy("hour_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_next_users")
    )
    ppos = pr.select("hour_ts", "user_id", pos_array())
    np_ = (
        ppos.join(bits, ["hour_ts", "pos"])
        .groupBy("hour_ts", "user_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
        .groupBy("hour_ts")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pass"))
    )
    tr = (
        hu.alias("a")
        .join(
            hu.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (
                F.col("b.hour_ts")
                == F.col("a.hour_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .groupBy(F.col("a.hour_ts").alias("hour_ts"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    fp = F.col("n_pass") - F.col("n_true_returns")
    denom = F.col("n_next_users") - F.col("n_true_returns")
    return (
        nh.join(nb, "hour_ts")
        .join(nn, "hour_ts")
        .join(np_, "hour_ts", "left")
        .join(tr, "hour_ts", "left")
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n_hour_users",
            "bits_set",
            "n_next_users",
            F.coalesce("n_pass", F.lit(0).cast("long")).alias("n_pass"),
            F.coalesce("n_true", F.lit(0).cast("long")).alias("n_true_returns"),
        )
        .select(
            "hour_start", "n_hour_users", "bits_set", "n_next_users",
            "n_pass", "n_true_returns",
            fp.alias("false_positives"),
            F.when(denom == 0, F.lit(None).cast("double"))
            .otherwise(F.round(fp.cast("double") / denom, 6))
            .alias("fp_rate"),
        )
        .orderBy("hour_start")
    )


@register(
    "revenue_theilsen_slope",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name,
               (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS x,
               SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, x
    ),
    pairs AS (
        SELECT a.n_name,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                   AS slope,
               a.x AS x1, b.x AS x2
        FROM monthly a
        JOIN monthly b ON a.n_name = b.n_name AND a.x < b.x
    ),
    rk AS (
        SELECT n_name, slope,
               ROW_NUMBER() OVER (
                   PARTITION BY n_name ORDER BY slope, x1, x2) AS rk,
               COUNT(*) OVER (PARTITION BY n_name) AS cnt
        FROM pairs
    ),
    med AS (
        SELECT n_name, CAST(cnt AS BIGINT) AS n_pairs,
               ROUND((MIN(slope) + MAX(slope)) / 2.0, 4) AS ts_slope_cpm
        FROM rk
        WHERE rk BETWEEN (cnt + 1) // 2 AND (cnt + 2) // 2
        GROUP BY n_name, cnt
    )
    SELECT m.n_name, mo.n_months, m.n_pairs, m.ts_slope_cpm
    FROM med m
    JOIN (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months
          FROM monthly GROUP BY n_name) mo ON m.n_name = mo.n_name
    ORDER BY m.n_name
    """,
    description="per-nation Theil-Sen trend slope of the monthly revenue "
    "series: the MEDIAN of all pairwise slopes (y2-y1)/(x2-x1) — the "
    "robust complement to revenue_trend_slope's OLS (one promo-spike "
    "month drags a least-squares fit but moves at most half the "
    "pairwise slopes, so the median shrugs; breakdown point 29%, Sen "
    "1968).  Exactness: each slope is ONE IEEE division of exact "
    "integers (exact cent totals over integer month deltas — "
    "deterministic bits on any engine); the median never touches a "
    "quantile builtin, whose interpolation arithmetic differs per "
    "engine at the last ulp — instead both sides rank slopes with a "
    "deterministic (slope, x1, x2) tie-break and average the two "
    "middle ranks with the SAME (min+max)/2 expression.  Scale shape: "
    "the fact scan collapses to the calendar-bounded monthly rollup "
    "FIRST, so the pairwise explosion is C(n_months,2) <= ~3.5k rows "
    "per nation (calendar^2 x nation-dimension, independent of "
    "lineitem scale); the self-join is an equi-join on n_name and "
    "both windows are nation-partitioned",
    tags=("agg", "regression", "robust", "window"),
)
def revenue_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    x = (F.year("o_orderdate") - F.lit(1995)) * F.lit(12) + F.month(
        "o_orderdate"
    ) - F.lit(1)
    monthly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", x.alias("x"))
        .agg(
            # cents are rounded PER ORDER, then summed as exact BIGINTs
            # (the bootstrap/IVM/attribution pattern): rounding a float
            # SUM instead would depend on partition-order accumulation
            # near .5-cent boundaries (ADVICE r14).
            F.sum(
                F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
            ).alias("y")
        )
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    )
    wp = Window.partitionBy("n_name")
    rk = pairs.select(
        "n_name",
        "slope",
        F.row_number()
        .over(wp.orderBy("slope", "x1", "x2"))
        .alias("rk"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    med = (
        rk.filter(
            (F.col("rk") >= F.expr("(cnt + 1) div 2"))
            & (F.col("rk") <= F.expr("(cnt + 2) div 2"))
        )
        .groupBy("n_name", "cnt")
        .agg(
            F.round(
                (F.min("slope") + F.max("slope")) / F.lit(2.0), 4
            ).alias("ts_slope_cpm")
        )
        .select(
            "n_name",
            F.col("cnt").cast("long").alias("n_pairs"),
            "ts_slope_cpm",
        )
    )
    months = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_months")
    )
    return (
        med.join(months, "n_name")
        .select("n_name", "n_months", "n_pairs", "ts_slope_cpm")
        .orderBy("n_name")
    )


# Poisson(1) inverse-CDF thresholds as exact 16-bit integers:
# t_k = floor(P(X <= k) * 2^16).  A replicate membership draw compares a
# 16-bit slice of the portable md5 against these literals — no float CDF
# math ever runs, so the multiplicity is a pure integer function both
# engines compute identically.  P(X > 6) maps to the top 6/65536 of the
# slice range (~9.2e-5 vs the true 8.3e-5): the ladder caps at 7, a
# deterministic (and cross-engine identical) truncation both sides
# share.  16-bit resolution quantizes each CDF step by < 1.6e-5 —
# immaterial against bootstrap noise at B = 32.
_POISSON1_T16 = (24109, 48218, 60273, 64291, 65296, 65497, 65530)

_BOOTSTRAP_B = 32
# One md5 serves 8 replicates: the 32-hex digest is cut into eight
# disjoint 4-hex (16-bit) slices, so the hash fold runs B/8 = 4 times
# per order instead of B times (measured 13.5 s -> ~2 s at sf0.1).
_BOOT_SLICES = 8
_BOOT_GROUPS = _BOOTSTRAP_B // _BOOT_SLICES

_HEX = "0123456789abcdef"


def _slice16_sql(md5_expr: str, s_expr: str) -> str:
    """16-bit integer from hex chars [4s+1, 4s+4] of a 32-hex digest."""
    terms = " + ".join(
        f"(instr('{_HEX}', substring({md5_expr}, ({s_expr}) * 4 + {i + 1},"
        f" 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    return f"({terms})"


def _poisson_mult_sql(hv_expr: str) -> str:
    cases = " ".join(
        f"WHEN {hv_expr} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_T16)
    )
    return f"CAST(CASE {cases} ELSE 7 END AS BIGINT)"


def _bootstrap_oracle() -> str:
    return f"""
    WITH o AS (
        SELECT o.o_orderkey AS k, n.n_name,
               CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
    ),
    hashed AS (
        SELECT o.n_name, o.cents, g.g,
               md5(concat(CAST(o.k AS VARCHAR), ':',
                          CAST(g.g AS VARCHAR))) AS h
        FROM o, (SELECT CAST(range AS INTEGER) AS g
                 FROM range({_BOOT_GROUPS})) g
    ),
    drawn AS (
        SELECT n_name, cents,
               CAST(g * {_BOOT_SLICES} + sl.s AS INTEGER) AS b,
               {_poisson_mult_sql(_slice16_sql('h', 'sl.s'))} AS m
        FROM hashed, (SELECT CAST(range AS INTEGER) AS s
                      FROM range({_BOOT_SLICES})) sl
    ),
    rep AS (
        SELECT n_name, b, CAST(SUM(m * cents) AS BIGINT) AS s,
               CAST(SUM(m) AS BIGINT) AS cnt
        FROM drawn GROUP BY n_name, b
        HAVING SUM(m) > 0
    ),
    ranked AS (
        SELECT n_name, b,
               CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean_b,
               ROW_NUMBER() OVER (
                   PARTITION BY n_name
                   ORDER BY CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), b
               ) AS rk,
               COUNT(*) OVER (PARTITION BY n_name) AS nb
        FROM rep
    ),
    ci AS (
        SELECT n_name,
               MAX(CASE WHEN rk = 2 THEN mean_b END) AS lo,
               MAX(CASE WHEN rk = nb - 1 THEN mean_b END) AS hi
        FROM ranked GROUP BY n_name
    ),
    point AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS sc
        FROM o GROUP BY n_name
    )
    SELECT p.n_name, p.n_orders,
           ROUND(CAST(p.sc AS DOUBLE) / CAST(p.n_orders AS DOUBLE)
                 / 100.0, 4) AS mean_value,
           ROUND(ci.lo / 100.0, 4) AS ci_lo,
           ROUND(ci.hi / 100.0, 4) AS ci_hi
    FROM point p JOIN ci ON p.n_name = ci.n_name
    ORDER BY p.n_name
    """


@register(
    "bootstrap_ci_revenue",
    oracle=_bootstrap_oracle(),
    description="per-nation mean order value with a POISSON-BOOTSTRAP "
    "confidence band: each order joins replicate b with multiplicity "
    "Poisson(1), drawn by comparing a 16-bit slice of the portable md5 "
    "of (orderkey, replicate-group) against exact integer inverse-CDF "
    "thresholds — the distributed bootstrap (Chamandy et al., Google "
    "2012): no resampling shuffle, no RNG state, multiplicities are a "
    "map-side integer expression, so the same replicate assembles "
    "identically on any engine, run, or partitioning and the whole "
    "estimator is oracle-checkable bit-for-bit.  One md5 digest serves "
    "EIGHT replicates (its eight disjoint 4-hex slices), amortizing "
    "the hash fold to B/8 evaluations per order; replicate sums stay "
    "exact BIGINT (cents x multiplicity); each replicate mean is ONE "
    "IEEE division; the band is rank-selected (2nd / (B-1)th of B=32 "
    "sorted means — a ~94% central interval), never a quantile "
    "builtin.  Scale shape: the explode is a fixed x4-then-x8 map-side "
    "fan-out feeding one (nation, b)-keyed aggregate — per-group state "
    "is two BIGINTs, replicate count is a config constant, and the "
    "rank window ranks 32 rows per nation; the P(X>6) ~ 9e-5 "
    "multiplicity cap is a deterministic truncation both engines "
    "share",
    tags=("statistics", "bootstrap", "portable", "window"),
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    src = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("o_orderkey").alias("k"),
            "n_name",
            F.round(F.col("o_totalprice") * F.lit(100.0), 0)
            .cast("long")
            .alias("cents"),
        )
    )
    # Spread the fan-out across tasks BEFORE the x32 multiply: the
    # replicate explode multiplies CPU (md5 folds) without multiplying
    # input splits, so a small scan (sf0.1 orders = one parquet file =
    # one task) would otherwise run the whole bootstrap single-threaded.
    # One narrow (k, nation, cents) shuffle buys core-count parallelism
    # on the 32x downstream work — the fan-out-before-spread trap.  The
    # partition count is EXPLICIT: AQE sizes exchanges by bytes and
    # would coalesce this small-by-bytes/heavy-by-CPU shuffle back to
    # one task (measured: column-only repartition stayed single-task).
    src = src.repartition(
        spark.sparkContext.defaultParallelism, "k"
    )
    # Two-level fan-out amortizes the hash: the md5 is computed once per
    # (order, group) and its eight 16-bit slices serve replicates
    # b = g*8 .. g*8+7 — B multiplicity draws for B/8 digest folds.
    hashed = src.select(
        "n_name",
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_GROUPS - 1))
        ).alias("g"),
        "k",
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("k").cast("string"),
                F.lit(":"),
                F.col("g").cast("string"),
            )
        ),
    )
    drawn = (
        hashed.select(
            "n_name",
            "cents",
            "g",
            "h",
            F.explode(
                F.sequence(F.lit(0), F.lit(_BOOT_SLICES - 1))
            ).alias("s"),
        )
        .withColumn("hv", F.expr(_slice16_sql("h", "s")))
        .select(
            "n_name",
            "cents",
            (F.col("g") * _BOOT_SLICES + F.col("s"))
            .cast("int")
            .alias("b"),
            F.expr(_poisson_mult_sql("hv")).alias("m"),
        )
    )
    rep = (
        drawn.groupBy("n_name", "b")
        .agg(
            F.sum(F.col("m") * F.col("cents")).cast("long").alias("s"),
            F.sum("m").cast("long").alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    mean_b = F.col("s").cast("double") / F.col("cnt").cast("double")
    wp = Window.partitionBy("n_name")
    ranked = rep.select(
        "n_name",
        "b",
        mean_b.alias("mean_b"),
        F.row_number().over(wp.orderBy(mean_b, "b")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("nb"),
    )
    ci = ranked.groupBy("n_name").agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_b"))).alias("lo"),
        F.max(
            F.when(F.col("rk") == F.col("nb") - 1, F.col("mean_b"))
        ).alias("hi"),
    )
    point = src.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sc"),
    )
    return (
        point.join(ci, "n_name")
        .select(
            "n_name",
            "n_orders",
            F.round(
                F.col("sc").cast("double")
                / F.col("n_orders").cast("double")
                / F.lit(100.0),
                4,
            ).alias("mean_value"),
            F.round(F.col("lo") / F.lit(100.0), 4).alias("ci_lo"),
            F.round(F.col("hi") / F.lit(100.0), 4).alias("ci_hi"),
        )
        .orderBy("n_name")
    )


# --- two-regressor OLS: trend + Q4 seasonality via Cramer's rule ------------

def _det3_sql(a, b, c, d, e, f, g, h, i):
    """3x3 determinant with a FIXED expansion order (first-row cofactors),
    written once and reused verbatim on both engines so the double
    arithmetic is bit-identical: a(ei-fh) - b(di-fg) + c(dh-eg)."""
    return (
        f"({a} * ({e} * {i} - {f} * {h})"
        f" - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


_SEAS_CAST = {
    k: f"CAST({k} AS DOUBLE)"
    for k in ("n", "st", "sq", "stt", "stq", "sqq", "sy", "sty", "sqy")
}


def _seasonality_dets() -> dict[str, str]:
    c = _SEAS_CAST
    return {
        "det": _det3_sql(c["n"], c["st"], c["sq"],
                         c["st"], c["stt"], c["stq"],
                         c["sq"], c["stq"], c["sqq"]),
        "det0": _det3_sql(c["sy"], c["st"], c["sq"],
                          c["sty"], c["stt"], c["stq"],
                          c["sqy"], c["stq"], c["sqq"]),
        "dett": _det3_sql(c["n"], c["sy"], c["sq"],
                          c["st"], c["sty"], c["stq"],
                          c["sq"], c["sqy"], c["sqq"]),
        "detq": _det3_sql(c["n"], c["st"], c["sy"],
                          c["st"], c["stt"], c["sty"],
                          c["sq"], c["stq"], c["sqy"]),
    }


def _seasonality_oracle() -> str:
    d = _seasonality_dets()
    return f"""
    WITH monthly AS (
        SELECT n.n_name,
               (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                   + EXTRACT(month FROM o.o_orderdate) - 1 AS t,
               CASE WHEN EXTRACT(month FROM o.o_orderdate) >= 10
                    THEN 1 ELSE 0 END AS q4,
               SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3
    ),
    stats AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(q4) AS BIGINT) AS sq,
               CAST(SUM(t * t) AS BIGINT) AS stt,
               CAST(SUM(t * q4) AS BIGINT) AS stq,
               CAST(SUM(q4 * q4) AS BIGINT) AS sqq,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(t * y) AS BIGINT) AS sty,
               CAST(SUM(q4 * y) AS BIGINT) AS sqy
        FROM monthly GROUP BY n_name
    )
    SELECT n_name, n AS n_months,
           ROUND({d['det0']} / {d['det']}, 2) AS intercept_cents,
           ROUND({d['dett']} / {d['det']}, 4) AS trend_cpm,
           ROUND({d['detq']} / {d['det']}, 2) AS q4_lift_cents
    FROM stats ORDER BY n_name
    """


@register(
    "revenue_seasonality_regression",
    oracle=_seasonality_oracle(),
    description="per-nation TWO-regressor least squares on the monthly "
    "revenue series — y ~ intercept + trend*t + q4_lift*is_Q4 — solved "
    "in closed form by Cramer's rule over the 3x3 normal equations: "
    "the multivariate extension of revenue_trend_slope that separates "
    "secular drift from the holiday-quarter lift (a plain slope "
    "conflates them whenever Q4 months cluster late in a partial "
    "year).  Exactness: all nine sufficient statistics are exact "
    "BIGINTs (integer month index, 0/1 Q4 indicator, exact cent "
    "totals); the four 3x3 determinants expand in ONE fixed cofactor "
    "order shared verbatim by both engines (_det3_sql), so every "
    "double is deterministic IEEE on identical integers — a matrix "
    "solve with a bit-exact oracle and no linear-algebra library.  "
    "Pinned against numpy lstsq in tests/test_diagnostics.py.  Scale "
    "shape: identical to the OLS slope — two stacked hash aggregates "
    "behind broadcast dimension joins, no iteration, series length "
    "calendar-bounded; adding a regressor adds sufficient-statistic "
    "columns, never a pass",
    tags=("agg", "regression", "seasonality"),
)
def revenue_seasonality_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    t = (F.year("o_orderdate") - F.lit(1995)) * F.lit(12) + F.month(
        "o_orderdate"
    ) - F.lit(1)
    q4 = F.when(F.month("o_orderdate") >= 10, F.lit(1)).otherwise(F.lit(0))
    monthly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", t.alias("t"), q4.alias("q4"))
        .agg(
            # cents are rounded PER ORDER, then summed as exact BIGINTs
            # (the bootstrap/IVM/attribution pattern): rounding a float
            # SUM instead would depend on partition-order accumulation
            # near .5-cent boundaries (ADVICE r14).
            F.sum(
                F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
            ).alias("y")
        )
    )
    stats = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("q4").cast("long").alias("sq"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("q4")).cast("long").alias("stq"),
        F.sum(F.col("q4") * F.col("q4")).cast("long").alias("sqq"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("q4") * F.col("y")).cast("long").alias("sqy"),
    )
    d = _seasonality_dets()
    return stats.select(
        "n_name",
        F.col("n").alias("n_months"),
        F.round(F.expr(f"{d['det0']} / {d['det']}"), 2).alias(
            "intercept_cents"
        ),
        F.round(F.expr(f"{d['dett']} / {d['det']}"), 4).alias("trend_cpm"),
        F.round(F.expr(f"{d['detq']} / {d['det']}"), 2).alias(
            "q4_lift_cents"
        ),
    ).orderBy("n_name")


# --- Benford first-digit conformance profile ---------------------------------


@register(
    "benford_digit_profile",
    oracle="""
    WITH w AS (
        SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
        FROM orders
        WHERE o_totalprice > 0
    ),
    d AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
                   AS digit
        FROM w
    ),
    digits AS (SELECT UNNEST(range(1, 10)) AS digit),
    cnt AS (
        SELECT digits.digit,
               CAST(COALESCE(COUNT(d.digit), 0) AS BIGINT) AS n
        FROM digits LEFT JOIN d ON d.digit = digits.digit
        GROUP BY digits.digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cnt)
    SELECT CAST(cnt.digit AS INT) AS digit, cnt.n, tot.n_total,
           ROUND(CAST(cnt.n AS DOUBLE) / tot.n_total, 6) AS obs_freq,
           ROUND(log10(1.0 + 1.0 / cnt.digit), 6) AS benford_freq,
           ROUND(
               POWER(cnt.n - tot.n_total * log10(1.0 + 1.0 / cnt.digit), 2)
               / (tot.n_total * log10(1.0 + 1.0 / cnt.digit)), 4
           ) AS chi2_contrib
    FROM cnt, tot
    ORDER BY digit
    """,
    description="Benford's-law first-significant-digit conformance "
    "profile of order totals — the forensic data-quality screen "
    "(Nigrini 1996; Hill 1995 proves the log distribution for "
    "scale-invariant data): for each leading digit d in 1..9 of the "
    "integer-cent total, the observed count and frequency beside the "
    "Benford expectation log10(1 + 1/d) and the per-digit chi-square "
    "contribution (n_d - N p_d)^2 / (N p_d) — a synthetic or tampered "
    "ledger shows up as mass piled on low-information digits.  All nine "
    "digit rows always emit (a digits dimension left-joins the counts), "
    "so the profile's shape is fixed; counts are exact BIGINT, the "
    "first digit comes from the decimal STRING of the exact cents (no "
    "float log for the digit itself), and the three float columns round "
    "at 6/6/4 dp after identical IEEE formulas.  Scale shape: one "
    "map-side-combined 9-group aggregate over a single pruned column "
    "scan, a broadcast 1-row total, and a broadcast 9-row dimension — "
    "nothing grows with data volume",
    tags=("profiling", "quality", "agg", "exact-cents"),
)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.round(F.col("o_totalprice") * F.lit(100.0), 0)
            .cast("long")
            .alias("cents")
        )
    )
    d = w.select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = (
        digits.join(cnt, "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
    )
    tot = full.agg(F.sum("n").cast("long").alias("n_total"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    exp_n = F.col("n_total") * p
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            "n_total",
            F.round(F.try_divide(F.col("n").cast("double"), F.col("n_total")), 6).alias(
                "obs_freq"
            ),
            F.round(p, 6).alias("benford_freq"),
            F.round(
                F.try_divide(F.pow(F.col("n") - exp_n, F.lit(2.0)), exp_n), 4
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


# --- Lorenz curve + exact Gini coefficient -----------------------------------

# $500 zone width for the rank decomposition.  The bucket-summary table is
# bounded by max-customer-revenue / width; max customer revenue is fixed by
# the TPC-H shape (orders-per-customer and price range are scale-invariant,
# so the bucket count does NOT grow with SF — ~14.7k buckets at any scale).
_GINI_BUCKET_CENTS = 50_000


def _gini_oracle() -> str:
    return """
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS r
        FROM orders GROUP BY o_custkey
    ),
    grp AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM cust GROUP BY r),
    w AS (
        SELECT r, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS c_lt,
               CAST(COALESCE(SUM(c * r) OVER (ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS rev_lt
        FROM grp
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * r) AS BIGINT) AS total
        FROM grp
    ),
    s AS (
        SELECT SUM(CAST(c AS DECIMAL(38,0)) * (2 * c_lt + c + 1) * r) AS s
        FROM w
    ),
    g AS (
        SELECT ROUND(
            CAST(s.s - (CAST(tot.n AS DECIMAL(38,0)) + 1) * tot.total
                 AS DOUBLE)
            / (CAST(tot.n AS DOUBLE) * CAST(tot.total AS DOUBLE)), 6) AS gini
        FROM s, tot
    ),
    d AS (SELECT UNNEST(range(1, 11)) AS decile),
    k AS (
        SELECT CAST(d.decile AS INT) AS decile,
               CAST((tot.n * d.decile) // 10 AS BIGINT) AS rank_k
        FROM d, tot
    ),
    pick AS (
        SELECT k.decile, k.rank_k,
               CAST(w.rev_lt + (k.rank_k - w.c_lt) * w.r AS BIGINT)
                   AS cum_rev_cents
        FROM k JOIN w
          ON w.c_lt < k.rank_k AND k.rank_k <= w.c_lt + w.c
    )
    SELECT pick.decile, pick.rank_k, pick.cum_rev_cents,
           ROUND(CAST(pick.cum_rev_cents AS DOUBLE) / tot.total, 6)
               AS cum_rev_share,
           ROUND(CAST(pick.rank_k AS DOUBLE) / tot.n, 6) AS pop_share,
           g.gini, tot.n AS n_customers, tot.total AS total_cents
    FROM pick, g, tot
    ORDER BY pick.decile
    """


@register(
    "revenue_gini_lorenz",
    oracle=_gini_oracle(),
    description="EXACT Gini coefficient of customer revenue concentration "
    "plus the 10-point Lorenz curve — the inequality profile behind "
    "'what share of revenue do the top decile hold'.  Gini by the "
    "tied-rank formula G = (SUM(R_i x_i) - (n+1) SUM(x)) / (n SUM(x)) "
    "with R_i = 2*avg_rank_i; ties collapse per distinct revenue value v "
    "(the c-sized block at ranks (c_lt, c_lt+c] contributes "
    "c*(2*c_lt+c+1)*v in ONE row), so everything is integer arithmetic "
    "in DECIMAL(38,0) accumulators (the per-term product already passes "
    "2^63 — corr_matrix_lineitem's lesson applied a priori) until one "
    "final rounded division whose n*total denominator multiplies in "
    "DOUBLE (each factor cast first, both engines): n~1.5e7 x "
    "total~2.3e15 cents at sf100 would wrap a BIGINT product.  "
    "The ORACLE ranks definitionally with one "
    "global window; the Spark plan must not, so global rank decomposes "
    "scale-safely (the skyline/zscore zone pattern): c_lt = bucket-"
    "summary prefix sum (an unpartitioned window over the $500-bucket "
    "summary, DOMAIN-bounded at ~14.7k rows at ANY scale factor because "
    "TPC-H's orders-per-customer and price range are scale-invariant — "
    "whitelisted with justification in test_plan_sweep.py) + an "
    "intra-bucket running sum (window PARTITIONED by bucket).  Lorenz "
    "deciles read the rank-k revenue prefix exactly: the tied block "
    "containing rank k splits as rev_lt + (k - c_lt)*v, so no "
    "interpolation ambiguity exists for either engine.  The tied-rank "
    "formula == the pairwise mean-absolute-difference definition for "
    "ANY input (hypothesis-pinned in tests/test_round15_properties.py).  "
    "Scale shape: two keyed aggregates, one bucket-partitioned window, "
    "one bounded-summary window, a 10-row broadcast dimension range-join "
    "— no global sort, no per-customer window",
    tags=("profiling", "window", "exact-cents", "inequality"),
)
def revenue_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * F.lit(100.0), 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("r"))
    )
    grp = cust.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grp = grp.withColumn("b", F.expr(f"r div {_GINI_BUCKET_CENTS}"))
    in_bucket = (
        Window.partitionBy("b")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.withColumn(
        "c_lt_in", F.coalesce(F.sum("c").over(in_bucket), F.lit(0))
    ).withColumn(
        "rev_lt_in",
        F.coalesce(F.sum(F.col("c") * F.col("r")).over(in_bucket), F.lit(0)),
    )
    summary = grp.groupBy("b").agg(
        F.sum("c").cast("long").alias("cnt_b"),
        F.sum(F.col("c") * F.col("r")).cast("long").alias("rev_b"),
    )
    below = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    summary = summary.select(
        "b",
        F.coalesce(F.sum("cnt_b").over(below), F.lit(0)).alias("cnt_below"),
        F.coalesce(F.sum("rev_b").over(below), F.lit(0)).alias("rev_below"),
    )
    w = grp.join(F.broadcast(summary), "b").select(
        "r",
        "c",
        (F.col("cnt_below") + F.col("c_lt_in")).cast("long").alias("c_lt"),
        (F.col("rev_below") + F.col("rev_lt_in")).cast("long").alias("rev_lt"),
    )
    tot = grp.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("r")).cast("long").alias("total"),
    )
    s = w.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (2 * F.col("c_lt") + F.col("c") + 1)
            * F.col("r")
        ).alias("s")
    )
    g = s.crossJoin(F.broadcast(tot)).select(
        F.round(
            (
                F.col("s")
                - (F.col("n").cast("decimal(38,0)") + 1) * F.col("total")
            ).cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("gini")
    )
    k = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.expr("(n * decile) div 10").cast("long").alias("rank_k"),
        )
    )
    pick = w.join(
        F.broadcast(k),
        (F.col("c_lt") < F.col("rank_k"))
        & (F.col("rank_k") <= F.col("c_lt") + F.col("c")),
    ).select(
        "decile",
        "rank_k",
        (F.col("rev_lt") + (F.col("rank_k") - F.col("c_lt")) * F.col("r"))
        .cast("long")
        .alias("cum_rev_cents"),
    )
    return (
        pick.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "rank_k",
            "cum_rev_cents",
            F.round(
                F.col("cum_rev_cents").cast("double") / F.col("total"), 6
            ).alias("cum_rev_share"),
            F.round(F.col("rank_k").cast("double") / F.col("n"), 6).alias(
                "pop_share"
            ),
            "gini",
            F.col("n").alias("n_customers"),
            F.col("total").alias("total_cents"),
        )
        .orderBy("decile")
    )


# --- the monthly revenue series: one bounded (month, cents) read --------------

# From here on, the monthly-series, score and length statistics and
# event_dow_independence fold bounded cell tables on the driver.
# Integers stay exact Python ints, and each double sum adds its terms in
# the oracle's window order with Spark's expression order, so the float
# bits match the window plans they replace.  Rounding, sqrt, exp and ln
# stay Spark readout expressions over a local frame: Spark's HALF_UP
# round and StrictMath are not Python's.  The monthly and score folds
# keep SQL's NULLs (a month or score key of NULL sorts first, a NULL
# term drops out of a sum, a sum of no terms is NULL), so a NULL date,
# price or value gives the rows the window plans gave.


def _null_first(v) -> tuple:
    """Sort key of a value: ascending, NULL first, as Spark's ascending
    order puts it."""
    return (v is not None, v)


def _sorted_cells(agg: DataFrame, bound: int, what: str) -> list:
    """Read a lazy cell aggregate once through ``read_bounded``, rows by
    their first column ascending; more than ``bound`` rows raises the
    error ``what`` names."""
    return sorted(read_bounded(agg, bound, what), key=lambda row: _null_first(row[0]))


def _sql_sum(terms):
    """SUM over ``terms``: NULL terms drop out, and no term left is NULL."""
    kept = [t for t in terms if t is not None]
    return sum(kept) if kept else None


# Bound on the monthly statistics' one driver read: one row per calendar
# month.  TPC-H orders span about 84 months at every scale factor; the
# bound admits 341 years.
_MONTH_CELLS = 4_096


def _month_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy ``(ym, cents)`` monthly revenue aggregate the monthly
    statistics read."""
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("ym"),
            F.round(F.col("o_totalprice") * F.lit(100.0), 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("ym")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )


def _cusum_fold(xs: list) -> tuple[list, int | None]:
    """The scaled CUSUM S'_t = N*cum_t - t*total of a series (NULL where
    cum_t or total is), and the 1-based t of its largest |S'_t| (ties to
    the earliest; None without one)."""
    n, total, cum, scaled = len(xs), _sql_sum(xs), None, []
    for t, x in enumerate(xs, start=1):
        cum = _sql_sum([cum, x])
        scaled.append(None if cum is None or total is None else n * cum - t * total)
    peak = max((abs(s) for s in scaled if s is not None), default=None)
    return scaled, next(
        (t for t, s in enumerate(scaled, 1) if s is not None and abs(s) == peak), None
    )


# --- CUSUM changepoint over the monthly revenue series ------------------------


@register(
    "revenue_cusum_changepoint",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT ym, cents,
               CAST(ROW_NUMBER() OVER (ORDER BY ym) AS BIGINT) AS t,
               CAST(SUM(cents) OVER (ORDER BY ym
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM m
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total
        FROM m
    ),
    s AS (
        SELECT idx.ym, idx.cents, idx.t,
               CAST(tot.n * idx.cum - idx.t * tot.total AS BIGINT)
                   AS cusum_scaled,
               tot.n, tot.total
        FROM idx, tot
    ),
    pk AS (
        SELECT ym, cents, t, cusum_scaled,
               ROUND(CAST(cusum_scaled AS DOUBLE) / (n * total), 6)
                   AS cusum_norm,
               MAX(ABS(cusum_scaled)) OVER () AS peak
        FROM s
    ),
    mx AS (
        SELECT ym, cents, t, cusum_scaled, cusum_norm,
               MIN(CASE WHEN ABS(cusum_scaled) = peak THEN t END)
                   OVER () AS peak_t
        FROM pk
    )
    SELECT ym, cents, CAST(t AS BIGINT) AS t, cusum_scaled, cusum_norm,
           CAST(CASE WHEN t = peak_t THEN 1 ELSE 0 END AS INT)
               AS is_changepoint
    FROM mx ORDER BY ym
    """,
    description="CUSUM changepoint scan over the monthly revenue series "
    "(Page 1954; the cumulative-sum form used by Taylor's "
    "changepoint bootstrap): S_t = cumsum(x) - t*mean peaks at the month "
    "where the series' level shifts.  EXACT integer arithmetic via "
    "cross-multiplication — the query carries S'_t = N*cum_t - t*total "
    "(pure BIGINT, < 2^63 through ~sf100: N <= ~84 calendar months "
    "whatever the SF) instead of dividing by N, so the argmax "
    "changepoint decision is integer-exact and engine-identical, with "
    "one rounded normalized column for human eyes.  Emits the whole "
    "CUSUM trajectory with the peak month flagged (ties -> earliest, "
    "via an explicit MIN-over-peak rule identical in both engines).  "
    "Scale shape: one keyed monthly aggregate over the orders scan; the "
    "driver reads that series once, bounded at 4,096 months (the "
    "calendar, not the data, sizes it: ~84 months at any SF; more "
    "raises), runs the prefix sum and the peak scan in month order with "
    "exact Python integers, and the months return to Spark for the "
    "rounding",
    tags=("event-time", "window", "changepoint", "exact-cents"),
)
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _sorted_cells(
        _month_agg(spark, sf_dir),
        _MONTH_CELLS,
        "revenue_cusum_changepoint: the month cell read",
    )
    scaled, peak_t = _cusum_fold([cents for _ym, cents in m])
    n, total = len(m), _sql_sum(cents for _ym, cents in m)
    rows = [
        (ym, cents, t, s, n, total, int(t == peak_t))
        for t, ((ym, cents), s) in enumerate(zip(m, scaled), start=1)
    ]
    out = local_frame(
        spark,
        rows,
        "ym date, cents long, t long, cusum_scaled long, n long, total long, "
        "is_changepoint int",
    )
    return out.select(
        "ym",
        "cents",
        "t",
        "cusum_scaled",
        F.round(
            F.col("cusum_scaled").cast("double") / (F.col("n") * F.col("total")), 6
        ).alias("cusum_norm"),
        "is_changepoint",
    )


# --- the value score as a purchase classifier: one bounded score read --------

# Bound on the score statistics' one driver read: one row per distinct
# cent score.  The count grows with the events: 385, 3,270 and 13,246
# distinct cents over 390, 3,963 and 40,025 views and purchases at
# sf0.001, sf0.01 and sf0.1.  The feed draws values from an exponential
# of mean 50, under which n events give about 5000*(ln(n/5000) + 0.58)
# distinct cents (13,287 at sf0.1, about 25k at 4e5 events and 48k at
# 4e7); the bound admits 131,072, which that growth reaches near 7e14
# events.
_SCORE_CELLS = 131_072


def _score_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy ``(score, pos_c, c)`` per-cent-score count of views and
    purchases the score statistics read."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("score"),
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
        )
        .groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("pos_c"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )


def midranks2(hist: dict) -> dict:
    """Doubled midranks ``2*cum_before + c + 1`` of ``{value: count}``,
    values ascending: exact integers where ties make ranks halves."""
    out, before = {}, 0
    for v in sorted(hist, key=_null_first):
        out[v] = 2 * before + hist[v] + 1
        before += hist[v]
    return out


def _auc_fold(cells: list) -> tuple[int, int, int]:
    """``(n_pos, n_neg, u2)`` of ``[(score, pos_c, c)]``: u2 = 2U is the
    positives' doubled midrank sum less n_pos*(n_pos + 1)."""
    mr2 = midranks2({score: c for score, _pos_c, c in cells})
    n_pos = sum(pos_c for _score, pos_c, _c in cells)
    n_neg = sum(c for _score, _pos_c, c in cells) - n_pos
    s2 = sum(pos_c * mr2[score] for score, pos_c, _c in cells)
    return n_pos, n_neg, s2 - n_pos * (n_pos + 1)


# --- rank-sum AUC: does the value score separate purchases from views? -------


@register(
    "quality_score_auc",
    oracle="""
    WITH lab AS (
        SELECT CAST(ROUND(value * 100.0) AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    grp AS (
        SELECT score,
               CAST(SUM(y) AS BIGINT) AS pos_c,
               CAST(SUM(1 - y) AS BIGINT) AS neg_c,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lab GROUP BY score
    ),
    w AS (
        SELECT score, pos_c, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS c_lt
        FROM grp
    ),
    tot AS (
        SELECT CAST(SUM(pos_c) AS BIGINT) AS n_pos,
               CAST(SUM(neg_c) AS BIGINT) AS n_neg
        FROM grp
    ),
    s AS (
        SELECT CAST(SUM(pos_c * (2 * c_lt + c + 1)) AS BIGINT) AS s2
        FROM w
    )
    SELECT tot.n_pos, tot.n_neg,
           CAST(s.s2 - tot.n_pos * (tot.n_pos + 1) AS BIGINT) AS u2,
           ROUND(CAST(s.s2 - tot.n_pos * (tot.n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(tot.n_pos AS DOUBLE)
                    * CAST(tot.n_neg AS DOUBLE)), 6) AS auc
    FROM s, tot
    """,
    description="ROC-AUC of the event value as a purchase-vs-view "
    "classifier, by the Mann-Whitney rank-sum identity AUC = (R_pos - "
    "n_pos(n_pos+1)/2) / (n_pos n_neg) with midranks for ties — the "
    "standard evaluation a training-data pipeline runs on every quality "
    "classifier before gating documents on its score (AUC == P(score_pos "
    "> score_neg) + P(=)/2; the definitional pairwise identity is "
    "hypothesis-pinned for ANY labeled multiset in "
    "tests/test_round15_properties.py).  Exact integer arithmetic: "
    "scores quantize to cents, ties collapse per distinct score exactly "
    "as in revenue_gini_lorenz (the tied block at ranks (c_lt, c_lt+c] "
    "contributes pos_c*(2*c_lt+c+1) to twice the positive rank sum), so "
    "n_pos, n_neg, and the doubled U statistic are BIGINT, the "
    "2*n_pos*n_neg denominator multiplies in DOUBLE (each factor cast "
    "first — the BIGINT product wraps once each class passes ~2e9 rows "
    "at large SF), and the one "
    "float op is the final rounded division.  Scale shape: one keyed "
    "aggregate per distinct score; the driver reads that score table "
    "once, bounded at 131,072 scores (13,246 distinct cents at sf0.1, "
    "growing like the log of the event count; more raises), sums the "
    "doubled midranks of the positives with exact Python integers, and "
    "one row returns to Spark for the rounding — never a per-event "
    "global sort",
    tags=("profiling", "window", "ranking", "evaluation"),
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _sorted_cells(
        _score_agg(spark, sf_dir),
        _SCORE_CELLS,
        "quality_score_auc: the score cell read",
    )
    rows = [_auc_fold(cells)] if cells else [(None, None, None)]
    out = local_frame(spark, rows, "n_pos long, n_neg long, u2 long")
    return out.select(
        "n_pos",
        "n_neg",
        "u2",
        F.round(
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


# --- autocorrelation profile of the monthly revenue series --------------------

_ACF_MAX_LAG = 6


def _acf_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"LAG(y, {k}) OVER (ORDER BY ym) AS y_{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    branches = " UNION ALL ".join(
        f"SELECT {k} AS lag, y, y_{k} AS y_lag FROM lagged"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total
        FROM m
    ),
    y0 AS (
        SELECT ym, CAST(tot.n * m.cents - tot.total AS BIGINT) AS y
        FROM m, tot
    ),
    lagged AS (
        SELECT ym, y,
               {lag_cols}
        FROM y0
    ),
    den AS (
        SELECT SUM(CAST(y AS DECIMAL(38,0)) * y) AS ss FROM y0
    ),
    stacked AS ({branches})
    SELECT CAST(lag AS INT) AS lag,
           CAST(COUNT(y_lag) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y_lag) AS DOUBLE)
                 / CAST(den.ss AS DOUBLE), 6) AS acf
    FROM stacked, den
    WHERE y_lag IS NOT NULL
    GROUP BY lag, den.ss
    ORDER BY lag
    """


@register(
    "revenue_autocorrelation",
    oracle=_acf_oracle(),
    description="autocorrelation profile of the monthly revenue series "
    "at lags 1..6 (the Box-Jenkins identification step: which AR order "
    "or seasonality does the series carry?): r_k = sum((x_t - mean) "
    "(x_{t-k} - mean)) / sum((x_t - mean)^2).  EXACT integer "
    "arithmetic via the same cross-multiplication as "
    "revenue_cusum_changepoint — the query centers as y_t = N*x_t - "
    "total (pure BIGINT), accumulates y*y products in DECIMAL(38,0) "
    "(the per-term product passes 2^63 — corr_matrix_lineitem's "
    "overflow lesson applied a priori; the N^2 factors cancel in the "
    "ratio), and divides once per lag, rounded at 6 dp in both "
    "engines.  Lag-k numerators sum over the N-k aligned pairs (the "
    "Box-Jenkins sample ACF convention of a shared full-series "
    "denominator).  Scale shape: one keyed monthly aggregate over the "
    "orders scan; the driver reads that series once under the "
    "revenue_cusum_changepoint bound (4,096 months; more raises), forms "
    "the centered lag products with exact Python integers, and the six "
    "lag rows return to Spark for the rounded ratio; no per-order "
    "window",
    tags=("event-time", "window", "timeseries", "exact-cents"),
)
def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _sorted_cells(
        _month_agg(spark, sf_dir),
        _MONTH_CELLS,
        "revenue_autocorrelation: the month cell read",
    )
    xs = [cents for _ym, cents in m]
    n, total = len(xs), _sql_sum(xs)
    y = [None if x is None or total is None else n * x - total for x in xs]
    ss = _sql_sum(v * v for v in y if v is not None)
    # the exact sums travel as digit strings: each casts to the double
    # nearest it, as the DECIMAL(38,0) sums did
    ss_digits = None if ss is None else str(ss)
    rows = []
    for k in range(1, _ACF_MAX_LAG + 1):
        # a lag row exists where some y_{t-k} does, as the filtered LAGs
        pairs = [(y[t], y[t - k]) for t in range(k, n) if y[t - k] is not None]
        if pairs:
            num = _sql_sum(a * b for a, b in pairs if a is not None)
            rows.append((k, len(pairs), None if num is None else str(num), ss_digits))
    out = local_frame(spark, rows, "lag int, n_pairs long, num string, ss string")
    return out.select(
        "lag",
        "n_pairs",
        F.round(F.col("num").cast("double") / F.col("ss").cast("double"), 6).alias(
            "acf"
        ),
    )


# --- classical seasonal decomposition of the monthly revenue series -----------


def _decompose24(xs: list, moy: list) -> tuple[list, dict]:
    """The centered 2x12 moving average times 24 of each month, trend24 =
    x[t-6] + x[t+6] + 2*sum(x[t-5..t+5]) (None where the window does not
    fit), and the seasonal numerator and count per month-of-year,
    ``{moy: (sum(24*x - trend24), count)}`` over the months with a trend."""
    n = len(xs)
    trend24 = []
    for t in range(n):
        fits = 6 <= t < n - 6
        lo, hi = (xs[t - 6], xs[t + 6]) if fits else (None, None)
        s11 = _sql_sum(xs[t - 5 : t + 6]) if fits else None
        trend24.append(lo + hi + 2 * s11 if None not in (lo, hi, s11) else None)
    terms: dict = {}
    for x, tr, k in zip(xs, trend24, moy):
        if tr is not None:
            terms.setdefault(k, []).append(None if x is None else 24 * x - tr)
    return trend24, {k: (_sql_sum(v), len(v)) for k, v in terms.items()}


@register(
    "revenue_seasonal_decomposition",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    gapchk AS (
        SELECT MAX(CASE WHEN prev IS NULL
                             OR datediff('month', prev, ym) = 1
                        THEN 0 ELSE 1 END) AS has_gap
        FROM (SELECT ym, LAG(ym) OVER (ORDER BY ym) AS prev FROM m)
    ),
    w AS (
        SELECT ym, cents,
               CAST(EXTRACT(month FROM ym) AS INT) AS moy,
               LAG(cents, 6) OVER (ORDER BY ym) AS x_m6,
               LEAD(cents, 6) OVER (ORDER BY ym) AS x_p6,
               SUM(cents) OVER (ORDER BY ym
                   ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS s11,
               COUNT(*) OVER (ORDER BY ym
                   ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS c11
        FROM m
    ),
    tr AS (
        SELECT ym, cents, moy,
               CASE WHEN x_m6 IS NOT NULL AND x_p6 IS NOT NULL
                         AND c11 = 11
                    THEN CAST(x_m6 + x_p6 + 2 * s11 AS BIGINT)
               END AS trend24
        FROM w
    ),
    seas AS (
        SELECT moy,
               CAST(SUM(24 * cents - trend24) AS BIGINT) AS snum,
               CAST(COUNT(*) AS BIGINT) AS scnt
        FROM tr WHERE trend24 IS NOT NULL
        GROUP BY moy
    )
    SELECT tr.ym, tr.cents,
           CASE WHEN gapchk.has_gap = 1
                THEN CAST(error('monthly series gap') AS INT)
                ELSE tr.moy END AS moy,
           ROUND(CAST(tr.trend24 AS DOUBLE) / 24.0, 4) AS trend,
           ROUND(CAST(seas.snum AS DOUBLE) / (24.0 * seas.scnt), 4)
               AS seasonal,
           CASE WHEN tr.trend24 IS NOT NULL THEN
               ROUND(tr.cents - CAST(tr.trend24 AS DOUBLE) / 24.0
                     - CAST(seas.snum AS DOUBLE) / (24.0 * seas.scnt), 4)
           END AS residual
    FROM tr JOIN seas ON seas.moy = tr.moy CROSS JOIN gapchk
    ORDER BY tr.ym
    """,
    description="classical additive seasonal decomposition of the "
    "monthly revenue series (the moving-average method STL refines; "
    "Macaulay 1931): trend = centered 2x12 moving average, seasonal = "
    "month-of-year mean of the detrended series, residual = remainder "
    "— the series triage that separates secular drift from the "
    "holiday-quarter lift revenue_seasonality_regression models "
    "parametrically.  Exactness through cross-multiplication: the "
    "query carries trend24 = x_{t-6} + x_{t+6} + 2*sum(x_{t-5}..x_{t+5}) "
    "(pure BIGINT — the 2x12 MA times 24) and the seasonal numerator "
    "sum(24*x - trend24) per calendar month, so every sufficient "
    "statistic is integer-exact and both engines perform the IDENTICAL "
    "two IEEE divisions per row before the rounded emit; edge months "
    "(no full +-6 window) carry NULL trend/residual by an explicit "
    "count guard, identical in both engines; months whose "
    "month-of-year never gets a seasonal mean are not emitted.  The "
    "centered frames assume a gap-free monthly calendar (true for "
    "TPC-H); a missing month ANYWHERE raises loudly in BOTH engines "
    "whenever a row would be emitted (the oracle threads a global gap "
    "flag through every row; the query checks every month-to-month "
    "step on the driver) instead of silently misaligning the centered "
    "MA.  Scale shape: one keyed monthly aggregate over the orders "
    "scan; the driver reads that series once under the "
    "revenue_cusum_changepoint bound (4,096 months; more raises), "
    "forms trend24 and the per-month-of-year numerators with exact "
    "Python integers, and the months return to Spark for the two "
    "divisions and the rounding",
    tags=("event-time", "window", "timeseries", "exact-cents"),
)
def revenue_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _sorted_cells(
        _month_agg(spark, sf_dir),
        _MONTH_CELLS,
        "revenue_seasonal_decomposition: the month cell read",
    )
    moy = [None if ym is None else ym.month for ym, _cents in m]
    trend24, seas = _decompose24([cents for _ym, cents in m], moy)
    rows = [
        (ym, cents, k, tr, *seas[k])
        for (ym, cents), k, tr in zip(m, moy, trend24)
        if k in seas
    ]
    # the 2x12 frames count months by position, so one missing calendar
    # month would misalign every window that spans it (a NULL month,
    # first, has no step)
    steps = [
        b.year * 12 + b.month - a.year * 12 - a.month
        for (a, _), (b, _) in zip(m, m[1:])
        if a is not None
    ]
    if rows and any(step != 1 for step in steps):
        raise ValueError(
            "revenue_seasonal_decomposition: monthly series has a calendar "
            "gap — row-based 2x12 MA frames would misalign"
        )
    out = local_frame(
        spark,
        rows,
        "ym date, cents long, moy int, trend24 long, snum long, scnt long",
    )
    trend = F.col("trend24").cast("double") / F.lit(24.0)
    seasonal = F.col("snum").cast("double") / (F.lit(24.0) * F.col("scnt"))
    return out.select(
        "ym",
        "cents",
        "moy",
        F.round(trend, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.when(
            F.col("trend24").isNotNull(),
            F.round(F.col("cents") - trend - seasonal, 4),
        ).alias("residual"),
    )


# --- Mann-Kendall trend test over the monthly revenue series ------------------


@register(
    "revenue_mann_kendall",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                             WHEN b.cents < a.cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s
        FROM m a JOIN m b ON a.ym < b.ym
    ),
    ties AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN t > 1
                    THEN t * (t - 1) * (2 * t + 5) END), 0) AS BIGINT)
                   AS tie_term,
               CAST(COALESCE(SUM(CASE WHEN t > 1
                    THEN t * (t - 1) END), 0) AS BIGINT) AS tie_pairs2
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY cents)
    )
    SELECT ties.n AS n_months, s.s AS s_statistic,
           CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5) - ties.tie_term
                AS BIGINT)
               AS var18,
           ROUND(CASE
               WHEN s.s > 0 THEN (CAST(s.s AS DOUBLE) - 1.0)
                   / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) * (2 * ties.n + 5)
                           - ties.tie_term) / 18.0)
               WHEN s.s < 0 THEN (CAST(s.s AS DOUBLE) + 1.0)
                   / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) * (2 * ties.n + 5)
                           - ties.tie_term) / 18.0)
               ELSE 0.0 END, 4) AS z_score,
           CASE WHEN (CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2.0)
                      * (CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2.0
                         - CAST(ties.tie_pairs2 AS DOUBLE) / 2.0) > 0
                THEN ROUND(CAST(s.s AS DOUBLE)
                     / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2.0)
                            * (CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2.0
                               - CAST(ties.tie_pairs2 AS DOUBLE) / 2.0)), 4)
           END AS tau_b,
           CASE WHEN s.s > 0 AND (CAST(s.s AS DOUBLE) - 1.0)
                     / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) * (2 * ties.n + 5)
                             - ties.tie_term) / 18.0) > 1.96
                THEN 'increasing'
                WHEN s.s < 0 AND (CAST(s.s AS DOUBLE) + 1.0)
                     / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) * (2 * ties.n + 5)
                             - ties.tie_term) / 18.0) < -1.96
                THEN 'decreasing'
                ELSE 'no-trend' END AS trend
    FROM s, ties
    """,
    description="Mann-Kendall nonparametric trend test (Mann 1945; "
    "Kendall 1975) over the monthly revenue series — the "
    "distribution-free companion to revenue_trend_slope's OLS and "
    "revenue_theilsen_slope (which estimates the slope MAGNITUDE this "
    "test judges the SIGNIFICANCE of; the standard pairing in "
    "environmental/KPI trend monitoring): S = sum over month pairs "
    "i<j of sign(x_j - x_i), the tie-corrected variance "
    "Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]/18, the continuity-"
    "corrected Z score, and Kendall's tau-b.  Exactness: S, the "
    "tie term, and var18 = 18*Var(S) are pure BIGINT (sign sums over "
    "exact cent totals — order-independent integer aggregation, no "
    "IEEE accumulation question at all); Z and tau-b are single "
    "closed-form double expressions of those integers, mirrored "
    "term-by-term in both engines, rounded once.  Scale shape: one "
    "keyed monthly aggregate over the orders scan; the driver reads "
    "that series once under the revenue_cusum_changepoint bound (4,096 "
    "months, <= ~3.5k pairs at ~84 months; more raises) and sums the "
    "pair signs and tie terms with exact Python integers; one row "
    "returns to Spark for Z and tau-b",
    tags=("agg", "timeseries", "trend", "exact-cents"),
)
def revenue_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _sorted_cells(
        _month_agg(spark, sf_dir),
        _MONTH_CELLS,
        "revenue_mann_kendall: the month cell read",
    )
    ties = [t for t in Counter(cents for _ym, cents in m).values() if t > 1]
    # the pairs join on ym_a < ym_b, so a NULL month is in no pair, and a
    # NULL month total scores 0; S is NULL without a pair and n without a
    # month, as SUMs over no rows are
    xs = [cents for ym, cents in m if ym is not None]
    s = sum(
        (b > a) - (b < a)
        for i, a in enumerate(xs)
        for b in xs[i + 1 :]
        if a is not None and b is not None
    )
    row = (
        len(m) or None,
        s if len(xs) > 1 else None,
        sum(t * (t - 1) * (2 * t + 5) for t in ties),
        sum(t * (t - 1) for t in ties),
    )
    stats = local_frame(spark, [row], "n long, s long, tie_term long, tie_pairs2 long")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    sigma = F.sqrt(
        (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term"))
        / F.lit(18.0)
    )
    z = (
        F.when(F.col("s") > 0, (sd - F.lit(1.0)) / sigma)
        .when(F.col("s") < 0, (sd + F.lit(1.0)) / sigma)
        .otherwise(F.lit(0.0))
    )
    d_pairs = nd * (F.col("n") - 1) / F.lit(2.0)
    # all months tying (u = d) or a single month zeroes the tau-b
    # divisor — undefined, NULL in both engines (the reference
    # implementation in tests returns None for exactly this case)
    tb_den = d_pairs * (
        d_pairs - F.col("tie_pairs2").cast("double") / F.lit(2.0)
    )
    tau_b = F.when(tb_den > 0, sd / F.sqrt(tb_den))
    return stats.select(
        F.col("n").alias("n_months"),
        F.col("s").alias("s_statistic"),
        (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term"))
        .cast("long")
        .alias("var18"),
        F.round(z, 4).alias("z_score"),
        F.round(tau_b, 4).alias("tau_b"),
        F.when((F.col("s") > 0) & (z > 1.96), F.lit("increasing"))
        .when((F.col("s") < 0) & (z < -1.96), F.lit("decreasing"))
        .otherwise(F.lit("no-trend"))
        .alias("trend"),
    )


# --- document-length statistics: one bounded (source, length) cell read ------

# Bound on the length statistics' one driver read.  The (source, length)
# cell table has at most sources x distinct lengths cells: the corpus
# has 20 sources and lengths of 44-577 characters at every scale factor
# (3,933 cells at sf0.1 and at sf1), and the bound admits 64 sources
# over a 4,096-character length domain, a few MB of driver rows.
_LENGTH_CELLS = 262_144


def _length_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy ``(source, n_chars, c)`` document-count aggregate the
    length statistics read."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _length_cells(spark: SparkSession, sf_dir: str, query: str) -> dict:
    """Read the cell table once, ``{source: {length: count}}`` with
    sources and lengths ascending (Python's ``str`` order is Spark's
    binary string order); more than ``_LENGTH_CELLS`` cells raises."""
    out: dict = {}
    rows = read_bounded(
        _length_agg(spark, sf_dir), _LENGTH_CELLS, f"{query}: the length cell read"
    )
    for source, v, c in sorted(rows):
        out.setdefault(source, {})[v] = c
    return out


def _pooled(cells: dict) -> dict:
    """The corpus length histogram ``{length: count}``, lengths ascending."""
    pooled: Counter = Counter()
    for by_len in cells.values():
        pooled.update(by_len)
    return dict(sorted(pooled.items()))


@register(
    "source_ks_drift",
    oracle="""
    WITH sv AS (
        SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    vals AS (SELECT DISTINCT v FROM sv),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM sv GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM st),
    grid AS (
        SELECT st.source, st.n_s, vals.v, COALESCE(sv.c, 0) AS c
        FROM st CROSS JOIN vals
        LEFT JOIN sv ON sv.source = st.source AND sv.v = vals.v
    ),
    gc AS (
        SELECT source, n_s, v,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_s
        FROM grid
    ),
    ca AS (SELECT v, CAST(SUM(cum_s) AS BIGINT) AS cum_all FROM gc GROUP BY 1),
    diffs AS (
        SELECT gc.source, gc.n_s, tot.n_tot,
               ABS(CAST(gc.cum_s AS DECIMAL(38,0)) * (tot.n_tot - gc.n_s)
                   - CAST(ca.cum_all - gc.cum_s AS DECIMAL(38,0)) * gc.n_s)
                   AS dn
        FROM gc JOIN ca USING (v) CROSS JOIN tot
    ),
    per AS (
        SELECT source, MAX(n_s) AS n_docs,
               CAST(MAX(n_tot) - MAX(n_s) AS BIGINT) AS n_rest,
               CAST(MAX(dn) AS DECIMAL(38,0)) AS d_num
        FROM diffs GROUP BY source
    ),
    fin AS (
        SELECT source, n_docs, n_rest, d_num,
               CASE WHEN n_rest > 0 THEN CAST(d_num AS DOUBLE)
                    / (CAST(n_docs AS DOUBLE) * CAST(n_rest AS DOUBLE)) END
                   AS ks_d,
               CASE WHEN n_rest > 0 THEN
                    CAST(n_docs AS DOUBLE) * CAST(n_rest AS DOUBLE)
                    / (CAST(n_docs AS DOUBLE) + CAST(n_rest AS DOUBLE)) END
                   AS ne
        FROM per
    ),
    lamt AS (
        SELECT *, ROUND(((SQRT(ne) + 0.12 + 0.11 / SQRT(ne)) * ks_d)
                  * ((SQRT(ne) + 0.12 + 0.11 / SQRT(ne)) * ks_d), 9) AS lam2
        FROM fin
    )
    SELECT source, n_docs, n_rest, CAST(d_num AS VARCHAR) AS d_num, ks_d,
           CASE WHEN n_rest > 0 THEN
           ROUND(LEAST(1.0, GREATEST(0.0, 2.0 * (
               EXP(-2.0 * lam2) - EXP(-8.0 * lam2) + EXP(-18.0 * lam2)
               - EXP(-32.0 * lam2) + EXP(-50.0 * lam2) - EXP(-72.0 * lam2)
               + EXP(-98.0 * lam2) - EXP(-128.0 * lam2)
               + EXP(-162.0 * lam2)))), 6) END AS p_value
    FROM lamt
    ORDER BY source
    """,
    description="Kolmogorov-Smirnov two-sample drift screen: for each "
    "source, the exact ECDF max-gap D between that source's doc-length "
    "distribution and the pooled REST of the corpus, with the "
    "asymptotic Kolmogorov p-value — completes the drift family beside "
    "source_unigram_divergence (distributional JS), revenue_mann_kendall "
    "(temporal), and events_hourly_anomaly (pointwise z). Exactness: "
    "the ECDF cells are exact integer cumulative counts at the merged "
    "distinct lengths; D's numerator max|cum_s*n_rest - cum_rest*n_s| "
    "stays an exact integer (DECIMAL(38,0) in the oracle, the HHI ssq "
    "precedent — n^2 outruns BIGINT at petabyte corpus counts), so D "
    "itself is an exact integer ratio and "
    "bit-identical cross-engine, with d_num PUBLISHED as a digit string "
    "(decimal-typed output columns are the one thing the external value "
    "hash has never accepted — 0-for-5 across rounds 1-18, including "
    "this query's r17/r18 fails — where an integer's digit string "
    "renders identically in every engine build); only the p-value touches transcendental "
    "EXP, mirrored term-by-term (nine-term alternating Kolmogorov "
    "series, Numerical-Recipes lambda with small-sample correction, "
    "clamped to [0,1]) and rounded once.  Cross-engine pin (r18, after "
    "the r17 hash-fail): lambda-squared is ROUNDed to 9 dp in BOTH "
    "engines before the series, so the nine EXP inputs are bit-identical "
    "and the only residual divergence is libm-vs-JVM exp's last ulp "
    "(~1e-15), six orders of magnitude inside the data's 5e-7-boundary "
    "guard distance (asserted by "
    "tests/test_diagnostics.py::test_ks_drift_pvalue_boundary_guard). Scale shape: one shuffle on "
    "(source, length) for counts; the driver reads that cell table once, "
    "bounded at 262,144 cells (sources x distinct lengths: the length "
    "domain is bounded by the curation max-doc-length cap, not corpus "
    "size; more raises), walks each source's ECDF against the pooled "
    "one in length order with exact Python integers, and the "
    "per-source rows return to Spark for the p-value readout",
    tags=("text", "drift", "curation", "exact-cells"),
)
def source_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _length_cells(spark, sf_dir, "source_ks_drift")
    pooled = _pooled(cells)
    cum_all, n_tot = [], 0
    for c in pooled.values():
        n_tot += c
        cum_all.append(n_tot)
    rows = []
    for source, by_len in cells.items():
        n_s = sum(by_len.values())
        n_rest = n_tot - n_s
        cum = d_num = 0
        for v, ca in zip(pooled, cum_all):
            cum += by_len.get(v, 0)
            d_num = max(d_num, abs(cum * n_rest - (ca - cum) * n_s))
        rows.append((source, n_s, n_rest, str(d_num)))
    per = local_frame(
        spark, rows, "source string, n_docs long, n_rest long, d_num string"
    )
    nd = F.col("n_docs").cast("double")
    nr = F.col("n_rest").cast("double")
    fin = per.withColumn(
        "ks_d",
        F.when(F.col("n_rest") > 0, F.col("d_num").cast("double") / (nd * nr)),
    ).withColumn("ne", F.when(F.col("n_rest") > 0, nd * nr / (nd + nr)))
    lam = (F.sqrt(F.col("ne")) + F.lit(0.12) + F.lit(0.11) / F.sqrt(F.col("ne"))) * F.col(
        "ks_d"
    )
    # 9-dp pin: makes the EXP inputs bit-identical cross-engine (the r17
    # driver run flipped one ROUND(p,6) digit on an exp-input ulp).
    lamt = fin.withColumn("lam2", F.round(lam * lam, 9))

    def _e(j: int):
        return F.exp(F.lit(-2.0 * j * j) * F.col("lam2"))

    p_raw = F.lit(2.0) * (
        _e(1) - _e(2) + _e(3) - _e(4) + _e(5) - _e(6) + _e(7) - _e(8) + _e(9)
    )
    return lamt.select(
        "source",
        "n_docs",
        "n_rest",
        "d_num",
        "ks_d",
        F.when(
            F.col("n_rest") > 0,
            # greatest/least SKIP nulls in Spark, so the no-rest case
            # must be guarded here or NULL would silently become 0.0
            F.round(F.least(F.lit(1.0), F.greatest(F.lit(0.0), p_raw)), 6),
        ).alias("p_value"),
    ).orderBy("source")


# Bound on event_dow_independence's one driver read: event types x 7
# weekdays.  The feed has 5 event types (35 cells); the bound admits
# 585 types before it raises.
_DOW_CELLS = 4_096


@register(
    "event_dow_independence",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS INTEGER) AS dow
        FROM events
    ),
    cells AS (
        SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
        FROM ev GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    dims AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS n_types,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_dows
    ),
    terms AS (
        SELECT cells.event_type, cells.dow,
               (CAST(cells.o AS DOUBLE) * cells.o)
                   / (CAST(rt.r AS DOUBLE) * ct.c) AS term
        FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
    ),
    folded AS (
        SELECT SUM(term) OVER (ORDER BY event_type, dow
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
               ROW_NUMBER() OVER (ORDER BY event_type DESC, dow DESC) AS rn
        FROM terms
    )
    SELECT tot.n AS n_events, dims.n_types, dims.n_dows,
           CAST((dims.n_types - 1) * (dims.n_dows - 1) AS BIGINT) AS dof,
           ROUND(GREATEST(0.0,
               CAST(tot.n AS DOUBLE) * folded.s - CAST(tot.n AS DOUBLE)), 4)
               AS chi2,
           CASE WHEN (dims.n_types - 1) * (dims.n_dows - 1) > 0 THEN
               ROUND(SQRT(GREATEST(0.0,
                   CAST(tot.n AS DOUBLE) * folded.s - CAST(tot.n AS DOUBLE))
                   / (CAST(tot.n AS DOUBLE)
                      * LEAST(dims.n_types - 1, dims.n_dows - 1))), 4)
           END AS cramers_v
    FROM folded CROSS JOIN tot CROSS JOIN dims
    WHERE folded.rn = 1
    """,
    description="Pearson chi-squared test of independence between event "
    "type and day-of-week, with Cramer's V effect size — the categorical-"
    "association screen beside conversion_ab_ztest's two-proportion z "
    "(proportions) and source_ks_drift's KS (continuous drift): is the "
    "event-type mix the same on every weekday?  Exactness: the "
    "contingency cells and both marginals are pure BIGINT; chi2 uses "
    "the algebraic form N*(sum o^2/(r*c)) - N so empty cells contribute "
    "nothing and no (o-e) subtraction is needed; the 35-term double sum "
    "is accumulated in (event_type, dow) order, the oracle's ORDERED "
    "window over the cell table term for term, so both engines add in "
    "the identical sequence — a "
    "groupBy SUM would be partition-order-dependent and hash-diverge; "
    "clamped at 0 before the single rounding (FP can dip epsilon "
    "negative under perfect independence).  Scale shape: one shuffle on "
    "(event_type, dow); the driver reads that cell table once, bounded "
    "at 4,096 cells (the type domain x 7, NOT corpus size; more "
    "raises), folds the marginals and the 35-term sum in (event_type, "
    "dow) order, and one row returns to Spark for the rounding",
    tags=("events", "statistics", "independence", "exact-cells"),
)
def event_dow_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.weekday("ts").cast("int").alias("dow"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    cells = sorted(
        read_bounded(agg, _DOW_CELLS, "event_dow_independence: the weekday cell read")
    )
    r: Counter = Counter()
    c: Counter = Counter()
    for event_type, dow, o in cells:
        r[event_type] += o
        c[dow] += o
    s = 0.0
    for event_type, dow, o in cells:
        s += float(o) * o / (float(r[event_type]) * c[dow])
    n = sum(r.values())
    dof = (len(r) - 1) * (len(c) - 1)
    rows = []
    if cells:
        rows.append((n, len(r), len(c), dof, max(0.0, float(n) * s - float(n))))
    out = local_frame(
        spark,
        rows,
        "n_events long, n_types long, n_dows long, dof long, chi2_raw double",
    )
    chi2_raw = F.col("chi2_raw")
    return out.select(
        "n_events",
        "n_types",
        "n_dows",
        "dof",
        F.round(chi2_raw, 4).alias("chi2"),
        F.when(
            F.col("dof") > 0,
            F.round(
                F.sqrt(
                    chi2_raw
                    / (
                        F.col("n_events").cast("double")
                        * F.least(F.col("n_types") - 1, F.col("n_dows") - 1)
                    )
                ),
                4,
            ),
        ).alias("cramers_v"),
    )


@register(
    "source_psi_drift",
    oracle="""
    WITH vt AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vt),
    cum AS (
        SELECT v, CAST(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cf
        FROM vt
    ),
    edges AS (
        SELECT k.k, MIN(cum.v) AS edge
        FROM cum CROSS JOIN tot
        JOIN (SELECT UNNEST(range(1, 10)) AS k) k
             ON cum.cf * 10 >= k.k * tot.n
        GROUP BY k.k
    ),
    binned AS (
        SELECT d.source,
               CAST(COALESCE(SUM(CASE WHEN d.n_chars > e.edge
                                      THEN 1 ELSE 0 END), 0) AS INTEGER)
                   AS bin
        FROM (SELECT doc_id, source, n_chars FROM documents) d
        LEFT JOIN edges e ON TRUE
        GROUP BY d.doc_id, d.source, d.n_chars
    ),
    sb AS (
        SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM binned GROUP BY 1, 2
    ),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM sb GROUP BY 1),
    grid AS (
        SELECT st.source, st.n_s, b.bin, COALESCE(sb.c, 0) AS c_s
        FROM st CROSS JOIN (SELECT UNNEST(range(0, 10)) AS bin) b
        LEFT JOIN sb ON sb.source = st.source AND sb.bin = b.bin
    ),
    bt AS (SELECT bin, CAST(SUM(c_s) AS BIGINT) AS c_all
           FROM grid GROUP BY 1),
    terms AS (
        SELECT g.source, g.n_s, g.bin,
               (CAST(g.c_s AS DOUBLE) + 0.5)
                   / (CAST(g.n_s AS DOUBLE) + 5.0) AS p,
               (CAST(bt.c_all - g.c_s AS DOUBLE) + 0.5)
                   / (CAST(tot.n - g.n_s AS DOUBLE) + 5.0) AS q
        FROM grid g JOIN bt USING (bin) CROSS JOIN tot
        WHERE tot.n > g.n_s
    ),
    folded AS (
        SELECT source, n_s,
               SUM((p - q) * LN(p / q)) OVER (
                   PARTITION BY source ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY bin DESC) AS rn
        FROM terms
    )
    SELECT source, n_s AS n_docs, ROUND(s, 6) AS psi,
           CASE WHEN s < 0.1 THEN 'stable'
                WHEN s < 0.25 THEN 'moderate'
                ELSE 'shifted' END AS verdict
    FROM folded WHERE rn = 1
    ORDER BY source
    """,
    description="Population Stability Index of each source's doc-length "
    "distribution vs the pooled REST — the BINNED drift screen beside "
    "source_ks_drift's exact ECDF form (PSI is what production ML "
    "monitors alarm on, with the industry-standard 0.1/0.25 bands): "
    "bins are the pooled distribution's exact DECILE edges derived from "
    "the length-domain cumulative table (edge_k = smallest length with "
    "cum*10 >= k*N — integer arithmetic, no percentile interpolation to "
    "diverge cross-engine), shares are Laplace-smoothed "
    "(c+0.5)/(n+5) so empty cells contribute finitely instead of "
    "ln(0) (documented convention, mirrored exactly), and the 10-term "
    "sum folds in bin order per source (a Spark aggregate over the "
    "driver's p and q arrays, so ln stays the JVM's) — the oracle's "
    "bin-ordered window, term for term.  Scale shape: one shuffle on "
    "(source, length) for counts; the driver reads that cell table "
    "once, bounded at 262,144 cells (the source_ks_drift bound; more "
    "raises), and derives the decile edges, the bins and the shares "
    "from it with exact Python integers; sources x 10 shares return "
    "to Spark",
    tags=("text", "drift", "curation"),
)
def source_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _length_cells(spark, sf_dir, "source_psi_drift")
    pooled = _pooled(cells)
    n = sum(pooled.values())
    # edge_k is the smallest length whose cumulative count reaches k/10
    # of the corpus, k = 1..9; a length's bin counts the edges below it
    edges, cf = [], 0
    for v, c in pooled.items():
        cf += c
        while len(edges) < 9 and cf * 10 >= (len(edges) + 1) * n:
            edges.append(v)
    binned = {}
    for source, by_len in cells.items():
        c_s = [0] * 10
        for v, c in by_len.items():
            c_s[bisect_left(edges, v)] += c
        binned[source] = c_s
    c_all = [sum(col) for col in zip(*binned.values())]
    rows = []
    for source, c_s in binned.items():
        n_s = sum(c_s)
        if n > n_s:
            p = [(float(c) + 0.5) / (float(n_s) + 5.0) for c in c_s]
            q = [
                (float(a - c) + 0.5) / (float(n - n_s) + 5.0)
                for a, c in zip(c_all, c_s)
            ]
            rows.append((source, n_s, p, q))
    terms = local_frame(
        spark, rows, "source string, n_docs long, p array<double>, q array<double>"
    )
    # the 10-term sum folds in bin order, with the JVM's ln
    folded = terms.select(
        "source",
        "n_docs",
        F.aggregate(
            F.arrays_zip("p", "q"),
            F.lit(0.0),
            lambda acc, t: acc + (t["p"] - t["q"]) * F.log(t["p"] / t["q"]),
        ).alias("s"),
    )
    s = F.col("s")
    return folded.select(
        "source",
        "n_docs",
        F.round(s, 6).alias("psi"),
        F.when(s < 0.1, F.lit("stable"))
        .when(s < 0.25, F.lit("moderate"))
        .otherwise(F.lit("shifted"))
        .alias("verdict"),
    ).orderBy("source")


@register(
    "source_length_kruskal",
    oracle="""
    WITH vt AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1
    ),
    mr AS (
        SELECT v,
               2 * (CAST(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - c) + c + 1 AS mr2
        FROM vt
    ),
    cells AS (
        SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    grp AS (
        SELECT cells.source,
               CAST(SUM(cells.c) AS BIGINT) AS n_g,
               CAST(SUM(cells.c * mr.mr2) AS BIGINT) AS s2_g
        FROM cells JOIN mr USING (v)
        GROUP BY cells.source
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * c * c - c)
                    AS DECIMAL(38,0)) AS tie_term
        FROM vt
    ),
    dims AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM grp),
    folded AS (
        SELECT SUM((CAST(s2_g AS DOUBLE) / 2) * (CAST(s2_g AS DOUBLE) / 2)
                   / n_g)
                   OVER (ORDER BY source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s,
               ROW_NUMBER() OVER (ORDER BY source DESC) AS rn
        FROM grp
    ),
    stat AS (
        SELECT tot.n, dims.k, tot.tie_term,
               GREATEST(0.0,
                   12.0 / (CAST(tot.n AS DOUBLE) * (tot.n + 1)) * folded.s
                   - 3.0 * (tot.n + 1)) AS h_raw,
               CAST(tot.n AS DECIMAL(38,0)) * tot.n * tot.n - tot.n
                   AS n3_minus_n
        FROM folded CROSS JOIN tot CROSS JOIN dims
        WHERE folded.rn = 1
    )
    SELECT n AS n_docs, k AS n_sources,
           CAST(k - 1 AS BIGINT) AS dof,
           CAST(tie_term AS VARCHAR) AS tie_term,
           ROUND(h_raw, 6) AS h,
           CASE WHEN tie_term < n3_minus_n THEN
               ROUND(h_raw / (1.0 - CAST(tie_term AS DOUBLE)
                                    / CAST(n3_minus_n AS DOUBLE)), 6)
           END AS h_tied
    FROM stat
    """,
    description="Kruskal-Wallis H test of document length across sources "
    "with the tie correction — the K-SAMPLE member completing the "
    "hypothesis-test family (conversion_ab_ztest compares two "
    "proportions, event_dow_independence two categoricals, "
    "source_ks_drift each source's continuous shape one-vs-rest; this "
    "asks the omnibus question those screens decompose: is the length "
    "distribution the same across ALL sources at once?), rank-based so "
    "it is robust to the heavy right tail document lengths always "
    "have.  Exactness: ties make ranks half-integers, so rank sums run "
    "on DOUBLED midranks mr2 = 2*cum_before + cnt + 1 — exact integers "
    "(the oracle's BIGINT s2_g = 2*R_g holds to N ~ 2e9: s2_g <= 2N^2 < "
    "9.2e18); the tie term sum(t^3 - t) and N^3 - N are exact integers "
    "(DECIMAL(38,0) in the oracle), "
    "with tie_term PUBLISHED as a digit string (decimal-typed output "
    "columns are the one thing the external value hash has never "
    "accepted — 0-for-5 across rounds 1-18 — where an integer's digit "
    "string renders identically in every engine build); H folds the "
    "per-source (S_g/2)^2/n_g terms in source order (the oracle's "
    "ORDERED window, term for term — a groupBy SUM would be "
    "partition-order-dependent and hash-diverge), clamps the "
    "epsilon-negative all-equal case at 0, "
    "and rounds once; the tie-corrected H divides by 1 - T/(N^3-N), "
    "NULL-guarded on the all-values-tied degeneracy by an EXACT "
    "integer comparison.  Scale shape: one map-side-combined shuffle to "
    "the (source, length) cell table, bounded by sources x "
    "length-domain, NOT corpus size; the driver reads it once under "
    "the source_ks_drift bound (262,144 cells; more raises), derives "
    "the midranks, rank sums and tie term with exact Python integers, "
    "and one row returns to Spark for the rounding",
    tags=("statistics", "drift", "exact-cells", "text"),
)
def source_length_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _length_cells(spark, sf_dir, "source_length_kruskal")
    pooled = _pooled(cells)
    mr2 = midranks2(pooled)
    n = sum(pooled.values())
    tie_term = sum(c * c * c - c for c in pooled.values())
    s = 0.0
    for by_len in cells.values():
        s2_g = float(sum(c * mr2[v] for v, c in by_len.items()))
        s += (s2_g / 2) * (s2_g / 2) / sum(by_len.values())
    rows = []
    if cells:
        h_raw = max(0.0, 12.0 / (float(n) * (n + 1)) * s - 3.0 * (n + 1))
        n3_minus_n = n * n * n - n
        h_tied = (
            h_raw / (1.0 - float(tie_term) / float(n3_minus_n))
            if tie_term < n3_minus_n
            else None
        )
        k = len(cells)
        rows.append((n, k, k - 1, str(tie_term), h_raw, h_tied))
    out = local_frame(
        spark,
        rows,
        "n_docs long, n_sources long, dof long, tie_term string, "
        "h_raw double, h_tied double",
    )
    return out.select(
        "n_docs",
        "n_sources",
        "dof",
        "tie_term",
        F.round("h_raw", 6).alias("h"),
        F.round("h_tied", 6).alias("h_tied"),
    )


@register(
    "score_lift_deciles",
    oracle="""
    WITH lab AS (
        SELECT CAST(ROUND(value * 100.0) AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    grp AS (
        SELECT score,
               CAST(SUM(y) AS BIGINT) AS pos_c,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lab GROUP BY score
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(pos_c) AS BIGINT) AS n_pos
        FROM grp
    ),
    cum AS (
        SELECT score, pos_c, c,
               CAST(SUM(c) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cf
        FROM grp
    ),
    dec AS (
        SELECT cum.score, cum.pos_c, cum.c,
               MIN(k.k) AS decile
        FROM cum CROSS JOIN tot
        JOIN (SELECT UNNEST(range(1, 11)) AS k) k
             ON k.k * tot.n >= 10 * cum.cf
        GROUP BY cum.score, cum.pos_c, cum.c
    ),
    bins AS (
        SELECT decile,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(pos_c) AS BIGINT) AS n_pos,
               CAST(SUM(score * c) AS BIGINT) AS sum_score
        FROM dec GROUP BY decile
    ),
    gains AS (
        SELECT bins.*,
               CAST(SUM(n_pos) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos
        FROM bins
    )
    SELECT g.decile, g.n, g.n_pos,
           ROUND(CAST(g.n_pos AS DOUBLE) / g.n, 6) AS pos_rate,
           ROUND(CAST(g.sum_score AS DOUBLE) / g.n, 6) AS avg_score,
           CASE WHEN tot.n_pos > 0 THEN
               ROUND(CAST(g.cum_pos AS DOUBLE) / tot.n_pos, 6)
           END AS cum_pos_share,
           CASE WHEN tot.n_pos > 0 THEN
               ROUND((CAST(g.n_pos AS DOUBLE) * tot.n)
                     / (CAST(g.n AS DOUBLE) * tot.n_pos), 6)
           END AS lift
    FROM gains g CROSS JOIN tot
    ORDER BY g.decile
    """,
    description="decile gains/lift table of the event value as a "
    "purchase-vs-view classifier — the RANKING-utility evaluation "
    "beside quality_score_auc's threshold-free AUC and "
    "lang_id_precision_recall's per-class P/R/F1: bin the scored "
    "population into score deciles (decile 1 = highest scores), and "
    "per bin read the positive rate, the cumulative share of all "
    "positives captured (the gains curve a curation pipeline uses to "
    "pick how deep to keep), and the lift over the base rate.  Decile "
    "assignment is the source_psi_drift edge rule run top-down: a "
    "score's decile is the smallest k with k*N >= 10*cf, cf its "
    "score-DESC cumulative count — pure integer comparisons, no "
    "division, so tied score blocks land in one engine-identical "
    "decile and bins can be unequal exactly when ties straddle an "
    "edge.  Exactness: n / n_pos / sum_score / cum_pos are BIGINT; "
    "pos_rate, avg_score, cum_pos_share, and lift are each ONE double "
    "expression over exact integers rounded once (lift multiplies "
    "cross-wise — pos_c*N / (n*N_pos) — so no chained divisions); "
    "zero-positive corpora NULL-guard share and lift.  Scale shape: "
    "one keyed aggregate per distinct score; the driver reads that "
    "score table once under the quality_score_auc bound (131,072 "
    "scores; more raises), walks it score-descending into the ten bins "
    "with exact Python integers, and the bin rows return to Spark for "
    "the rounding; never a per-event sort",
    tags=("profiling", "ranking", "evaluation", "exact-cells"),
)
def score_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _sorted_cells(
        _score_agg(spark, sf_dir),
        _SCORE_CELLS,
        "score_lift_deciles: the score cell read",
    )
    n_tot = sum(c for _score, _pos_c, c in cells)
    n_pos_tot = sum(pos_c for _score, pos_c, _c in cells)
    # decile -> [n, n_pos, sum_score]; a score's decile is ceil(10*cf/N),
    # and a NULL score (last, score-descending) adds no sum_score term
    bins: dict = {}
    cf = 0
    for score, pos_c, c in reversed(cells):
        cf += c
        b = bins.setdefault(-(-10 * cf // n_tot), [0, 0, None])
        b[0] += c
        b[1] += pos_c
        b[2] = _sql_sum([b[2], None if score is None else score * c])
    rows, cum_pos = [], 0
    for decile in sorted(bins):
        n, n_pos, sum_score = bins[decile]
        cum_pos += n_pos
        rows.append((decile, n, n_pos, sum_score, cum_pos, n_tot, n_pos_tot))
    gains = local_frame(
        spark,
        rows,
        "decile long, n long, n_pos long, sum_score long, cum_pos long, "
        "n_tot long, n_pos_tot long",
    )
    return gains.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("pos_rate"),
        F.round(F.col("sum_score").cast("double") / F.col("n"), 6).alias("avg_score"),
        F.when(
            F.col("n_pos_tot") > 0,
            F.round(F.col("cum_pos").cast("double") / F.col("n_pos_tot"), 6),
        ).alias("cum_pos_share"),
        F.when(
            F.col("n_pos_tot") > 0,
            F.round(
                (F.col("n_pos").cast("double") * F.col("n_tot"))
                / (F.col("n").cast("double") * F.col("n_pos_tot")),
                6,
            ),
        ).alias("lift"),
    )


@register(
    "source_length_levene",
    oracle="""
    WITH cells AS (
        SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, v, c,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cf,
               CAST(SUM(c) OVER (PARTITION BY source)
                    AS BIGINT) AS n_g
        FROM cells
    ),
    med AS (
        SELECT source,
               CAST(MIN(CASE WHEN cf >= (n_g + 1) // 2 THEN v END)
                    + MIN(CASE WHEN cf >= (n_g + 2) // 2 THEN v END)
                    AS BIGINT) AS m2
        FROM cum GROUP BY source
    ),
    dev AS (
        SELECT cells.source,
               CAST(SUM(cells.c) AS BIGINT) AS n_g,
               CAST(SUM(cells.c * ABS(2 * cells.v - med.m2))
                    AS BIGINT) AS s_g,
               CAST(SUM(CAST(cells.c AS DECIMAL(38,0))
                        * ABS(2 * cells.v - med.m2)
                        * ABS(2 * cells.v - med.m2))
                    AS DECIMAL(38,0)) AS q_g
        FROM cells JOIN med USING (source)
        GROUP BY cells.source
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s_g) AS BIGINT) AS s,
               CAST(SUM(q_g) AS DECIMAL(38,0)) AS q
        FROM dev
    ),
    folded AS (
        SELECT SUM((CAST(s_g AS DOUBLE) * s_g) / n_g)
                   OVER (ORDER BY source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS fs,
               ROW_NUMBER() OVER (ORDER BY source DESC) AS rn
        FROM dev
    ),
    stat AS (
        SELECT tot.n, tot.k, tot.s, tot.q,
               folded.fs - (CAST(tot.s AS DOUBLE) * tot.s)
                           / tot.n AS between_ss,
               CAST(tot.q AS DOUBLE) - folded.fs AS within_ss
        FROM folded CROSS JOIN tot WHERE folded.rn = 1
    )
    SELECT n AS n_docs, k AS n_sources,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           s AS sum_dev2, CAST(q AS VARCHAR) AS sum_dev2_sq,
           CASE WHEN k > 1 AND n > k AND within_ss > 0 THEN
               ROUND((CAST(n - k AS DOUBLE) * GREATEST(0.0, between_ss))
                     / (CAST(k - 1 AS DOUBLE) * within_ss), 6)
           END AS f_bf
    FROM stat
    """,
    description="Brown-Forsythe (median-centered Levene) test of length "
    "VARIANCE homogeneity across sources — the dispersion companion to "
    "source_length_kruskal's location test (a pipeline that sees KW "
    "reject wants to know whether the sources differ in center, spread, "
    "or both; BF answers spread robustly because deviations are taken "
    "from the MEDIAN, not the mean, so heavy-tailed length "
    "distributions do not inflate the test).  F is scale-invariant, so "
    "everything runs on DOUBLED deviations d2 = |2x - m2| where m2 = "
    "v_lo + v_hi is the DOUBLED exact per-source median read from the "
    "per-source cumulative counts by integer position "
    "comparison (cf >= (n_g+1)//2 and cf >= (n_g+2)//2 — no float "
    "percentile anywhere): d2, the per-source deviation sums S_g, and "
    "the corpus S are exact integers; the squared-deviation sums are "
    "too (DECIMAL(38,0) in the oracle), with sum_dev2_sq PUBLISHED as a digit "
    "string (decimal-typed output columns are the one thing the "
    "external value hash has never accepted — 0-for-5 across rounds "
    "1-18 — where an integer's digit string renders identically in "
    "every engine build); the one-way ANOVA F on the deviations folds the "
    "per-source (S_g)^2/n_g terms in source order (the "
    "source_length_kruskal IEEE pattern), clamps the epsilon-negative "
    "between-SS, NULL-guards "
    "within_ss <= 0 (every group's deviations constant), k < 2, and "
    "n = k, and rounds once.  Scale shape: one map-side-combined "
    "shuffle to the (source, length) cell table — bounded by sources x "
    "length-domain, never corpus size; the driver reads it once under "
    "the source_ks_drift bound (262,144 cells; more raises) and runs "
    "the median scan, deviation rollup and F fold there; one row "
    "returns to Spark for the rounding",
    tags=("statistics", "drift", "exact-cells", "text"),
)
def source_length_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _length_cells(spark, sf_dir, "source_length_levene")
    n = k = s = q = 0
    fs = 0.0
    for by_len in cells.values():
        n_g = sum(by_len.values())
        # the doubled median: the lengths at positions (n_g+1)//2 and
        # (n_g+2)//2 of the ascending lengths
        m2, cf = 0, 0
        pos = [(n_g + 1) // 2, (n_g + 2) // 2]
        for v, c in by_len.items():
            cf += c
            while pos and cf >= pos[0]:
                m2 += v
                pos.pop(0)
        s_g = sum(c * abs(2 * v - m2) for v, c in by_len.items())
        q += sum(c * abs(2 * v - m2) ** 2 for v, c in by_len.items())
        fs += float(s_g) * s_g / n_g
        n, k, s = n + n_g, k + 1, s + s_g
    rows = []
    if cells:
        between_ss = fs - float(s) * s / n
        within_ss = float(q) - fs
        f_bf = (
            float(n - k) * max(0.0, between_ss) / (float(k - 1) * within_ss)
            if k > 1 and n > k and within_ss > 0
            else None
        )
        rows.append((n, k, k - 1, n - k, s, str(q), f_bf))
    out = local_frame(
        spark,
        rows,
        "n_docs long, n_sources long, df1 long, df2 long, sum_dev2 long, "
        "sum_dev2_sq string, f_bf double",
    )
    return out.select(
        "n_docs",
        "n_sources",
        "df1",
        "df2",
        "sum_dev2",
        "sum_dev2_sq",
        F.round("f_bf", 6).alias("f_bf"),
    )
