"""Mergeable-sketch extensions, wave 2 (SURVEY.md §2.11): the QUANTILE
sketch family and KMV set algebra.

The suite already carries three sketch families with exact DuckDB oracles
(KMV and HLL estimate *cardinality*, CMS estimates per-item *frequency* —
``queries/curation.py``).  This module adds the remaining primitives a
100 TB pipeline keeps per shard instead of exact state:

- ``histogram_quantile_sketch``: a fixed-width B=128 bucket histogram per
  group with linear-interpolation quantile readout — the mergeable
  *quantile* structure (t-digest's role) next to the exact percentile
  ladder (``operators/percentiles.py``).  Per-shard histograms merge by
  elementwise bucket addition (pinned in tests/test_sketches.py), and the
  partial aggregation collapses every partition to ≤ B rows per group
  before the shuffle, so the network cost is the sketch size, never the
  data size.  The exact ladder percentiles ride along so the oracle
  verifies BOTH the estimator arithmetic and its error.
- ``kmv_jaccard_langs``: KMV signature SET ALGEBRA — the k-minimum-values
  sketches that ``kmv_distinct_sketch`` keeps per group also estimate
  *pairwise Jaccard* without touching the raw sets again: for a pair
  (A, B), take the k smallest hashes of sig(A) ∪ sig(B) and count how
  many sit in both signatures (Beyer et al., "On Synopses for Distinct-
  Value Estimation Under Multiset Operations", SIGMOD'07 geometry).  This
  is the sketch-sized version of ``cross_source_dup_matrix``: overlap
  diagnostics from fixed-width per-shard state, no re-scan.

Both sketches hash with the engine-portable 48-bit md5 fold
(``operators.splits.portable_hex_value_sql``), so — unlike
approx_percentile / approx_count_distinct — every estimate is
deterministic and shares an EXACT cross-engine oracle.

Float discipline (queries/stable.py): bucket widths, interpolation, and
ratio estimates are mirrored term-by-term with identical association;
counts and ranks stay integral until one final deterministic division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, word_shingles
from .registry import register
from .tables import table

# --- histogram quantile sketch ---------------------------------------------

_HQ_B = 128  # buckets per group: the fixed sketch width
_HQ_QS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def histogram_cells(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_buckets: int = _HQ_B,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-width histogram sketch cells ``(group, lo, hi, n, bk, c)``.

    Two passes, both single-shuffle: (1) per-group bounds, (2) bucket
    counts.  The bucket index is ``least(floor((x-lo)/w), B-1)`` with
    ``w = (hi-lo)/B`` — pure deterministic IEEE arithmetic, identical in
    any engine given identical inputs.  Cells merge across shards by
    elementwise ``c`` addition PROVIDED the shards share ``bounds`` —
    pass the globally-computed ``(group, lo, hi, n)`` frame when sharding
    (the two-phase shape a 100 TB run uses: bounds from footer stats or
    one cheap pass, then per-shard counting; merge equality pinned in
    tests/test_sketches.py).  The partial aggregate collapses every
    partition to ≤ B rows per group before the exchange: per-shard
    sketches ARE the merge.
    """
    g, x = F.col(group_col), F.col(value_col)
    if bounds is None:
        bounds = df.groupBy(group_col).agg(
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    w = (F.col("hi") - F.col("lo")) / F.lit(float(n_buckets))
    # ``w`` underflows to 0.0 when hi - lo is only a few subnormals wide
    # (lo 0.0, hi 5e-324): scale before dividing there, so ANSI mode does
    # not raise DIVIDE_BY_ZERO.  Every other input has w > 0 and keeps
    # the ``(x-lo)/w`` formula the DuckDB oracle mirrors.
    offset = F.when(w > 0, (x - F.col("lo")) / w).otherwise(
        (x - F.col("lo")) * F.lit(float(n_buckets)) / (F.col("hi") - F.col("lo"))
    )
    # Clamp BOTH ends (as fixed_bucket_expr does): with caller-supplied
    # bounds — the documented sharded / footer-stats two-phase use — a shard
    # value outside [lo, hi] must land in an edge bucket, not a negative or
    # out-of-range ``bk`` that would silently corrupt the merge-by-addition
    # and let the quantile readout emit estimates outside the bounds.
    bk = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.floor(offset).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(g, F.col("lo"), F.col("hi"), F.col("n"), bk.alias("bk"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


_HQ_TARGETS_SQL = ", ".join(f"('{lbl}', {q!r})" for lbl, q in _HQ_QS)


@register(
    "histogram_quantile_sketch",
    oracle=f"""
    WITH src AS (
        SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem
    ),
    b AS (
        SELECT g, MIN(x) AS lo, MAX(x) AS hi, CAST(COUNT(*) AS BIGINT) AS n
        FROM src GROUP BY g
    ),
    hist AS (
        SELECT src.g, b.lo, b.hi, b.n,
               CASE WHEN b.hi = b.lo THEN 0
                    ELSE LEAST(CAST(FLOOR((src.x - b.lo)
                                    / ((b.hi - b.lo) / {float(_HQ_B)!r})) AS INT),
                               {_HQ_B - 1})
               END AS bk,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM src JOIN b ON src.g = b.g
        GROUP BY ALL
    ),
    cum AS (
        SELECT *, CAST(SUM(c) OVER (PARTITION BY g ORDER BY bk) AS BIGINT)
                  AS cw
        FROM hist
    ),
    targets AS (
        -- CAST q to DOUBLE before the product: DuckDB VALUES literals are
        -- DECIMAL, and exact-decimal CEIL can differ from the IEEE-double
        -- CEIL Spark computes exactly when q*n lands on an integer.
        SELECT b.g, t.lbl AS quantile,
               CAST(CEIL(CAST(t.q AS DOUBLE) * b.n) AS BIGINT) AS tr
        FROM b, (VALUES {_HQ_TARGETS_SQL}) AS t(lbl, q)
    ),
    est AS (
        SELECT t.g, t.quantile,
               cum.lo + ((cum.hi - cum.lo) / {float(_HQ_B)!r})
                      * (CAST(cum.bk AS DOUBLE)
                         + (t.tr - (cum.cw - cum.c)) / cum.c) AS est_raw
        FROM targets t
        JOIN cum ON cum.g = t.g
                AND cum.cw >= t.tr AND cum.cw - cum.c < t.tr
    ),
    exq AS (
        SELECT l_returnflag AS g,
               quantile_cont(l_extendedprice, 0.5)  AS e50,
               quantile_cont(l_extendedprice, 0.9)  AS e90,
               quantile_cont(l_extendedprice, 0.99) AS e99
        FROM lineitem GROUP BY l_returnflag
    ),
    exact AS (
        SELECT g, 'p50' AS quantile, e50 AS ex_raw FROM exq
        UNION ALL SELECT g, 'p90', e90 FROM exq
        UNION ALL SELECT g, 'p99', e99 FROM exq
    )
    SELECT est.g AS l_returnflag, est.quantile AS quantile,
           ROUND(est.est_raw, 4) AS hist_est,
           ROUND(exact.ex_raw, 4) AS exact,
           ROUND(ABS(est.est_raw - exact.ex_raw) / exact.ex_raw, 6)
               AS rel_err
    FROM est JOIN exact ON exact.g = est.g AND exact.quantile = est.quantile
    ORDER BY l_returnflag, est.quantile
    """,
    description="fixed-width histogram quantile sketch (B=128 buckets per "
    "group, linear interpolation at the bracketing bucket) vs the exact "
    "ladder percentiles — the FOURTH sketch family beside KMV/HLL "
    "(cardinality) and CMS (frequency): the mergeable QUANTILE structure "
    "a 100 TB pipeline keeps per shard in t-digest's role, next to the "
    "exact percentile ladder when exactness is worth a second pass.  The "
    "sketch is deterministic (bucket index and interpolation are pure "
    "IEEE arithmetic on group bounds), so the oracle verifies estimator "
    "AND error bit-for-bit; per-shard histograms merge by elementwise "
    "bucket addition (pinned in tests/test_sketches.py).  Scale shape: "
    "two single-shuffle passes (bounds, counts); the bucket aggregation "
    "map-side-combines every partition to <= 128 rows per group before "
    "the exchange, the cumulative/readout windows run per group over "
    "<= 128-row sketch state, and the exact branch reuses the "
    "distributed histogram ladder (operators/percentiles.py), never a "
    "sort-buffer percentile",
    tags=("sketch", "percentile", "agg"),
)
def histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` drops the exact percentile-ladder branch the
    default path deliberately carries for the oracle (VERDICT r13 item 6:
    most of this query's wall IS that branch) and returns only
    ``(l_returnflag, quantile, hist_est)`` — the production path a 100 TB
    run keeps.  Default off; bench.py measures both tiers."""
    from ..operators.percentiles import exact_group_percentiles

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cells = histogram_cells(li, "l_returnflag", "l_extendedprice")
    cum = cells.withColumn(
        "cw",
        F.sum("c")
        .over(Window.partitionBy("l_returnflag").orderBy("bk"))
        .cast("long"),
    )
    bounds = cells.select("l_returnflag", "n").distinct()
    targets = bounds.select(
        "l_returnflag",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("quantile"),
                        F.ceil(F.lit(q) * F.col("n")).alias("tr"),
                    )
                    for lbl, q in _HQ_QS
                ]
            )
        ).alias("t"),
    ).select("l_returnflag", "t.quantile", "t.tr")
    w = (F.col("hi") - F.col("lo")) / F.lit(float(_HQ_B))
    est_raw = F.col("lo") + w * (
        F.col("bk").cast("double")
        + (F.col("tr") - (F.col("cw") - F.col("c"))) / F.col("c")
    )
    # Alias the sketch side's group key before the join: both frames
    # descend from `cells`, and a bare equality between same-named columns
    # of a self-derived pair resolves trivially true.
    cum2 = cum.select(
        F.col("l_returnflag").alias("g2"), "lo", "hi", "bk", "c", "cw"
    )
    est = (
        targets.join(
            F.broadcast(cum2),
            on=[
                F.col("l_returnflag") == F.col("g2"),
                F.col("cw") >= F.col("tr"),
                F.col("cw") - F.col("c") < F.col("tr"),
            ],
        )
        .select("l_returnflag", "quantile", est_raw.alias("est_raw"))
    )
    if sketch_only:
        return est.select(
            "l_returnflag",
            "quantile",
            F.round("est_raw", 4).alias("hist_est"),
        ).orderBy("l_returnflag", "quantile")
    # Exact branch: the distributed interpolated-percentile ladder
    # (bit-identical to DuckDB quantile_cont, pinned in
    # tests/test_percentiles.py), unpivoted to one row per quantile.
    exact = exact_group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [q for _, q in _HQ_QS],
        on_overflow="error",
    ).selectExpr(
        "l_returnflag",
        "stack(3, 'p50', p_0, 'p90', p_1, 'p99', p_2) AS (quantile, ex_raw)",
    )
    return (
        est.join(exact, ["l_returnflag", "quantile"])
        .select(
            "l_returnflag",
            "quantile",
            F.round("est_raw", 4).alias("hist_est"),
            F.round("ex_raw", 4).alias("exact"),
            F.round(
                F.abs(F.col("est_raw") - F.col("ex_raw")) / F.col("ex_raw"), 6
            ).alias("rel_err"),
        )
        .orderBy("l_returnflag", "quantile")
    )


def fixed_bucket_expr(
    value: "F.Column", lo: float, hi: float, n_buckets: int
):
    """Bucket index for a FIXED-bounds histogram: ``least(floor((x-lo)/w),
    B-1)`` clamped into [0, B-1].  A-priori bounds are what make the
    sketch STREAMING-compatible (a stream cannot two-pass for min/max);
    out-of-range values clamp into the edge buckets rather than drop, so
    counts stay total.  Pure deterministic IEEE arithmetic — identical
    in any engine given the same doubles."""
    w = (hi - lo) / float(n_buckets)
    return F.greatest(
        F.lit(0),
        F.least(
            F.floor((value - F.lit(lo)) / F.lit(w)).cast("int"),
            F.lit(n_buckets - 1),
        ),
    )


def fixed_bucket_sql(value_sql: str, lo: float, hi: float, n_buckets: int) -> str:
    """The DuckDB mirror of ``fixed_bucket_expr`` — same literals, same
    association."""
    w = (hi - lo) / float(n_buckets)
    return (
        f"GREATEST(0, LEAST(CAST(FLOOR(({value_sql} - {lo!r}) / {w!r}) AS INT),"
        f" {n_buckets - 1}))"
    )


# --- per-window count-min readout -------------------------------------------


def _ev_bucket_probe_sql(key_sql: str, r: int) -> str:
    from .curation import _cms_bucket_sql

    return _cms_bucket_sql(f"md5(CAST({key_sql} AS VARCHAR))", r)


def _events_hourly_cms_oracle() -> str:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    cell_branches = " UNION ALL ".join(
        f"SELECT hour_start, {r} AS r, {_cms_bucket_sql('h', r)} AS b FROM ev"
        for r in range(_CMS_DEPTH)
    )
    probe_case = " ".join(
        f"WHEN {r} THEN {_ev_bucket_probe_sql('t.top_user', r)}"
        for r in range(_CMS_DEPTH)
    )
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    cells AS (
        SELECT hour_start, r, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({cell_branches})
        GROUP BY hour_start, r, b
    ),
    nc AS (
        SELECT hour_start, CAST(COUNT(*) AS BIGINT) AS cells_used
        FROM cells GROUP BY hour_start
    ),
    exact AS (
        SELECT hour_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM ev GROUP BY hour_start, user_id
    ),
    top AS (
        SELECT hour_start, user_id AS top_user, n_exact FROM (
            SELECT exact.*,
                   ROW_NUMBER() OVER (PARTITION BY hour_start
                                      ORDER BY n_exact DESC, user_id) AS rk
            FROM exact
        ) WHERE rk = 1
    ),
    probes AS (
        SELECT t.hour_start, t.top_user, t.n_exact, c.c
        FROM top t
        JOIN cells c
          ON c.hour_start = t.hour_start
         AND c.b = CASE c.r {probe_case} END
    )
    SELECT p.hour_start, p.top_user, p.n_exact,
           CAST(MIN(p.c) AS BIGINT) AS cms_est,
           CAST(MIN(p.c) - p.n_exact AS BIGINT) AS overest,
           nc.cells_used
    FROM probes p JOIN nc ON nc.hour_start = p.hour_start
    GROUP BY p.hour_start, p.top_user, p.n_exact, nc.cells_used
    ORDER BY p.hour_start
    """


@register(
    "events_hourly_cms",
    oracle=_events_hourly_cms_oracle(),
    description="per-hour count-min heavy-hitter readout: for every "
    "tumbling event-time hour, the busiest user's exact count next to its "
    "estimate probed from THAT hour's CMS counter matrix (same depth-4 x "
    "width-256 portable-md5 geometry as cms_heavy_hitters), plus the "
    "hour's occupied-cell count — the batch twin of the streaming "
    "operator streaming.events.hourly_user_cms (stream == batch pinned "
    "in tests/test_streaming.py), giving the streaming sketch an "
    "external oracle.  Scale shape: the sketch aggregation's key domain "
    "is (hour, r, b) — bounded at depth*width cells per hour however "
    "many users or events arrive, which is exactly the state-size claim "
    "of the streaming twin; the per-hour top-user rank window is keyed "
    "by hour; the probe join is a (hour, r, b)-keyed equi-join with a "
    "residual on the probed bucket",
    tags=("sketch", "event-time", "frequency", "portable", "streaming-twin"),
)
def events_hourly_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    probe_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.expr(_cms_bucket_sql("h", r)).alias("b"),
            )
            for r in range(_CMS_DEPTH)
        ]
    )
    cells = (
        ev.select("hour_start", F.explode(probe_structs).alias("cell"))
        .groupBy("hour_start", F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nc = cells.groupBy("hour_start").agg(
        F.count(F.lit(1)).cast("long").alias("cells_used")
    )
    exact = ev.groupBy("hour_start", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    wh = Window.partitionBy("hour_start").orderBy(
        F.col("n_exact").desc(), "user_id"
    )
    top = (
        exact.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") == 1)
        .select(
            "hour_start",
            F.col("user_id").alias("top_user"),
            "n_exact",
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )
    )
    probes = top.select(
        "hour_start",
        "top_user",
        "n_exact",
        F.explode(probe_structs).alias("probe"),
    ).select("hour_start", "top_user", "n_exact", "probe.r", "probe.b")
    return (
        probes.join(cells, ["hour_start", "r", "b"])
        .groupBy("hour_start", "top_user", "n_exact")
        .agg(
            F.min("c").cast("long").alias("cms_est"),
            (F.min("c") - F.col("n_exact")).cast("long").alias("overest"),
        )
        .join(nc, "hour_start")
        .select(
            "hour_start", "top_user", "n_exact", "cms_est", "overest",
            "cells_used",
        )
        .orderBy("hour_start")
    )


# --- KMV signature set algebra ---------------------------------------------

_KJ_K = 64  # signature size, matching kmv_distinct_sketch


def _kj_hash_sql(str_type: str) -> str:
    from ..operators.splits import portable_hex_value_sql

    return portable_hex_value_sql("shingle", 12, str_type)


@register(
    "kmv_jaccard_langs",
    oracle=f"""
    WITH toks AS (
        SELECT lang, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT lang,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    h AS (SELECT DISTINCT lang, {_kj_hash_sql("VARCHAR")} AS hv FROM sh),
    sig AS (
        SELECT lang, hv FROM (
            SELECT lang, hv,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rk
            FROM h
        ) WHERE rk <= {_KJ_K}
    ),
    pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b
        FROM (SELECT DISTINCT lang FROM sig) a
        JOIN (SELECT DISTINCT lang FROM sig) b ON a.lang < b.lang
    ),
    u AS (
        SELECT p.lang_a, p.lang_b, s.hv,
               MAX(CASE WHEN s.lang = p.lang_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.lang = p.lang_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sig s ON s.lang = p.lang_a OR s.lang = p.lang_b
        GROUP BY p.lang_a, p.lang_b, s.hv
    ),
    kmin AS (
        SELECT * FROM (
            SELECT u.*, ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b
                                           ORDER BY hv) AS rk
            FROM u
        ) WHERE rk <= {_KJ_K}
    ),
    estagg AS (
        SELECT lang_a, lang_b,
               CAST(COUNT(*) AS BIGINT) AS sig_union_k,
               CAST(SUM(in_a * in_b) AS BIGINT) AS sig_in_both
        FROM kmin GROUP BY lang_a, lang_b
    ),
    nl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY lang
    ),
    it AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT p.lang_a AS lang_a, p.lang_b AS lang_b, na.n AS n_a, nb.n AS n_b,
           COALESCE(it.n_inter, 0) AS n_inter,
           ROUND(COALESCE(it.n_inter, 0)
                 / (na.n + nb.n - COALESCE(it.n_inter, 0)), 6)
               AS jaccard_exact,
           e.sig_union_k, e.sig_in_both,
           ROUND(e.sig_in_both / e.sig_union_k, 6) AS kmv_jaccard_est,
           ROUND(ABS(e.sig_in_both / e.sig_union_k
                     - COALESCE(it.n_inter, 0)
                       / (na.n + nb.n - COALESCE(it.n_inter, 0))), 6)
               AS abs_err
    FROM pairs p
    JOIN nl na ON na.lang = p.lang_a
    JOIN nl nb ON nb.lang = p.lang_b
    LEFT JOIN it ON it.lang_a = p.lang_a AND it.lang_b = p.lang_b
    JOIN estagg e ON e.lang_a = p.lang_a AND e.lang_b = p.lang_b
    ORDER BY p.lang_a, p.lang_b
    """,
    description="pairwise Jaccard between language shingle sets estimated "
    "from KMV signatures ALONE (k=64, same portable 48-bit md5 as "
    "kmv_distinct_sketch): for each pair, the k smallest hashes of "
    "sig(A) UNION sig(B) are a uniform sample of A UNION B, so the "
    "fraction present in BOTH signatures estimates J(A,B) — KMV set "
    "algebra per Beyer et al. SIGMOD'07, the sketch-sized version of "
    "cross_source_dup_matrix.  The exact per-pair Jaccard rides along so "
    "the oracle verifies estimator and error bit-for-bit (deterministic "
    "hash -> exact oracle).  Scale shape: signatures are fixed-width "
    "(k rows per group, WindowGroupLimit-capped rank windows, "
    "plan-asserted like the KMV sketch); ALL pairwise work downstream "
    "touches only k-row signatures — pairs x k rows, never the raw "
    "shingle sets, which is the point: at 100 TB per-shard signatures "
    "union by re-ranking and pair overlap costs O(pairs * k), not a "
    "re-scan.  The exact branch's shingle self-join fans out per shingle "
    "by at most the language count (bounded key multiplicity, no skew "
    "hazard)",
    tags=("sketch", "text", "distinct", "portable", "dedup"),
)
def kmv_jaccard_langs(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` drops the exact-Jaccard branch (the
    shingle-distinct cardinalities and the bounded-multiplicity shingle
    self-join — the part whose shuffle grows with the corpus, carried for
    the oracle) and returns only the signature-derived columns
    ``(lang_a, lang_b, sig_union_k, sig_in_both, kmv_jaccard_est)`` —
    the production path, which moves pairs x <= 128 signature rows
    however big the corpus.  Default off; bench.py measures both."""
    from ..operators.dedup import _spread_narrow

    docs = table(spark, sf_dir, "documents")
    # The distinct (lang, shingle) stream feeds FOUR consumers (the
    # signature ranking, the per-lang cardinalities, both sides of the
    # exact intersection self-join) behind differently-keyed exchanges,
    # so without materialization the corpus is shingled and
    # deduplicated once PER CONSUMER (AQE's ReusedExchange only dedupes
    # identically-keyed exchanges).  Eagerly checkpointed (r18 form,
    # re-confirmed r19): the VERDICT r18 item-4 persist+count variant —
    # recomputable lineage, stats-bearing cache — was A/B-measured this
    # round at 16 -> 37 jobs, 6.7 -> 15.2 MB shuffle, 1.49 -> 4.44 s at
    # sf0.1: the InMemoryRelation's accurate stats break the exact
    # self-join's exchange reuse and the count pays one extra full
    # pass, so the stats-less RDD scan is the FASTER form here (the
    # prefix filter's trade runs the other way — see
    # prefix_filter_jaccard_pairs).  The accepted cost is the guide §5
    # checkpoint caveat: executor-local blocks without lineage; a lost
    # executor fails the query and it re-runs.
    # The sketch_only tier has exactly ONE stream consumer (the hash
    # ranking), so it skips the materialization outright (r19) — one
    # lazy pass, no checkpoint round-trip.
    sh = (
        _spread_narrow(docs)
        .select("lang", tokenize("text").alias("_t"))
        .select("lang", F.explode(word_shingles(F.col("_t"), 3)).alias("shingle"))
        .distinct()
    )
    if not sketch_only:
        sh = sh.localCheckpoint(eager=True)
    h = sh.select("lang", F.expr(_kj_hash_sql("STRING")).alias("hv")).distinct()
    wl = Window.partitionBy("lang").orderBy("hv")
    sig = (
        h.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= _KJ_K)
        .select("lang", "hv")
    )
    langs = sig.select("lang").distinct()
    pairs = langs.select(F.col("lang").alias("lang_a")).join(
        langs.select(F.col("lang").alias("lang_b")),
        F.col("lang_a") < F.col("lang_b"),
    )
    # Signature union with membership flags: two equi-joins (sig keyed by
    # lang on each side of the pair list), unioned, collapsed per hash.
    ua = pairs.join(sig, sig.lang == pairs.lang_a).select(
        "lang_a", "lang_b", "hv",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    ub = pairs.join(sig, sig.lang == pairs.lang_b).select(
        "lang_a", "lang_b", "hv",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    u = (
        ua.union(ub)
        .groupBy("lang_a", "lang_b", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("lang_a", "lang_b").orderBy("hv")
    estagg = (
        u.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _KJ_K)
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sig_union_k"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("sig_in_both"),
        )
    )
    if sketch_only:
        return estagg.select(
            "lang_a", "lang_b", "sig_union_k", "sig_in_both",
            F.round(F.col("sig_in_both") / F.col("sig_union_k"), 6).alias(
                "kmv_jaccard_est"
            ),
        ).orderBy("lang_a", "lang_b")
    nl = sh.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sha = sh.select(F.col("lang").alias("ia"), "shingle")
    shb = sh.select(F.col("lang").alias("ib"), F.col("shingle").alias("shingle_b"))
    inter = (
        sha.join(
            shb,
            (F.col("shingle") == F.col("shingle_b")) & (F.col("ia") < F.col("ib")),
        )
        .groupBy(F.col("ia").alias("lang_a"), F.col("ib").alias("lang_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    ex_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ex_raw = F.col("n_inter") / ex_union
    est_raw = F.col("sig_in_both") / F.col("sig_union_k")
    return (
        pairs.join(F.broadcast(nl.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))), "lang_a")
        .join(F.broadcast(nl.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))), "lang_b")
        .join(F.broadcast(inter), ["lang_a", "lang_b"], "left")
        .join(F.broadcast(estagg), ["lang_a", "lang_b"])
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0).cast("long")))
        .select(
            "lang_a", "lang_b", "n_a", "n_b", "n_inter",
            F.round(ex_raw, 6).alias("jaccard_exact"),
            "sig_union_k", "sig_in_both",
            F.round(est_raw, 6).alias("kmv_jaccard_est"),
            F.round(F.abs(est_raw - ex_raw), 6).alias("abs_err"),
        )
        .orderBy("lang_a", "lang_b")
    )


_KD_SCALE = float(16**12)  # 2^48, the portable-hash value range


@register(
    "kmv_set_difference",
    oracle=f"""
    WITH toks AS (
        SELECT lang, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT lang,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    h AS (SELECT DISTINCT lang, {_kj_hash_sql("VARCHAR")} AS hv FROM sh),
    sig AS (
        SELECT lang, hv FROM (
            SELECT lang, hv,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rk
            FROM h
        ) WHERE rk <= {_KJ_K}
    ),
    pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b
        FROM (SELECT DISTINCT lang FROM sig) a
        JOIN (SELECT DISTINCT lang FROM sig) b ON a.lang < b.lang
    ),
    u AS (
        SELECT p.lang_a, p.lang_b, s.hv,
               MAX(CASE WHEN s.lang = p.lang_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.lang = p.lang_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sig s ON s.lang = p.lang_a OR s.lang = p.lang_b
        GROUP BY p.lang_a, p.lang_b, s.hv
    ),
    kmin AS (
        SELECT * FROM (
            SELECT u.*, ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b
                                           ORDER BY hv) AS rk
            FROM u
        ) WHERE rk <= {_KJ_K}
    ),
    estagg AS (
        SELECT lang_a, lang_b,
               CAST(COUNT(*) AS BIGINT) AS sig_union_k,
               MAX(hv) AS kth_u,
               CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS sig_a_only,
               CAST(SUM(in_b * (1 - in_a)) AS BIGINT) AS sig_b_only
        FROM kmin GROUP BY lang_a, lang_b
    ),
    nl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY lang
    ),
    it AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    ),
    est AS (
        SELECT e.lang_a, e.lang_b, e.sig_union_k, e.sig_a_only, e.sig_b_only,
               CASE WHEN e.sig_union_k < {_KJ_K}
                    THEN CAST(e.sig_union_k AS DOUBLE)
                    ELSE ({_KJ_K} - 1) * {_KD_SCALE!r} / e.kth_u
               END AS est_union
        FROM estagg e
    )
    SELECT p.lang_a AS lang_a, p.lang_b AS lang_b,
           na.n - COALESCE(it.n_inter, 0) AS n_a_only,
           nb.n - COALESCE(it.n_inter, 0) AS n_b_only,
           e.sig_union_k, e.sig_a_only, e.sig_b_only,
           ROUND(e.est_union, 4) AS est_union,
           ROUND(e.sig_a_only * e.est_union / e.sig_union_k, 4) AS est_a_only,
           ROUND(e.sig_b_only * e.est_union / e.sig_union_k, 4) AS est_b_only,
           ROUND(ABS(e.sig_a_only * e.est_union / e.sig_union_k
                     - (na.n - COALESCE(it.n_inter, 0))), 4) AS abs_err_a,
           ROUND(ABS(e.sig_b_only * e.est_union / e.sig_union_k
                     - (nb.n - COALESCE(it.n_inter, 0))), 4) AS abs_err_b
    FROM pairs p
    JOIN nl na ON na.lang = p.lang_a
    JOIN nl nb ON nb.lang = p.lang_b
    LEFT JOIN it ON it.lang_a = p.lang_a AND it.lang_b = p.lang_b
    JOIN est e ON e.lang_a = p.lang_a AND e.lang_b = p.lang_b
    ORDER BY p.lang_a, p.lang_b
    """,
    description="pairwise SET-DIFFERENCE cardinalities |A\\\\B| and |B\\\\A| "
    "between language shingle sets estimated from KMV signatures ALONE — "
    "the last piece of the KMV set algebra (union r8 kmv_sketch_union, "
    "Jaccard/intersection r13 kmv_jaccard_langs; Beyer et al. SIGMOD'07 "
    "§4).  The k smallest hashes of sig(A) UNION sig(B) are a uniform "
    "sample of A UNION B, and membership flags taken from the input "
    "signatures are EXACT for merged-sketch members (a union-sketch hash "
    "h in A must be in sig(A): otherwise k smaller A-hashes would "
    "precede it in the union sketch) — so "
    "|A\\\\B| ~ (#a_only / k) * est_union with est_union = "
    "(k-1)*2^48/kth.  The exact n_a_only/n_b_only ride along so the "
    "oracle verifies estimator arithmetic bit-for-bit (same portable "
    "md5 -> identical order statistics in both engines).  Scale shape "
    "identical to kmv_jaccard_langs: fixed k=64-row signatures, "
    "WindowGroupLimit-capped rank windows, all pairwise work touches "
    "k-row signatures only — at 100 TB the per-source signatures are "
    "a few KB each and every A-vs-B audit (what did source A contribute "
    "that B lacks?) is O(pairs * k) at the coordinator, no re-scan",
    tags=("sketch", "text", "distinct", "portable", "dedup"),
)
def kmv_set_difference(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` drops the exact branch (shingle cardinalities
    + the self-join intersection, carried for the oracle) and returns the
    signature-derived difference estimates only — the production A-vs-B
    audit path (see kmv_jaccard_langs).  Default off; bench.py measures
    both tiers."""
    from ..operators.dedup import _spread_narrow

    docs = table(spark, sf_dir, "documents")
    # Same materialization discipline as kmv_jaccard_langs (eager
    # checkpoint; the r19 persist+count A/B regressed 3x there — see
    # that docstring): the distinct shingle stream feeds four
    # differently-keyed consumers in the exact branch, but only ONE in
    # the sketch_only tier, which therefore skips the materialization.
    sh = (
        _spread_narrow(docs)
        .select("lang", tokenize("text").alias("_t"))
        .select("lang", F.explode(word_shingles(F.col("_t"), 3)).alias("shingle"))
        .distinct()
    )
    if not sketch_only:
        sh = sh.localCheckpoint(eager=True)
    h = sh.select("lang", F.expr(_kj_hash_sql("STRING")).alias("hv")).distinct()
    wl = Window.partitionBy("lang").orderBy("hv")
    sig = (
        h.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= _KJ_K)
        .select("lang", "hv")
    )
    langs = sig.select("lang").distinct()
    pairs = langs.select(F.col("lang").alias("lang_a")).join(
        langs.select(F.col("lang").alias("lang_b")),
        F.col("lang_a") < F.col("lang_b"),
    )
    ua = pairs.join(sig, sig.lang == pairs.lang_a).select(
        "lang_a", "lang_b", "hv",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    ub = pairs.join(sig, sig.lang == pairs.lang_b).select(
        "lang_a", "lang_b", "hv",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    u = (
        ua.union(ub)
        .groupBy("lang_a", "lang_b", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("lang_a", "lang_b").orderBy("hv")
    estagg = (
        u.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _KJ_K)
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sig_union_k"),
            F.max("hv").alias("kth_u"),
            F.sum(F.col("in_a") * (1 - F.col("in_b")))
            .cast("long")
            .alias("sig_a_only"),
            F.sum(F.col("in_b") * (1 - F.col("in_a")))
            .cast("long")
            .alias("sig_b_only"),
        )
    )
    est_union_s = F.when(
        F.col("sig_union_k") < _KJ_K, F.col("sig_union_k").cast("double")
    ).otherwise(F.lit(float(_KJ_K - 1)) * F.lit(_KD_SCALE) / F.col("kth_u"))
    if sketch_only:
        return estagg.select(
            "lang_a", "lang_b", "sig_union_k", "sig_a_only", "sig_b_only",
            F.round(est_union_s, 4).alias("est_union"),
            F.round(
                F.col("sig_a_only") * est_union_s / F.col("sig_union_k"), 4
            ).alias("est_a_only"),
            F.round(
                F.col("sig_b_only") * est_union_s / F.col("sig_union_k"), 4
            ).alias("est_b_only"),
        ).orderBy("lang_a", "lang_b")
    nl = sh.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sha = sh.select(F.col("lang").alias("ia"), "shingle")
    shb = sh.select(F.col("lang").alias("ib"), F.col("shingle").alias("shingle_b"))
    inter = (
        sha.join(
            shb,
            (F.col("shingle") == F.col("shingle_b")) & (F.col("ia") < F.col("ib")),
        )
        .groupBy(F.col("ia").alias("lang_a"), F.col("ib").alias("lang_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    est_union = F.when(
        F.col("sig_union_k") < _KJ_K, F.col("sig_union_k").cast("double")
    ).otherwise(F.lit(float(_KJ_K - 1)) * F.lit(_KD_SCALE) / F.col("kth_u"))
    est_a = F.col("sig_a_only") * est_union / F.col("sig_union_k")
    est_b = F.col("sig_b_only") * est_union / F.col("sig_union_k")
    exact_a = F.col("n_a") - F.col("n_inter")
    exact_b = F.col("n_b") - F.col("n_inter")
    return (
        pairs.join(
            F.broadcast(
                nl.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
            ),
            "lang_a",
        )
        .join(
            F.broadcast(
                nl.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
            ),
            "lang_b",
        )
        .join(F.broadcast(inter), ["lang_a", "lang_b"], "left")
        .join(F.broadcast(estagg), ["lang_a", "lang_b"])
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0).cast("long")))
        .select(
            "lang_a", "lang_b",
            exact_a.alias("n_a_only"),
            exact_b.alias("n_b_only"),
            "sig_union_k", "sig_a_only", "sig_b_only",
            F.round(est_union, 4).alias("est_union"),
            F.round(est_a, 4).alias("est_a_only"),
            F.round(est_b, 4).alias("est_b_only"),
            F.round(F.abs(est_a - exact_a), 4).alias("abs_err_a"),
            F.round(F.abs(est_b - exact_b), 4).alias("abs_err_b"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --- per-window quantile sketch readout (streaming twin) --------------------

_EVQ_QS = (("p50", 0.5), ("p90", 0.9))
_EVQ_LO, _EVQ_HI = 0.0, 500.0  # streaming.events.VALUE_HIST_BOUNDS
_EVQ_B = 64  # streaming.events.VALUE_HIST_BUCKETS


def _evq_oracle() -> str:
    bucket = fixed_bucket_sql("value", _EVQ_LO, _EVQ_HI, _EVQ_B)
    w = (_EVQ_HI - _EVQ_LO) / float(_EVQ_B)
    targets_sql = ", ".join(f"('{lbl}', {q!r})" for lbl, q in _EVQ_QS)
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               value
        FROM events
    ),
    hist AS (
        SELECT hour_start, {bucket} AS bk, CAST(COUNT(*) AS BIGINT) AS c
        FROM ev GROUP BY hour_start, 2
    ),
    n AS (
        SELECT hour_start, CAST(SUM(c) AS BIGINT) AS n
        FROM hist GROUP BY hour_start
    ),
    cum AS (
        SELECT *, CAST(SUM(c) OVER (PARTITION BY hour_start ORDER BY bk)
                       AS BIGINT) AS cw
        FROM hist
    ),
    targets AS (
        SELECT n.hour_start, t.lbl AS quantile,
               CAST(CEIL(CAST(t.q AS DOUBLE) * n.n) AS BIGINT) AS tr
        FROM n, (VALUES {targets_sql}) AS t(lbl, q)
    ),
    est AS (
        SELECT t.hour_start, t.quantile,
               {_EVQ_LO!r} + {w!r}
                   * (CAST(cum.bk AS DOUBLE)
                      + (t.tr - (cum.cw - cum.c)) / cum.c) AS est_raw
        FROM targets t
        JOIN cum ON cum.hour_start = t.hour_start
                AND cum.cw >= t.tr AND cum.cw - cum.c < t.tr
    ),
    exq AS (
        SELECT hour_start,
               quantile_cont(value, 0.5) AS e50,
               quantile_cont(value, 0.9) AS e90
        FROM ev GROUP BY hour_start
    ),
    exact AS (
        SELECT hour_start, 'p50' AS quantile, e50 AS ex_raw FROM exq
        UNION ALL SELECT hour_start, 'p90', e90 FROM exq
    )
    SELECT est.hour_start AS hour_start, est.quantile AS quantile,
           ROUND(est.est_raw, 4) AS hist_est,
           ROUND(exact.ex_raw, 4) AS exact,
           ROUND(ABS(est.est_raw - exact.ex_raw) / exact.ex_raw, 6)
               AS rel_err
    FROM est JOIN exact ON exact.hour_start = est.hour_start
                       AND exact.quantile = est.quantile
    ORDER BY est.hour_start, est.quantile
    """


@register(
    "events_hourly_value_quantiles",
    oracle=_evq_oracle(),
    description="per-hour p50/p90 of event value read from the "
    "FIXED-BOUNDS 64-bucket histogram (the streaming-compatible form of "
    "the quantile sketch: a stream cannot two-pass for bounds, so they "
    "are fixed a priori and out-of-range values clamp into edge "
    "buckets), with the exact per-hour ladder percentiles alongside — "
    "the batch twin of streaming.events.hourly_value_histogram (stream "
    "== batch cell equality pinned in tests/test_streaming.py), giving "
    "the streaming quantile sketch an external oracle exactly as "
    "events_hourly_cms does for the streaming CMS.  Scale shape: the "
    "histogram aggregation's key domain is (hour, bucket) — bounded at "
    "64 cells per hour however many events arrive (the streaming "
    "state-size claim, batch-visible); the cumulative/readout windows "
    "run per hour over <= 64-row sketch state; the exact branch reuses "
    "the distributed percentile ladder per hour group",
    tags=("sketch", "percentile", "event-time", "streaming-twin"),
)
def events_hourly_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_group_percentiles

    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        "value",
    )
    w = (_EVQ_HI - _EVQ_LO) / float(_EVQ_B)
    hist = (
        ev.select(
            "hour_start",
            fixed_bucket_expr(F.col("value"), _EVQ_LO, _EVQ_HI, _EVQ_B).alias(
                "bk"
            ),
        )
        .groupBy("hour_start", "bk")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = hist.groupBy("hour_start").agg(F.sum("c").cast("long").alias("n"))
    cum = hist.withColumn(
        "cw",
        F.sum("c")
        .over(Window.partitionBy("hour_start").orderBy("bk"))
        .cast("long"),
    )
    targets = n.select(
        "hour_start",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("quantile"),
                        F.ceil(F.lit(q) * F.col("n")).alias("tr"),
                    )
                    for lbl, q in _EVQ_QS
                ]
            )
        ).alias("t"),
    ).select("hour_start", "t.quantile", "t.tr")
    est_raw = F.lit(_EVQ_LO) + F.lit(w) * (
        F.col("bk").cast("double")
        + (F.col("tr") - (F.col("cw") - F.col("c"))) / F.col("c")
    )
    cum2 = cum.select(F.col("hour_start").alias("g2"), "bk", "c", "cw")
    est = targets.join(
        cum2,
        on=[
            F.col("hour_start") == F.col("g2"),
            F.col("cw") >= F.col("tr"),
            F.col("cw") - F.col("c") < F.col("tr"),
        ],
    ).select("hour_start", "quantile", est_raw.alias("est_raw"))
    exact = exact_group_percentiles(
        ev, ["hour_start"], "value", [q for _, q in _EVQ_QS],
        on_overflow="error",
    ).selectExpr(
        "hour_start",
        "stack(2, 'p50', p_0, 'p90', p_1) AS (quantile, ex_raw)",
    )
    return (
        est.join(exact, ["hour_start", "quantile"])
        .select(
            "hour_start",
            "quantile",
            F.round("est_raw", 4).alias("hist_est"),
            F.round("ex_raw", 4).alias("exact"),
            F.round(
                F.abs(F.col("est_raw") - F.col("ex_raw")) / F.col("ex_raw"), 6
            ).alias("rel_err"),
        )
        .orderBy("hour_start", "quantile")
    )


# --- per-window HLL cardinality readout (streaming twin) --------------------


def _events_hourly_hll_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    hash_sql = portable_hex_value_sql("user_id", 12, "VARCHAR")
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id
        FROM events
    ),
    h AS (SELECT hour_start, {hash_sql} AS hv FROM ev),
    br AS (
        SELECT hour_start, hv // {_HLL_REST_MOD} AS bucket,
               hv % {_HLL_REST_MOD} AS rest
        FROM h
    ),
    reg AS (
        SELECT hour_start, bucket,
               MAX(CASE WHEN rest = 0 THEN {_HLL_MAX_RHO}
                        ELSE {_HLL_MAX_RHO} - length(bin(rest)) END) AS m_j
        FROM br GROUP BY hour_start, bucket
    ),
    g AS (
        SELECT hour_start, COUNT(*) AS cnt,
               SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_j))
                   AS s_present
        FROM reg GROUP BY hour_start
    ),
    raw AS (
        SELECT hour_start,
               CAST({_HLL_M} - cnt AS BIGINT) AS empty_registers,
               {_HLL_ALPHA_SQL} * CAST({_HLL_M * _HLL_M} AS DOUBLE)
                   / (s_present + ({_HLL_M} - cnt)) AS e_raw
        FROM g
    ),
    fin AS (
        SELECT hour_start, empty_registers,
               CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND empty_registers > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / empty_registers)
                    ELSE e_raw END AS est
        FROM fin_src
    ),
    ex AS (
        SELECT hour_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM ev GROUP BY hour_start
    )
    SELECT ex.hour_start, ex.n_exact, fin.empty_registers,
           ROUND(fin.est, 4) AS hll_estimate,
           ROUND(ABS(fin.est - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN fin ON fin.hour_start = ex.hour_start
    ORDER BY ex.hour_start
    """.replace("FROM fin_src", "FROM raw")


@register(
    "events_hourly_hll",
    oracle=_events_hourly_hll_oracle(),
    description="per-hour HyperLogLog distinct-user readout: for every "
    "tumbling event-time hour, the HLL estimate from THAT hour's 256-"
    "register array (same deterministic portable-md5 geometry as "
    "hll_distinct_sketch: top 8 hash bits address the register, the "
    "remaining 40 feed the leading-zero rank; Flajolet et al. 2007 "
    "small-range linear-counting branch included) next to the exact "
    "distinct count — the batch twin of the streaming operator "
    "streaming.events.hourly_user_hll (stream == batch pinned in "
    "tests/test_streaming.py), completing the streaming sketch suite's "
    "FOURTH family: CMS frequency, histogram quantiles, Bloom "
    "membership, HLL cardinality.  Registers are MAX aggregates — "
    "monotone and order-independent, the property that makes the sketch "
    "streaming-safe and fleet-mergeable by elementwise max.  Scale "
    "shape: the register aggregation's key domain is (hour, bucket) — "
    "bounded at 256 cells per hour however many users or events arrive "
    "(the streaming twin's state-size claim, batch-visible); the exact "
    "branch is one per-hour distinct aggregate; everything downstream "
    "touches <= 256-row frames per hour",
    tags=("sketch", "event-time", "distinct", "portable", "streaming-twin"),
)
def events_hourly_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        "user_id",
    )
    h = ev.select(
        "hour_start",
        F.expr(portable_hex_value_sql("user_id", 12, "STRING")).alias("hv"),
    )
    br = h.select(
        "hour_start",
        F.expr(f"hv DIV {_HLL_REST_MOD}").alias("bucket"),
        (F.col("hv") % _HLL_REST_MOD).alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(_HLL_MAX_RHO)).otherwise(
        F.lit(_HLL_MAX_RHO) - F.length(F.expr("bin(rest)"))
    )
    reg = (
        br.withColumn("rho", rho)
        .groupBy("hour_start", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    g = reg.groupBy("hour_start").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), m_j)")
        ).alias("s_present"),
    )
    v = (F.lit(_HLL_M) - F.col("cnt")).cast("long")
    s = F.col("s_present") + (F.lit(_HLL_M) - F.col("cnt"))
    e_raw = F.expr(_HLL_ALPHA_SQL) * F.lit(float(_HLL_M * _HLL_M)) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    prof = g.select("hour_start", v.alias("empty_registers"), est.alias("est"))
    ex = ev.groupBy("hour_start").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        ex.join(prof, "hour_start")
        .select(
            "hour_start",
            "n_exact",
            "empty_registers",
            F.round(F.col("est"), 4).alias("hll_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("hour_start")
    )


# --- per-window KMV cardinality readout (streaming twin) --------------------


def _events_hourly_kmv_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from ..streaming.events import KMV_BUCKETS, KMV_REST_MOD

    hash_sql = portable_hex_value_sql("user_id", 12, "VARCHAR")
    k = KMV_BUCKETS
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id
        FROM events
    ),
    h AS (SELECT hour_start, {hash_sql} AS hv FROM ev),
    br AS (
        SELECT hour_start, hv // {KMV_REST_MOD} AS bucket,
               hv % {KMV_REST_MOD} AS rest
        FROM h
    ),
    sig AS (
        SELECT hour_start, bucket, MIN(rest) AS min_rest
        FROM br GROUP BY hour_start, bucket
    ),
    g AS (
        SELECT hour_start, COUNT(*) AS cnt,
               SUM(CAST(min_rest + 1 AS DOUBLE)
                   / CAST({KMV_REST_MOD} AS DOUBLE)) AS s_min
        FROM sig GROUP BY hour_start
    ),
    fin AS (
        SELECT hour_start,
               CAST({k} - cnt AS BIGINT) AS empty_buckets,
               CASE WHEN cnt < {k}
                    THEN CAST({k} AS DOUBLE)
                         * ln(CAST({k} AS DOUBLE) / ({k} - cnt))
                    ELSE CAST({k * (k - 1)} AS DOUBLE) / s_min END AS est
        FROM g
    ),
    ex AS (
        SELECT hour_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM ev GROUP BY hour_start
    )
    SELECT ex.hour_start, ex.n_exact, fin.empty_buckets,
           ROUND(fin.est, 4) AS kmv_estimate,
           ROUND(ABS(fin.est - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN fin ON fin.hour_start = ex.hour_start
    ORDER BY ex.hour_start
    """


@register(
    "events_hourly_kmv",
    oracle=_events_hourly_kmv_oracle(),
    description="per-hour KMV (stochastic-averaging k-minimum-values) "
    "distinct-user readout: for every tumbling event-time hour, the "
    "cardinality estimate from THAT hour's 64-bucket minimum signature "
    "(top 6 bits of the portable 48-bit md5 address the bucket, the "
    "remaining 42 feed a per-bucket MIN — Giroire 2009 / Lumbroso 2010 "
    "order-statistics estimators, n-hat = k(k-1)/sum((min_j+1)/2^42), "
    "with the linear-counting branch k*ln(k/empty) when buckets are "
    "empty) next to the exact distinct count — the batch twin of the "
    "streaming operator streaming.events.hourly_user_kmv, closing the "
    "FIFTH and final streaming sketch family (CMS frequency, histogram "
    "quantiles, Bloom membership, HLL cardinality, KMV cardinality-with-"
    "set-algebra).  MIN is monotone and order-independent — the HLL MAX-"
    "register streaming-safety argument verbatim — so streaming state "
    "is bounded at 64 rows per hour and signatures merge by elementwise "
    "min (stream == batch, state bound, and the merge law pinned in "
    "tests/test_streaming.py).  Exactness: (min_rest+1)/2^42 is a "
    "dyadic double with 42 significand bits, so the 64-term readout sum "
    "is ORDER-INDEPENDENT in IEEE double — a float sum with a bit-exact "
    "cross-engine oracle.  Scale shape: one keyed aggregate to <= 64 "
    "cells per hour however many events arrive; the exact branch is "
    "one per-hour distinct aggregate; downstream touches <= 64-row "
    "frames per hour",
    tags=("sketch", "event-time", "distinct", "portable", "streaming-twin"),
)
def events_hourly_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql
    from ..streaming.events import KMV_BUCKETS, KMV_REST_MOD, hourly_user_kmv

    k = KMV_BUCKETS
    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        "user_id",
    )
    # The signature comes from the STREAMING operator itself (one logical
    # plan for both execution modes — the module's standing design), keyed
    # back to the formatted hour label.
    sig = hourly_user_kmv(table(spark, sf_dir, "events")).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "bucket",
        "min_rest",
    )
    g = sig.groupBy("hour_start").agg(
        F.count("*").alias("cnt"),
        F.sum(
            (F.col("min_rest") + F.lit(1)).cast("double")
            / F.lit(float(KMV_REST_MOD))
        ).alias("s_min"),
    )
    e = (F.lit(k) - F.col("cnt")).cast("long")
    est = F.when(
        F.col("cnt") < k,
        F.lit(float(k)) * F.log(F.lit(float(k)) / (F.lit(k) - F.col("cnt"))),
    ).otherwise(F.lit(float(k * (k - 1))) / F.col("s_min"))
    prof = g.select("hour_start", e.alias("empty_buckets"), est.alias("est"))
    ex = ev.groupBy("hour_start").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        ex.join(prof, "hour_start")
        .select(
            "hour_start",
            "n_exact",
            "empty_buckets",
            F.round(F.col("est"), 4).alias("kmv_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("hour_start")
    )



# --- per-hour Misra-Gries heavy hitters (streaming twin readout) -------------


def _events_hourly_mg_oracle() -> str:
    from ..streaming.events import MG_STREAM_K

    k1 = MG_STREAM_K + 1
    return f"""
    WITH e AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id
        FROM events
    ),
    cnt AS (
        SELECT hour_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM e GROUP BY hour_start, user_id
    ),
    rk AS (
        SELECT hour_start, user_id, n_exact,
               ROW_NUMBER() OVER (PARTITION BY hour_start
                   ORDER BY n_exact DESC, user_id) AS rn
        FROM cnt
    ),
    thr AS (
        SELECT hour_start,
               CAST(COALESCE(MAX(CASE WHEN rn = {k1} THEN n_exact END), 0)
                    AS BIGINT) AS t
        FROM rk GROUP BY hour_start
    ),
    nh AS (
        SELECT hour_start, CAST(SUM(n_exact) AS BIGINT) AS n_window
        FROM cnt GROUP BY hour_start
    )
    SELECT c.hour_start, c.user_id,
           CAST(c.n_exact - thr.t AS BIGINT) AS mg_count,
           c.n_exact,
           thr.t AS deficit,
           nh.n_window,
           CAST(nh.n_window // {k1} AS BIGINT) AS apriori_bound,
           CAST(CASE WHEN c.n_exact * {k1} > nh.n_window
                THEN 1 ELSE 0 END AS INTEGER) AS guaranteed
    FROM cnt c
    JOIN thr ON thr.hour_start = c.hour_start
    JOIN nh ON nh.hour_start = c.hour_start
    WHERE c.n_exact > thr.t
    ORDER BY c.hour_start, c.n_exact DESC, c.user_id
    """


@register(
    "events_hourly_mg",
    oracle=_events_hourly_mg_oracle(),
    description="per-hour Misra-Gries heavy-hitter readout: for every "
    "tumbling event-time hour, the <= k = 8 deterministic heavy-user "
    "counters with their uniform deficit, the a-priori undercount bound "
    "n/(k+1), and the survival guarantee flag — the batch twin of the "
    "SIXTH streaming sketch family, streaming.events.hourly_user_mg.  "
    "MG is the one family whose summary is built by ADDITION-THEN-"
    "COMPRESS rather than an order-independent register aggregate, so "
    "the streaming side rides applyInPandasWithState with state bounded "
    "at k counters per hour (never a row per user) and event-time "
    "eviction; this query IS its canonical one-compress form (exact "
    "per-(hour, user) counts, per-hour (k+1)-th-largest threshold via "
    "an hour-PARTITIONED rank — never a global sort — survivors keep "
    "count minus threshold).  Stream == batch bit-exactly when the "
    "hour arrives in one micro-batch; under any split the emitted "
    "summary still satisfies the order-independent MG laws (pinned in "
    "tests/test_streaming.py; the merge/compress laws for ANY stream "
    "split in tests/test_round15_properties.py).  Scale shape: one "
    "keyed aggregate to per-(hour, user) counts, one hour-partitioned "
    "rank window, two broadcast per-hour scalars; the summary is <= k "
    "rows per hour",
    tags=("sketch", "event-time", "frequency", "deterministic", "streaming-twin"),
)
def events_hourly_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import MG_STREAM_K, hourly_user_mg

    k1 = MG_STREAM_K + 1
    cells = hourly_user_mg(table(spark, sf_dir, "events")).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "user_id",
        "mg_count",
        "deficit",
        "n_window",
    )
    return cells.select(
        "hour_start",
        "user_id",
        "mg_count",
        (F.col("mg_count") + F.col("deficit")).cast("long").alias("n_exact"),
        "deficit",
        "n_window",
        F.expr(f"n_window div {k1}").cast("long").alias("apriori_bound"),
        (
            (F.col("mg_count") + F.col("deficit")) * F.lit(k1)
            > F.col("n_window")
        )
        .cast("int")
        .alias("guaranteed"),
    ).orderBy("hour_start", F.col("n_exact").desc(), "user_id")


# --- CMS self-join size (F2 / second frequency moment) ----------------------


def _cms_f2_oracle() -> str:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    cell_branches = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_bucket_sql('h', r)} AS b FROM h"
        for r in range(_CMS_DEPTH)
    )
    return f"""
    WITH src AS (SELECT l_partkey AS k FROM lineitem),
    h AS (SELECT md5(CAST(k AS VARCHAR)) AS h FROM src),
    cells AS (
        SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({cell_branches}) GROUP BY r, b
    ),
    ip AS (
        SELECT r, CAST(SUM(c * c) AS BIGINT) AS inner_product
        FROM cells GROUP BY r
    ),
    est AS (SELECT CAST(MIN(inner_product) AS BIGINT) AS est_f2 FROM ip),
    ex AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(f) AS BIGINT) AS max_freq
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS f FROM src GROUP BY k)
    )
    SELECT ex.n_keys, ex.max_freq, ex.exact_f2, est.est_f2,
           est.est_f2 - ex.exact_f2 AS overest,
           ROUND(CAST(est.est_f2 - ex.exact_f2 AS DOUBLE) / ex.exact_f2, 6)
               AS rel_overest
    FROM ex, est
    """


@register(
    "cms_selfjoin_size",
    oracle=_cms_f2_oracle(),
    description="self-join size (F2, the second frequency moment) of "
    "lineitem.l_partkey estimated from the CMS counter matrix ALONE: "
    "est = min over depth of the per-row inner product sum(c^2) — the "
    "classic AMS/CMS join-size estimator (Alon-Matias-Szegedy '96 / "
    "Cormode-Muthukrishnan '05 §4.2) a cost-based planner uses to size "
    "a join or detect key skew WITHOUT touching per-key state.  est >= "
    "exact always (hash collisions only add mass), and with the "
    "deterministic portable-md5 slice geometry of cms_heavy_hitters the "
    "whole estimate is exactly reproducible, so the oracle pins "
    "estimator AND error; every quantity is an exact BIGINT until one "
    "final rounded ratio.  The exact F2 (sum of squared per-key "
    "frequencies) rides along from one per-key aggregate.  Scale shape: "
    "the sketch side map-side-combines every partition to <= depth*width "
    "= 1,024 cells before the exchange — F2 of a 100 TB fact table from "
    "4 KB of mergeable state (cells merge by addition, inner products "
    "recompute after the merge); the exact branch is one per-key "
    "aggregate feeding a 1-row sum",
    tags=("sketch", "frequency", "join", "portable"),
)
def cms_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    src = table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    h = src.select(F.md5(F.col("k").cast("string")).alias("h"))
    cells = (
        h.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.expr(_cms_bucket_sql("h", r)).alias("b"),
                        )
                        for r in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .groupBy("cell.r", "cell.b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ip = cells.groupBy("r").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("inner_product")
    )
    est = ip.agg(F.min("inner_product").cast("long").alias("est_f2"))
    ex = (
        src.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .agg(
            F.sum(F.col("f") * F.col("f")).cast("long").alias("exact_f2"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("f").cast("long").alias("max_freq"),
        )
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "n_keys",
        "max_freq",
        "exact_f2",
        "est_f2",
        (F.col("est_f2") - F.col("exact_f2")).alias("overest"),
        F.round(
            (F.col("est_f2") - F.col("exact_f2")).cast("double")
            / F.col("exact_f2"),
            6,
        ).alias("rel_overest"),
    )


# --- daily HLL rollup: the merge law as a query ------------------------------


def _events_daily_hll_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    hash_sql = portable_hex_value_sql("user_id", 12, "VARCHAR")
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               STRFTIME(time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d') AS day_start,
               user_id
        FROM events
    ),
    h AS (SELECT hour_start, day_start, {hash_sql} AS hv FROM ev),
    br AS (
        SELECT hour_start, day_start, hv // {_HLL_REST_MOD} AS bucket,
               hv % {_HLL_REST_MOD} AS rest
        FROM h
    ),
    hreg AS (
        -- per-HOUR registers: exactly the streaming twin's emitted state
        SELECT hour_start, day_start, bucket,
               MAX(CASE WHEN rest = 0 THEN {_HLL_MAX_RHO}
                        ELSE {_HLL_MAX_RHO} - length(bin(rest)) END) AS m_j
        FROM br GROUP BY hour_start, day_start, bucket
    ),
    dreg AS (
        -- the MERGE: elementwise max of the day's hourly registers
        SELECT day_start, bucket, MAX(m_j) AS m_j
        FROM hreg GROUP BY day_start, bucket
    ),
    g AS (
        SELECT day_start, COUNT(*) AS cnt,
               SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_j))
                   AS s_present
        FROM dreg GROUP BY day_start
    ),
    raw AS (
        SELECT day_start,
               CAST({_HLL_M} - cnt AS BIGINT) AS empty_registers,
               {_HLL_ALPHA_SQL} * CAST({_HLL_M * _HLL_M} AS DOUBLE)
                   / (s_present + ({_HLL_M} - cnt)) AS e_raw
        FROM g
    ),
    fin AS (
        SELECT day_start, empty_registers,
               CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND empty_registers > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / empty_registers)
                    ELSE e_raw END AS est
        FROM raw
    ),
    ex AS (
        SELECT day_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM ev GROUP BY day_start
    )
    SELECT ex.day_start, ex.n_exact, fin.empty_registers,
           ROUND(fin.est, 4) AS hll_estimate,
           ROUND(ABS(fin.est - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN fin ON fin.day_start = ex.day_start
    ORDER BY ex.day_start
    """


@register(
    "events_daily_hll_rollup",
    oracle=_events_daily_hll_oracle(),
    description="per-DAY distinct-user estimate computed by MERGING the "
    "per-hour HLL register arrays (elementwise max of each day's 24 "
    "hourly sketches — never re-reading the raw events), then reading "
    "the merged registers out against the exact per-day distinct count — "
    "the merge law of streaming.events.hourly_user_hll exercised as an "
    "oracle-checked query: this is precisely how a 100 TB telemetry "
    "store answers coarser-window cardinality questions from stored "
    "hourly sketch state (24 x 256 register rows per day) instead of a "
    "re-scan, and why the registers being MAX aggregates matters — max "
    "is associative over any regrouping, so hour->day rollup equals the "
    "sketch built directly over the day.  Scale shape: both register "
    "aggregations are (time-bucket, register)-bounded — <= 256 cells per "
    "hour then <= 256 per day — and the exact branch is one per-day "
    "distinct aggregate",
    tags=("sketch", "event-time", "distinct", "portable", "streaming-twin"),
)
def events_daily_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    # date_trunc, not two F.window() calls: Spark rejects multiple window
    # expressions in one projection (cartesian hazard), and for tumbling
    # windows date_trunc('hour'/'day') IS the window start.
    ev = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "day_start"
        ),
        "user_id",
    )
    h = ev.select(
        "hour_start",
        "day_start",
        F.expr(portable_hex_value_sql("user_id", 12, "STRING")).alias("hv"),
    )
    br = h.select(
        "hour_start",
        "day_start",
        F.expr(f"hv DIV {_HLL_REST_MOD}").alias("bucket"),
        (F.col("hv") % _HLL_REST_MOD).alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(_HLL_MAX_RHO)).otherwise(
        F.lit(_HLL_MAX_RHO) - F.length(F.expr("bin(rest)"))
    )
    hreg = (
        br.withColumn("rho", rho)
        .groupBy("hour_start", "day_start", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    dreg = hreg.groupBy("day_start", "bucket").agg(F.max("m_j").alias("m_j"))
    g = dreg.groupBy("day_start").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), m_j)")
        ).alias("s_present"),
    )
    v = (F.lit(_HLL_M) - F.col("cnt")).cast("long")
    s = F.col("s_present") + (F.lit(_HLL_M) - F.col("cnt"))
    e_raw = F.expr(_HLL_ALPHA_SQL) * F.lit(float(_HLL_M * _HLL_M)) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    prof = g.select("day_start", v.alias("empty_registers"), est.alias("est"))
    ex = ev.groupBy("day_start").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        ex.join(prof, "day_start")
        .select(
            "day_start",
            "n_exact",
            "empty_registers",
            F.round(F.col("est"), 4).alias("hll_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("day_start")
    )


# --- sliding-window HLL (overlapping-window sketch state) --------------------


def _events_sliding_hll_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    hash_sql = portable_hex_value_sql("user_id", 12, "VARCHAR")
    return f"""
    WITH ev AS (
        -- every event belongs to exactly windowDuration/slide = 4 sliding
        -- windows: starts at time_bucket(6h, ts) - i*6h for i in 0..3
        -- (epoch-aligned, matching Spark's F.window assignment)
        SELECT STRFTIME(time_bucket(INTERVAL '6 hours', CAST(e.ts AS TIMESTAMP))
                        - u.i * INTERVAL '6 hours',
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               e.user_id
        FROM events e, UNNEST(range(0, 4)) AS u(i)
    ),
    h AS (SELECT window_start, {hash_sql} AS hv FROM ev),
    br AS (
        SELECT window_start, hv // {_HLL_REST_MOD} AS bucket,
               hv % {_HLL_REST_MOD} AS rest
        FROM h
    ),
    reg AS (
        SELECT window_start, bucket,
               MAX(CASE WHEN rest = 0 THEN {_HLL_MAX_RHO}
                        ELSE {_HLL_MAX_RHO} - length(bin(rest)) END) AS m_j
        FROM br GROUP BY window_start, bucket
    ),
    g AS (
        SELECT window_start, COUNT(*) AS cnt,
               SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_j))
                   AS s_present
        FROM reg GROUP BY window_start
    ),
    raw AS (
        SELECT window_start,
               CAST({_HLL_M} - cnt AS BIGINT) AS empty_registers,
               {_HLL_ALPHA_SQL} * CAST({_HLL_M * _HLL_M} AS DOUBLE)
                   / (s_present + ({_HLL_M} - cnt)) AS e_raw
        FROM g
    ),
    fin AS (
        SELECT window_start, empty_registers,
               CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND empty_registers > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / empty_registers)
                    ELSE e_raw END AS est
        FROM raw
    ),
    ex AS (
        SELECT window_start,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM ev GROUP BY window_start
    )
    SELECT ex.window_start, ex.n_exact, fin.empty_registers,
           ROUND(fin.est, 4) AS hll_estimate,
           ROUND(ABS(fin.est - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN fin ON fin.window_start = ex.window_start
    ORDER BY ex.window_start
    """


@register(
    "events_sliding_hll",
    oracle=_events_sliding_hll_oracle(),
    description="distinct users per SLIDING 24-hour window (6-hour slide) "
    "estimated from HLL register arrays vs the exact distinct count — "
    "the overlapping-window form of events_hourly_hll, via the native "
    "F.window(ts, '24 hours', '6 hours') assignment (each event lands "
    "in exactly windowDuration/slide = 4 epoch-aligned windows; the "
    "oracle mirrors the assignment arithmetic exactly).  What it "
    "demonstrates at scale: overlapping windows multiply sketch state "
    "by the overlap factor and NOTHING else — <= 4 x 256 register rows "
    "per 6-hour slide however many users arrive, because the register "
    "key domain is (window, bucket) and registers stay MAX aggregates "
    "(streaming-safe, fleet-mergeable).  The rolling-24h-actives board "
    "a 100 TB telemetry store serves from kilobytes per slide.  Scale "
    "shape: one 4x-exploded pass through a (window, bucket)-bounded "
    "partial aggregate; the exact branch is one per-window distinct "
    "aggregate over the same explode",
    tags=("sketch", "event-time", "distinct", "portable", "streaming-twin"),
)
def events_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    # NOT materialized, by measurement (r19, VERDICT r18 item 6): the
    # sliding 24h/6h window EXPLODES each event into 4 rows, so a
    # checkpoint of this frame writes 4x|events| rows to buy back two
    # cheap consumers (one md5 register pipeline, one count_distinct) —
    # A/B read 11.7 -> 13.8 s at sf1 (shuffle unchanged) and only
    # 1.9 -> 1.8 s at sf0.1.  The two consumers' repeated map work is
    # cheaper than the materialization round-trip at every measured
    # scale.
    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "24 hours", "6 hours").getField("start"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("window_start"),
        "user_id",
    )
    h = ev.select(
        "window_start",
        F.expr(portable_hex_value_sql("user_id", 12, "STRING")).alias("hv"),
    )
    br = h.select(
        "window_start",
        F.expr(f"hv DIV {_HLL_REST_MOD}").alias("bucket"),
        (F.col("hv") % _HLL_REST_MOD).alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(_HLL_MAX_RHO)).otherwise(
        F.lit(_HLL_MAX_RHO) - F.length(F.expr("bin(rest)"))
    )
    reg = (
        br.withColumn("rho", rho)
        .groupBy("window_start", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    g = reg.groupBy("window_start").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), m_j)")
        ).alias("s_present"),
    )
    v = (F.lit(_HLL_M) - F.col("cnt")).cast("long")
    s = F.col("s_present") + (F.lit(_HLL_M) - F.col("cnt"))
    e_raw = F.expr(_HLL_ALPHA_SQL) * F.lit(float(_HLL_M * _HLL_M)) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    prof = g.select(
        "window_start", v.alias("empty_registers"), est.alias("est")
    )
    ex = ev.groupBy("window_start").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        ex.join(prof, "window_start")
        .select(
            "window_start",
            "n_exact",
            "empty_registers",
            F.round(F.col("est"), 4).alias("hll_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("window_start")
    )


# --- CMS two-relation join-size estimate -------------------------------------


def _cms_join_size_oracle() -> str:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    def cells(src: str) -> str:
        branches = " UNION ALL ".join(
            f"SELECT {r} AS r, {_cms_bucket_sql('h', r)} AS b FROM {src}"
            for r in range(_CMS_DEPTH)
        )
        return (
            f"SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c FROM ({branches}) "
            f"GROUP BY r, b"
        )

    return f"""
    WITH v AS (
        SELECT user_id AS k, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id AS k, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    cv AS ({cells('v')}),
    cp AS ({cells('p')}),
    ip AS (
        SELECT cv.r, CAST(SUM(cv.c * cp.c) AS BIGINT) AS inner_product
        FROM cv JOIN cp ON cp.r = cv.r AND cp.b = cv.b
        GROUP BY cv.r
    ),
    est AS (SELECT CAST(MIN(inner_product) AS BIGINT) AS est_join FROM ip),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_views FROM v),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases FROM p),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_join
        FROM v JOIN p ON p.k = v.k
    )
    SELECT nv.n_views, np.n_purchases, ex.exact_join, est.est_join,
           est.est_join - ex.exact_join AS overest,
           ROUND(CAST(est.est_join - ex.exact_join AS DOUBLE)
                 / ex.exact_join, 6) AS rel_overest
    FROM nv, np, ex, est
    """


@register(
    "cms_join_size_estimate",
    oracle=_cms_join_size_oracle(),
    description="size of the view-purchase attribution join (views JOIN "
    "purchases ON user_id — the equality core of streaming/joins.py's "
    "attribution_join) estimated from TWO per-relation CMS counter "
    "matrices alone: est = min over depth of sum(c_v * c_p) per row — "
    "the AMS/CMS inner-product join-size estimator (Alon-Matias-Szegedy "
    "'96; Cormode-Muthukrishnan '05 §4.2), est >= exact always.  The "
    "planner question this answers at 100 TB: how big is R JOIN S on k "
    "BEFORE running it, from two 4 KB mergeable sketches built "
    "independently per relation (per-shard sketches merge by cell "
    "addition; the inner product recomputes after the merge) — the "
    "companion to cms_selfjoin_size's F2 (self-join) form.  Exact join "
    "cardinality rides along from one equi-join count so the oracle "
    "pins estimator AND error; everything is exact BIGINT until one "
    "final rounded ratio, and the deterministic portable-md5 geometry "
    "makes the estimate reproducible in any engine.  Scale shape: each "
    "sketch side map-side-combines to <= depth*width = 1,024 cells; the "
    "estimator join touches two 1,024-row frames; the exact branch is "
    "one hash equi-join",
    tags=("sketch", "frequency", "join", "portable"),
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _CMS_DEPTH, _cms_bucket_sql

    ev = table(spark, sf_dir, "events")

    def cells(df: DataFrame) -> DataFrame:
        h = df.select(F.md5(F.col("user_id").cast("string")).alias("h"))
        return (
            h.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("r"),
                                F.expr(_cms_bucket_sql("h", r)).alias("b"),
                            )
                            for r in range(_CMS_DEPTH)
                        ]
                    )
                ).alias("cell")
            )
            .groupBy("cell.r", "cell.b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    views = ev.filter(F.col("event_type") == "view").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    cv = cells(views)
    cp = cells(purchases).select(
        F.col("r").alias("r2"), F.col("b").alias("b2"), F.col("c").alias("c2")
    )
    ip = (
        cv.join(cp, (F.col("r2") == F.col("r")) & (F.col("b2") == F.col("b")))
        .groupBy("r")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("long").alias("inner_product"))
    )
    est = ip.agg(F.min("inner_product").cast("long").alias("est_join"))
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_views"))
    np_ = purchases.agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    ex = (
        views.join(
            purchases.select(F.col("user_id").alias("p_user")),
            F.col("p_user") == F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join"))
    )
    return (
        nv.crossJoin(np_)
        .crossJoin(ex)
        .crossJoin(F.broadcast(est))
        .select(
            "n_views",
            "n_purchases",
            "exact_join",
            "est_join",
            (F.col("est_join") - F.col("exact_join")).alias("overest"),
            F.round(
                (F.col("est_join") - F.col("exact_join")).cast("double")
                / F.col("exact_join"),
                6,
            ).alias("rel_overest"),
        )
    )


# --- sketch-powered OLAP cube: HLL distinct through grouping sets -----------


def _cube_distinct_hll_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    hash_sql = portable_hex_value_sql("user_id", 12, "VARCHAR")
    return f"""
    WITH ev AS (
        SELECT event_type, CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS INTEGER)
                   AS dow,
               user_id, {hash_sql} AS hv
        FROM events
    ),
    fine AS (
        SELECT event_type, dow, hv // {_HLL_REST_MOD} AS bucket,
               MAX(CASE WHEN hv % {_HLL_REST_MOD} = 0 THEN {_HLL_MAX_RHO}
                        ELSE {_HLL_MAX_RHO}
                             - length(bin(hv % {_HLL_REST_MOD})) END) AS m_j
        FROM ev GROUP BY event_type, dow, bucket
    ),
    margins AS (
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(dow, -1) AS dow, bucket, MAX(m_j) AS m_j
        FROM fine
        GROUP BY GROUPING SETS ((event_type, dow, bucket),
                                (event_type, bucket), (dow, bucket),
                                (bucket))
    ),
    g AS (
        SELECT event_type, dow, COUNT(*) AS cnt,
               SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_j))
                   AS s_present
        FROM margins GROUP BY event_type, dow
    ),
    raw AS (
        SELECT event_type, dow,
               CAST({_HLL_M} - cnt AS BIGINT) AS empty_registers,
               {_HLL_ALPHA_SQL} * CAST({_HLL_M * _HLL_M} AS DOUBLE)
                   / (s_present + ({_HLL_M} - cnt)) AS e_raw
        FROM g
    ),
    fin AS (
        SELECT event_type, dow, empty_registers,
               CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND empty_registers > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / empty_registers)
                    ELSE e_raw END AS est
        FROM raw
    ),
    ex AS (
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(dow, -1) AS dow,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM ev
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow), ())
    )
    SELECT ex.event_type, ex.dow, ex.n_exact, fin.empty_registers,
           ROUND(fin.est, 4) AS hll_estimate,
           ROUND(ABS(fin.est - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN fin
      ON fin.event_type = ex.event_type AND fin.dow = ex.dow
    ORDER BY ex.event_type, ex.dow
    """


@register(
    "cube_distinct_hll",
    oracle=_cube_distinct_hll_oracle(),
    description="sketch-powered OLAP cube: distinct users per "
    "(event_type, weekday) WITH all rollup margins — (type), (weekday), "
    "and grand total — where every margin is computed by MERGING the "
    "fine-grain HLL register table (elementwise MAX through GROUPING "
    "SETS), not by re-scanning events: the raw stream is hashed ONCE "
    "into (type, dow, bucket, m_j) cells and all 4 margin levels read "
    "<= 256-register state per group — the events_daily_hll_rollup "
    "merge law promoted to the OLAP-cube shape, which is how a 100 TB "
    "fleet serves every drill-down from stored per-shard sketches.  "
    "Exact distincts per margin ride along (same grouping sets over "
    "raw rows) so the oracle pins estimate AND error per cube cell.  "
    "Weekday is Monday-based weekday() mirrored as DuckDB isodow()-1; "
    "margin markers are COALESCE('ALL'/-1) on both engines.  Scale "
    "shape: one corpus-sized hash aggregate (the fine register table, "
    "key domain types x 7 x 256); every downstream stage touches "
    "register-table-sized frames; the exact branch is the deliberate "
    "oracle-side truth (production drops it and serves sketches alone)",
    tags=("sketch", "distinct", "cube", "portable", "event-time"),
)
def cube_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql
    from .curation import _HLL_ALPHA_SQL, _HLL_M, _HLL_MAX_RHO, _HLL_REST_MOD

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.weekday("ts").cast("int").alias("dow"),
        "user_id",
        F.expr(portable_hex_value_sql("user_id", 12, "STRING")).alias("hv"),
    )
    rho = F.when(F.col("hv") % _HLL_REST_MOD == 0, F.lit(_HLL_MAX_RHO)).otherwise(
        F.lit(_HLL_MAX_RHO)
        - F.length(F.expr(f"bin(hv % {_HLL_REST_MOD})"))
    )
    fine = (
        ev.select(
            "event_type",
            "dow",
            F.expr(f"hv DIV {_HLL_REST_MOD}").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "dow", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    margins = (
        fine.groupingSets(
            [
                ["event_type", "dow", "bucket"],
                ["event_type", "bucket"],
                ["dow", "bucket"],
                ["bucket"],
            ],
            "event_type",
            "dow",
            "bucket",
        )
        .agg(F.max("m_j").alias("m_j"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "bucket",
            "m_j",
        )
    )
    g = margins.groupBy("event_type", "dow").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), m_j)")
        ).alias("s_present"),
    )
    v = (F.lit(_HLL_M) - F.col("cnt")).cast("long")
    s = F.col("s_present") + (F.lit(_HLL_M) - F.col("cnt"))
    e_raw = F.expr(_HLL_ALPHA_SQL) * F.lit(float(_HLL_M * _HLL_M)) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    prof = g.select(
        "event_type", "dow", v.alias("empty_registers"), est.alias("est")
    )
    ex = (
        ev.groupingSets(
            [["event_type", "dow"], ["event_type"], ["dow"], []],
            "event_type",
            "dow",
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "n_exact",
        )
    )
    return (
        ex.join(prof, ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            "n_exact",
            "empty_registers",
            F.round(F.col("est"), 4).alias("hll_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("event_type", "dow")
    )


# --- Misra-Gries deterministic heavy hitters ---------------------------------

# Summary size: k counters give additive error <= N/(k+1) — the classic
# Misra-Gries guarantee.  32 keeps the summary a broadcast-sized frame
# while the corpus 3-gram stream still produces a non-trivial survivor
# set (threshold 5, ~30 retained items at sf0.01).
_MG_K = 32


@register(
    "mg_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(lower(text), ' ') AS t FROM documents
    ),
    occ AS (
        SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    cnt AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM occ GROUP BY shingle
    ),
    tot AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n_total FROM cnt),
    thr AS (
        SELECT CAST(COALESCE(
            (SELECT n_exact FROM cnt
             ORDER BY n_exact DESC, shingle
             LIMIT 1 OFFSET {_MG_K}), 0) AS BIGINT) AS t
    )
    SELECT c.shingle,
           CAST(c.n_exact - thr.t AS BIGINT) AS mg_count,
           c.n_exact,
           thr.t AS deficit,
           CAST(tot.n_total // {_MG_K + 1} AS BIGINT) AS apriori_bound,
           CAST(CASE WHEN c.n_exact * {_MG_K + 1} > tot.n_total
                     THEN 1 ELSE 0 END AS INTEGER) AS guaranteed
    FROM cnt c, thr, tot
    WHERE c.n_exact > thr.t
    ORDER BY c.n_exact DESC, c.shingle
    """,
    description="Misra-Gries deterministic heavy-hitter summary (k=32 "
    "counters) over the corpus 3-gram occurrence stream — the "
    "DETERMINISTIC counterpart to cms_heavy_hitters: CMS bounds the "
    "frequency OVERestimate probabilistically, Misra-Gries bounds the "
    "UNDERestimate absolutely (deficit <= N/(k+1) a priori, carried as "
    "the apriori_bound column and pinned >= deficit by both engines).  "
    "Built in the order-independent mergeable-summaries form (Agarwal "
    "et al., PODS'12): exact per-item counts map-side-combine, then ONE "
    "compress subtracts the (k+1)-th largest count from every counter "
    "and keeps the positive ones — at most k survive, each undercounted "
    "by exactly that threshold, and every item with true frequency "
    "above N/(k+1) is GUARANTEED to survive (the guaranteed column).  "
    "Per-shard summaries merge by counter addition followed by the same "
    "compress, with the decrements telescoping to <= N/(k+1) total — "
    "the merge law pinned Spark-side in tests/test_round15_properties.py "
    "and over arbitrary hypothesis streams.  Scale shape: one hash "
    "aggregate over the occurrence stream, a TakeOrdered top-(k+1) for "
    "the threshold (no unpartitioned window), two broadcast scalars; "
    "the summary itself is <= k rows",
    tags=("sketch", "text", "frequency", "deterministic", "mergeable"),
)
def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread_narrow

    docs = table(spark, sf_dir, "documents")
    occ = (
        _spread_narrow(docs)
        .select(tokenize("text").alias("_t"))
        .select(F.explode(word_shingles(F.col("_t"), 3)).alias("shingle"))
    )
    cnt = occ.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    tot = cnt.agg(F.sum("n_exact").cast("long").alias("n_total"))
    # (k+1)-th largest count = min over the sorted top-(k+1): a
    # TakeOrderedAndProject, never a global sort or single-task window.
    thr = (
        cnt.orderBy(F.col("n_exact").desc(), "shingle")
        .limit(_MG_K + 1)
        .agg(
            F.when(F.count(F.lit(1)) == _MG_K + 1, F.min("n_exact"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("t")
        )
    )
    return (
        cnt.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_exact") > F.col("t"))
        .select(
            "shingle",
            (F.col("n_exact") - F.col("t")).cast("long").alias("mg_count"),
            "n_exact",
            F.col("t").alias("deficit"),
            F.expr(f"n_total div {_MG_K + 1}").cast("long").alias(
                "apriori_bound"
            ),
            (F.col("n_exact") * F.lit(_MG_K + 1) > F.col("n_total"))
            .cast("int")
            .alias("guaranteed"),
        )
        .orderBy(F.col("n_exact").desc(), "shingle")
    )


# --- Count-Sketch: the unbiased two-sided frequency estimator ----------------

# Depth 5 (odd, so the median needs no interpolation) x width 256; buckets
# ride hex chars 1-10 of ONE portable md5 and signs hex chars 11-15, so
# the whole geometry is deterministic and engine-identical like CMS.
_CS_DEPTH = 5
_CS_WIDTH = 256
_CS_HEXD = "0123456789abcdef"


def _cs_bucket_sql(h_expr: str, r: int) -> str:
    p = 2 * r + 1
    return (
        f"((instr('{_CS_HEXD}', substring({h_expr}, {p}, 1)) - 1) * 16"
        f" + (instr('{_CS_HEXD}', substring({h_expr}, {p + 1}, 1)) - 1))"
    )


def _cs_sign_sql(h_expr: str, r: int) -> str:
    p = 11 + r
    return (
        f"(1 - 2 * ((instr('{_CS_HEXD}', substring({h_expr}, {p}, 1)) - 1)"
        f" % 2))"
    )


def _countsketch_oracle() -> str:
    cell_branches = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cs_bucket_sql('h', r)} AS b,"
        f" CAST(SUM({_cs_sign_sql('h', r)}) AS BIGINT) AS c"
        " FROM hashed GROUP BY 1, 2"
        for r in range(_CS_DEPTH)
    )
    eh = "md5(CAST(e.user_id AS VARCHAR))"
    bucket_case = " ".join(
        f"WHEN {r} THEN {_cs_bucket_sql(eh, r)}" for r in range(_CS_DEPTH)
    )
    sign_case = " ".join(
        f"WHEN {r} THEN {_cs_sign_sql(eh, r)}" for r in range(_CS_DEPTH)
    )
    return f"""
    WITH src AS (SELECT user_id FROM events),
    hashed AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM src),
    cells AS ({cell_branches}),
    ex AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM src GROUP BY user_id
    ),
    probes AS (
        SELECT e.user_id, e.n_exact, cells.r,
               (CASE cells.r {sign_case} END) * MAX(cells.c) AS est
        FROM ex e
        JOIN cells ON cells.b = CASE cells.r {bucket_case} END
        GROUP BY e.user_id, e.n_exact, cells.r
    )
    SELECT user_id, n_exact,
           CAST(list_sort(list(est))[{_CS_DEPTH // 2 + 1}] AS BIGINT)
               AS cs_est,
           CAST(list_sort(list(est))[{_CS_DEPTH // 2 + 1}] - n_exact
                AS BIGINT) AS err
    FROM probes
    GROUP BY user_id, n_exact
    ORDER BY user_id
    """


@register(
    "countsketch_user_freq",
    oracle=_countsketch_oracle(),
    description="Count-Sketch (Charikar/Chen/Farach-Colton, ICALP'02) "
    "per-user event-frequency readout, depth 5 x width 256 over ONE "
    "portable md5 (buckets from hex chars 1-10, Rademacher signs from "
    "chars 11-15) — the UNBIASED frequency estimator that completes the "
    "frequency-sketch triangle: CMS only ever OVERestimates (collision "
    "mass adds), Misra-Gries only ever UNDERestimates (bounded "
    "decrement), Count-Sketch's signed cells cancel collision mass in "
    "expectation so its error is TWO-SIDED and centered (visible in the "
    "signed err column; this corpus's 150 users in 256 buckets leave "
    "~56% of rows collision-free per user, so the median-of-5 readout "
    "is exact for most users and perturbed both ways for the rest).  "
    "est(x) = median over rows of s_r(x) * C[r][b_r(x)], exact integer "
    "arithmetic end-to-end (signed cells are integer sums, the median "
    "of five integers is an integer — no float anywhere), so the oracle "
    "pins the estimator cell-for-cell like the CMS/KMV/HLL families.  "
    "Cells merge by elementwise ADDITION exactly like CMS — per-shard "
    "sketches union at a coordinator.  Scale shape: the counter matrix "
    "is <= 5 x 256 signed cells, map-side-combined per partition before "
    "a tiny shuffle; the probe set is the bounded user dimension; the "
    "exact branch is one keyed count carried for the oracle",
    tags=("sketch", "frequency", "portable", "mergeable"),
)
def countsketch_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "events").select("user_id")
    hashed = src.withColumn("h", F.md5(F.col("user_id").cast("string")))
    cells = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.expr(_cs_bucket_sql("h", r)).alias("b"),
                            F.expr(_cs_sign_sql("h", r)).alias("s"),
                        )
                        for r in range(_CS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.b", "cell.s")
        .groupBy("r", "b")
        .agg(F.sum("s").cast("long").alias("c"))
    )
    ex = (
        src.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .withColumn("h", F.md5(F.col("user_id").cast("string")))
    )
    probes = ex.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.expr(_cs_bucket_sql("h", r)).alias("b"),
                        F.expr(_cs_sign_sql("h", r)).alias("s"),
                    )
                    for r in range(_CS_DEPTH)
                ]
            )
        ).alias("probe"),
    ).select("user_id", "n_exact", "probe.r", "probe.b", "probe.s")
    ests = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .select(
            "user_id", "n_exact", (F.col("s") * F.col("c")).alias("est")
        )
        .groupBy("user_id", "n_exact")
        .agg(
            F.element_at(
                F.sort_array(F.collect_list("est")), _CS_DEPTH // 2 + 1
            )
            .cast("long")
            .alias("cs_est")
        )
    )
    return ests.select(
        "user_id",
        "n_exact",
        "cs_est",
        (F.col("cs_est") - F.col("n_exact")).cast("long").alias("err"),
    ).orderBy("user_id")


def _events_hourly_countsketch_oracle() -> str:
    cell_branches = " UNION ALL ".join(
        f"SELECT hour_start, {r} AS r, {_cs_bucket_sql('h', r)} AS b,"
        f" {_cs_sign_sql('h', r)} AS s FROM ev"
        for r in range(_CS_DEPTH)
    )
    th = "md5(CAST(t.top_user AS VARCHAR))"
    bucket_case = " ".join(
        f"WHEN {r} THEN {_cs_bucket_sql(th, r)}" for r in range(_CS_DEPTH)
    )
    sign_case = " ".join(
        f"WHEN {r} THEN {_cs_sign_sql(th, r)}" for r in range(_CS_DEPTH)
    )
    return f"""
    WITH ev AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    cells AS (
        SELECT hour_start, r, b, CAST(SUM(s) AS BIGINT) AS c
        FROM ({cell_branches})
        GROUP BY hour_start, r, b
    ),
    nc AS (
        SELECT hour_start, CAST(COUNT(*) AS BIGINT) AS cells_used
        FROM cells GROUP BY hour_start
    ),
    exact AS (
        SELECT hour_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM ev GROUP BY hour_start, user_id
    ),
    top AS (
        SELECT hour_start, user_id AS top_user, n_exact FROM (
            SELECT exact.*,
                   ROW_NUMBER() OVER (PARTITION BY hour_start
                                      ORDER BY n_exact DESC, user_id) AS rk
            FROM exact
        ) WHERE rk = 1
    ),
    probes AS (
        SELECT t.hour_start, t.top_user, t.n_exact,
               (CASE c.r {sign_case} END) * c.c AS est
        FROM top t
        JOIN cells c
          ON c.hour_start = t.hour_start
         AND c.b = CASE c.r {bucket_case} END
    )
    SELECT p.hour_start, p.top_user, p.n_exact,
           CAST(list_sort(list(p.est))[{_CS_DEPTH // 2 + 1}] AS BIGINT)
               AS cs_est,
           CAST(list_sort(list(p.est))[{_CS_DEPTH // 2 + 1}] - p.n_exact
                AS BIGINT) AS err,
           nc.cells_used
    FROM probes p JOIN nc ON nc.hour_start = p.hour_start
    GROUP BY p.hour_start, p.top_user, p.n_exact, nc.cells_used
    ORDER BY p.hour_start
    """


@register(
    "events_hourly_countsketch",
    oracle=_events_hourly_countsketch_oracle(),
    description="per-hour Count-Sketch heavy-hitter readout: for every "
    "tumbling event-time hour, the busiest user's exact count next to "
    "the median-of-5 SIGNED estimate probed from THAT hour's signed "
    "counter matrix (same depth-5 x width-256 portable-md5 geometry as "
    "countsketch_user_freq: buckets from hex chars 1-10, Rademacher "
    "signs from chars 11-15), plus the hour's occupied-cell count — "
    "the batch twin of the EIGHTH streaming sketch family, "
    "streaming.events.hourly_user_countsketch (stream == batch pinned "
    "in tests/test_streaming.py), giving the streaming sketch an "
    "external oracle and completing the streamed frequency triangle: "
    "the CMS twin only OVERestimates, the Misra-Gries twin only "
    "UNDERestimates, this one's signed cells make the error two-sided "
    "and centered (the signed err column).  Exactness: signed cells "
    "are integer sums, the median of five integers is an integer — no "
    "float anywhere, so the oracle pins the estimator cell-for-cell.  "
    "Scale shape: the sketch aggregation's key domain is (hour, r, b) "
    "— bounded at depth*width signed cells per hour however many users "
    "or events arrive, which is exactly the state-size claim of the "
    "streaming twin; the per-hour top-user rank window is keyed by "
    "hour; the probe join is a (hour, r, b)-keyed equi-join",
    tags=("sketch", "event-time", "frequency", "portable", "streaming-twin"),
)
def events_hourly_countsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    probe_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.expr(_cs_bucket_sql("h", r)).alias("b"),
                F.expr(_cs_sign_sql("h", r)).alias("s"),
            )
            for r in range(_CS_DEPTH)
        ]
    )
    cells = (
        ev.select("hour_start", F.explode(probe_structs).alias("cell"))
        .groupBy(
            "hour_start", F.col("cell.r").alias("r"), F.col("cell.b").alias("b")
        )
        .agg(F.sum("cell.s").cast("long").alias("c"))
    )
    nc = cells.groupBy("hour_start").agg(
        F.count(F.lit(1)).cast("long").alias("cells_used")
    )
    exact = ev.groupBy("hour_start", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    wh = Window.partitionBy("hour_start").orderBy(
        F.col("n_exact").desc(), "user_id"
    )
    top = (
        exact.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") == 1)
        .select(
            "hour_start",
            F.col("user_id").alias("top_user"),
            "n_exact",
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )
    )
    probes = top.select(
        "hour_start",
        "top_user",
        "n_exact",
        F.explode(probe_structs).alias("probe"),
    ).select(
        "hour_start", "top_user", "n_exact", "probe.r", "probe.b", "probe.s"
    )
    ests = (
        probes.join(cells, ["hour_start", "r", "b"])
        .select(
            "hour_start",
            "top_user",
            "n_exact",
            (F.col("s") * F.col("c")).alias("est"),
        )
        .groupBy("hour_start", "top_user", "n_exact")
        .agg(
            F.element_at(
                F.sort_array(F.collect_list("est")), _CS_DEPTH // 2 + 1
            )
            .cast("long")
            .alias("cs_est")
        )
    )
    return (
        ests.join(nc, "hour_start")
        .select(
            "hour_start",
            "top_user",
            "n_exact",
            "cs_est",
            (F.col("cs_est") - F.col("n_exact")).cast("long").alias("err"),
            "cells_used",
        )
        .orderBy("hour_start")
    )


def _countsketch_f2_oracle() -> str:
    cell_branches = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cs_bucket_sql('h', r)} AS b,"
        f" CAST(SUM({_cs_sign_sql('h', r)}) AS BIGINT) AS c"
        " FROM hashed GROUP BY 1, 2"
        for r in range(_CS_DEPTH)
    )
    return f"""
    WITH src AS (SELECT user_id FROM events),
    hashed AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM src),
    cells AS ({cell_branches}),
    rows_ AS (
        SELECT r, CAST(SUM(c * c) AS BIGINT) AS f2_row
        FROM cells GROUP BY r
    ),
    med AS (
        SELECT CAST(list_sort(list(f2_row))[{_CS_DEPTH // 2 + 1}] AS BIGINT)
                   AS est_f2
        FROM rows_
    ),
    ex AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS f FROM src
              GROUP BY user_id)
    )
    SELECT ex.n_keys, ex.exact_f2, med.est_f2,
           ROUND(ABS(CAST(med.est_f2 AS DOUBLE) - ex.exact_f2)
                 / ex.exact_f2, 4) AS rel_err
    FROM ex CROSS JOIN med
    """


@register(
    "countsketch_f2",
    oracle=_countsketch_f2_oracle(),
    description="AMS tug-of-war second frequency moment from the SAME "
    "signed Count-Sketch cells as countsketch_user_freq: per row, the "
    "sum of squared signed cells is an UNBIASED F2 estimator (Alon-"
    "Matias-Szegedy, STOC'96 — the sign cancellation kills the cross "
    "terms in expectation), and the median over the 5 rows tames the "
    "variance — the unbiased counterpart to cms_selfjoin_size, whose "
    "unsigned CMS inner product can only ever OVERestimate F2.  Exact "
    "integer arithmetic end-to-end (signed cells are integer sums, "
    "row sums of squares and their 5-element median are BIGINTs), so "
    "the estimator shares an exact oracle; the true F2 and key count "
    "ride alongside with the relative error.  Scale shape: ONE map-"
    "side-combining pass to <= 5 x 256 signed cells, a <= 5-row median, "
    "and one keyed count for the exact branch — the self-join-size "
    "planner primitive at fixed width",
    tags=("sketch", "frequency", "portable", "join-size"),
)
def countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "events").select("user_id")
    hashed = src.withColumn("h", F.md5(F.col("user_id").cast("string")))
    cells = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.expr(_cs_bucket_sql("h", r)).alias("b"),
                            F.expr(_cs_sign_sql("h", r)).alias("s"),
                        )
                        for r in range(_CS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.b", "cell.s")
        .groupBy("r", "b")
        .agg(F.sum("s").cast("long").alias("c"))
    )
    rows_ = cells.groupBy("r").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_row")
    )
    med = rows_.agg(
        F.element_at(
            F.sort_array(F.collect_list("f2_row")), _CS_DEPTH // 2 + 1
        )
        .cast("long")
        .alias("est_f2")
    )
    ex = (
        src.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("f") * F.col("f")).cast("long").alias("exact_f2"),
        )
    )
    return ex.crossJoin(F.broadcast(med)).select(
        "n_keys",
        "exact_f2",
        "est_f2",
        F.round(
            F.abs(F.col("est_f2").cast("double") - F.col("exact_f2"))
            / F.col("exact_f2"),
            4,
        ).alias("rel_err"),
    )


# --- Count-Sketch two-relation join-size estimate ----------------------------


def _countsketch_join_size_oracle() -> str:
    def cells(src: str) -> str:
        branches = " UNION ALL ".join(
            f"SELECT {r} AS r, {_cs_bucket_sql('h', r)} AS b,"
            f" CAST(SUM({_cs_sign_sql('h', r)}) AS BIGINT) AS c"
            f" FROM {src} GROUP BY 1, 2"
            for r in range(_CS_DEPTH)
        )
        return branches

    return f"""
    WITH v AS (
        SELECT user_id AS k, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id AS k, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    cv AS ({cells('v')}),
    cp AS ({cells('p')}),
    ip AS (
        SELECT cv.r, CAST(SUM(cv.c * cp.c) AS BIGINT) AS inner_product
        FROM cv JOIN cp ON cp.r = cv.r AND cp.b = cv.b
        GROUP BY cv.r
    ),
    est AS (
        SELECT CAST(list_sort(list(inner_product))[{_CS_DEPTH // 2 + 1}]
                    AS BIGINT) AS est_join
        FROM ip
    ),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_views FROM v),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases FROM p),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_join
        FROM v JOIN p ON p.k = v.k
    )
    SELECT nv.n_views, np.n_purchases, ex.exact_join, est.est_join,
           est.est_join - ex.exact_join AS err,
           ROUND(CAST(est.est_join - ex.exact_join AS DOUBLE)
                 / ex.exact_join, 6) AS rel_err
    FROM nv, np, ex, est
    """


@register(
    "countsketch_join_size",
    oracle=_countsketch_join_size_oracle(),
    description="size of the view-purchase attribution join estimated "
    "from TWO signed Count-Sketch matrices (same depth-5 x width-256 "
    "portable-md5 geometry as countsketch_user_freq): per depth row, "
    "sum_b C_v[r][b] * C_p[r][b] is an UNBIASED estimator of |R JOIN S| "
    "(the AMS inner product, Alon-Matias-Szegedy STOC'96 — identical "
    "signs on both sides make matching keys contribute +f_v*f_p exactly "
    "while cross-key collision terms carry independent Rademacher signs "
    "that cancel in expectation), and the median over the 5 rows tames "
    "the variance.  The unbiased counterpart of cms_join_size_estimate, "
    "whose unsigned inner product can only ever OVERestimate — the err "
    "column here is SIGNED (negative underestimates happen), which is "
    "the whole point of the signed family.  Exact integer arithmetic "
    "end-to-end: signed cells are BIGINT sums, per-row inner products "
    "and their 5-element median are BIGINTs, so the estimator itself is "
    "oracle-pinned cell-for-cell; the exact join cardinality rides "
    "along.  Scale shape: each side map-side-combines to <= 5x256 "
    "signed cells built INDEPENDENTLY per relation (per-shard sketches "
    "merge by cell addition before the inner product — the planner "
    "never touches the raw join); the estimator join touches two "
    "1,280-row frames; the exact branch is one keyed equi-join count",
    tags=("sketch", "frequency", "join", "join-size", "portable"),
)
def countsketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")

    def cells(df: DataFrame) -> DataFrame:
        h = df.select(F.md5(F.col("user_id").cast("string")).alias("h"))
        return (
            h.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("r"),
                                F.expr(_cs_bucket_sql("h", r)).alias("b"),
                                F.expr(_cs_sign_sql("h", r)).alias("s"),
                            )
                            for r in range(_CS_DEPTH)
                        ]
                    )
                ).alias("cell")
            )
            .select("cell.r", "cell.b", "cell.s")
            .groupBy("r", "b")
            .agg(F.sum("s").cast("long").alias("c"))
        )

    views = ev.filter(F.col("event_type") == "view").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    cv = cells(views)
    cp = cells(purchases).select(
        F.col("r").alias("r2"), F.col("b").alias("b2"), F.col("c").alias("c2")
    )
    ip = (
        cv.join(cp, (F.col("r2") == F.col("r")) & (F.col("b2") == F.col("b")))
        .groupBy("r")
        .agg(
            F.sum(F.col("c") * F.col("c2")).cast("long").alias("inner_product")
        )
    )
    est = ip.agg(
        F.element_at(
            F.sort_array(F.collect_list("inner_product")), _CS_DEPTH // 2 + 1
        )
        .cast("long")
        .alias("est_join")
    )
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_views"))
    np_ = purchases.agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    ex = (
        views.join(
            purchases.select(F.col("user_id").alias("p_user")),
            F.col("p_user") == F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join"))
    )
    return (
        nv.crossJoin(np_)
        .crossJoin(ex)
        .crossJoin(F.broadcast(est))
        .select(
            "n_views",
            "n_purchases",
            "exact_join",
            "est_join",
            (F.col("est_join") - F.col("exact_join")).alias("err"),
            F.round(
                (F.col("est_join") - F.col("exact_join")).cast("double")
                / F.col("exact_join"),
                6,
            ).alias("rel_err"),
        )
    )


# --- per-hour A-ES weighted sample (streaming twin readout) -------------------


def _events_hourly_sample_aes_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql
    from ..streaming.events import AES_SAMPLE_K

    hash_sql = portable_hex_value_sql("event_id", 12, "VARCHAR")
    return f"""
    WITH e AS (
        SELECT STRFTIME(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_id, user_id, value,
               ln(CAST(({hash_sql}) + 1 AS DOUBLE) / 281474976710656.0)
                   / (CASE WHEN value > 0 THEN value
                           WHEN value < 0
                           THEN error('aes sample: negative weight')
                      END) AS aes_key
        FROM events
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY hour_start ORDER BY aes_key DESC, event_id
               ) AS rk
        FROM e WHERE aes_key IS NOT NULL
    )
    SELECT hour_start, CAST(rk AS INT) AS rk, event_id, user_id, value,
           ROUND(aes_key * CAST(1000000 AS DOUBLE), 6) AS aes_key_ppm
    FROM r WHERE rk <= {AES_SAMPLE_K}
    ORDER BY hour_start, rk
    """


@register(
    "events_hourly_sample_aes",
    oracle=_events_hourly_sample_aes_oracle(),
    description="per-hour Efraimidis-Spirakis weighted event sample: the "
    "top-3 events per tumbling event-time hour by ln(u)/value with u "
    "from the portable 48-bit md5 of event_id — a value-proportional "
    "sample WITHOUT replacement (P(rank 1 = i) = value_i/SUM(value) "
    "exactly), deterministic across engines/runs/partitionings — the "
    "batch twin of streaming.events.hourly_sample_aes, the SEVENTH "
    "streaming sketch family (CMS, histogram, Bloom, HLL, KMV, "
    "Misra-Gries, A-ES sample).  The A-ES summary is a pure order "
    "statistic: per-window streaming state is the <= k best rows and "
    "micro-batches merge by top-k of the union under the total order "
    "(-aes_key, event_id) — associative, commutative, "
    "split-independent, so stream == batch BIT-EXACT under ANY "
    "micro-batch split (a stronger law than MG's per-batch form; "
    "pinned in tests/test_streaming.py).  Zero/NULL-value events are "
    "EXCLUDED (zero selection probability, the exact w -> 0 limit — "
    "live in the sf0.1 data); NEGATIVE weights raise "
    "loudly in BOTH engines (ln(u) <= 0 — a negative weight would "
    "silently invert the ranking).  Scale shape: the key is one "
    "map-side codegen expression; the per-hour top-3 plans as "
    "WindowGroupLimit (k-row per-partition group limits, never a full "
    "per-group sort); streaming state is <= k rows per window",
    tags=("sampling", "event-time", "portable", "streaming-twin", "window"),
)
def events_hourly_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import hourly_sample_aes

    # the sample comes from the STREAMING operator itself in batch mode
    # (one logical plan for both execution modes — the module's standing
    # design), keyed back to the formatted hour label
    return hourly_sample_aes(table(spark, sf_dir, "events")).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "rk",
        "event_id",
        "user_id",
        "value",
        F.round(F.col("aes_key") * F.lit(1000000.0), 6).alias("aes_key_ppm"),
    ).orderBy("hour_start", "rk")
