"""Local mirror of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle at sf0.01, compare row count, column
names, and (order-insensitively) the values themselves.

The comparison is deliberately strict — exact equality for ints/strings,
exact float equality for rounded doubles (both engines must emit the same
bits after rounding, which is the property the driver's value-hash needs).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF001
from walmart_e_commerce_sales_data_pipeline_spark import queries as q

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF001}/{t}.parquet')"
        )
    yield con
    con.close()


def _type_class(t) -> str:
    """Coarse Arrow type class: exact width for ints (int64 vs decimal128
    is the divergence that breaks the driver hash), family otherwise."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return str(t)
    if pa.types.is_decimal(t):
        return str(t)
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_class(t.value_type)}>"
    return str(t)


def _normalize(rows, columns):
    """Sort columns by name then rows by value, like the driver's hash."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                # guard against -0.0 vs 0.0 and NaN identity
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [c for _, c in sorted(zip(range(len(columns)), columns), key=lambda p: columns[p[0]])], out


ORACLE_QUERIES = sorted(q.oracle_map())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    query = q.REGISTRY[name]
    sdf = query.fn(spark, SF001)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    ddf = duck.sql(query.oracle)
    duck_cols = list(ddf.columns)
    duck_rows = [tuple(r) for r in ddf.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )

    # Type-class check at the Arrow layer: the driver's value hash is
    # type-sensitive, so a DuckDB HUGEINT (decimal128) vs Spark BIGINT
    # divergence fails there even when Python-level values agree (the
    # round-1 stratified_sample_stats red row).  Compare coarse classes so
    # benign physical differences (tz annotation, string width) still pass.
    s_types = {f.name: _type_class(f.type) for f in sdf.toArrow().schema}
    d_types = {f.name: _type_class(f.type) for f in ddf.arrow().schema}
    assert s_types == d_types, f"{name}: arrow type classes differ: {s_types} vs {d_types}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )

    _, s_norm = _normalize(spark_rows, spark_cols)
    _, d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 1
    assert df.columns[0] == "l_returnflag"


def test_registry_complete():
    """Every oracle has a query; descriptions exist."""
    for name, query in q.REGISTRY.items():
        assert query.fn is not None
        assert query.description, f"{name} missing description"


def test_documents_never_empty(duck):
    """The multimodal oracle's per-byte UNNEST drops zero-length payloads;
    the synthetic corpus guarantees none exist (payload = UTF-8 text)."""
    (n,) = duck.sql(
        "SELECT COUNT(*) FROM documents WHERE octet_length(encode(text)) = 0"
    ).fetchone()
    assert n == 0


def test_checked_window_composition():
    """The external harness checks a prefix of the registry in
    registration order; pin the curated invariants so a future module
    import or decorator reorder can't silently push an unverified query
    out of the window."""
    names = list(q.REGISTRY)
    from walmart_e_commerce_sales_data_pipeline_spark.queries import _PRIORITY

    assert len(_PRIORITY) == 50
    assert names[:50] == _PRIORITY
    # Round-19 rotation policy: the checked window is the 50 queries
    # with the oldest external evidence (computed by
    # tools/rotate_window.py, which also asserts the 5-round staleness
    # horizon).  Evidence going in: 4 never-green (source_ks_drift,
    # spearman_rank_corr, source_length_kruskal, source_length_levene —
    # the four and only queries that PUBLISHED a DECIMAL(38,0) column;
    # decimal-typed outputs went 0-for-5 on the external hash across
    # rounds 1-18, so this round publishes those exact-integer pins as
    # digit strings), then 18 last-green r14, 50 @ r15, 50 @ r16,
    # 49 @ r17, 46 @ r18.  The window is the four never-green queries
    # first (standing policy — they carry the decimal-to-string fix and
    # must be re-checked), the 18 r14 greens in registry order, then
    # the stalest 28 of the 50 r15 greens in registry order.
    window = set(names[:50])
    assert _PRIORITY[:22] == [
        "source_ks_drift",  # never-green (r17+r18: published decimal)
        "spearman_rank_corr",  # never-green (r18: published decimal)
        "source_length_kruskal",  # never-green (r18: published decimal)
        "source_length_levene",  # never-green (r18: published decimal)
        "mixture_sampling_plan",  # the 18 r14-green queries
        "train_val_test_split",
        "embedding_dim_profile",
        "corr_matrix_lineitem",
        "forecast_revenue",
        "from_json_map",
        "asof_join_latest_order",
        "range_join_close_events",
        "similarity_inverted_index",
        "kmv_set_difference",
        "events_hourly_hll",
        "cms_selfjoin_size",
        "events_daily_hll_rollup",
        "events_sliding_hll",
        "cms_join_size_estimate",
        "cube_distinct_hll",
        "pareto_frontier_parts",
        "events_session_window",
    ]
    assert _PRIORITY[22:50] == [
        "concurrent_sessions_profile",  # the stalest 28 r15 greens start here
        "time_decayed_engagement",
        "events_forward_decay",
        "survival_time_to_purchase",
        "pricing_summary",
        "join_anti",
        "join_full_outer",
        "regional_revenue",
        "basket_association_rules",
        "market_concentration_hhi",
        "vocab_coverage_estimators",
        "training_negative_samples",
        "benford_digit_profile",
        "revenue_gini_lorenz",
        "revenue_cusum_changepoint",
        "quality_score_auc",
        "revenue_autocorrelation",
        "revenue_seasonal_decomposition",
        "priority_sample_subsetsum",
        "shipping_priority_top10",
        "large_quantity_orders",
        "above_average_orders",
        "pivot_status_by_year",
        "price_percentiles",
        "regex_math_functions",
        "ship_delay_buckets",
        "map_array_functions",
        "join_right_outer",
    ]
    # Nothing green in rounds 16-18 re-occupies a window slot — the
    # window is reserved for the stalest evidence.
    recent_green_sample = {
        # r18 greens (last round's window)
        "cluster_aware_split", "cluster_sampling_weights",
        "bigram_lm_quality", "ngram_novelty_rate",
        "lang_id_precision_recall", "events_hourly_countsketch",
        "score_lift_deciles", "rrf_hybrid_retrieval",
        "retrieve_rerank_topk", "embedding_top_pc",
        "histogram_quantile_sketch", "events_hourly_cms",
        "kmv_jaccard_langs", "jaccard_prefix_filter",
        "events_hourly_bloom_returns", "multi_touch_attribution",
        "stratified_sample_stats", "profile_documents",
        # r17 greens
        "conversion_ab_ztest", "events_hourly_sample_aes",
        "event_dow_independence", "source_psi_drift",
        "similarity_topk_ivf", "multimodal_features", "date_functions",
        "dedup_exact", "dedup_minhash_lsh", "text_stats",
        "cms_heavy_hitters", "bloom_semijoin_stats",
        # r16 greens
        "survival_km_logrank", "zipf_slope_fit", "events_hourly_mg",
        "heaps_law_fit", "revenue_mann_kendall", "source_token_diversity",
        "window_topk_orders", "merge_upsert_orders", "similarity_lsh",
    }
    assert not (recent_green_sample & window)
    # every query everywhere carries an exact oracle
    assert all(entry.oracle for entry in q.REGISTRY.values())


def test_no_query_publishes_decimal_columns(duck):
    """Across rounds 1-18 every externally hash-checked query that
    PUBLISHED a decimal-typed column failed the driver's value hash
    (r1 stratified_sample_stats HUGEINT-vs-BIGINT; r17/r18
    source_ks_drift, spearman_rank_corr, source_length_kruskal,
    source_length_levene — all rows_match+schema_match green,
    hash_match red, 0-for-5) while every non-decimal published type
    passed; decimal128 arrow export and Decimal-object hashing vary
    across engine builds where int64/double/varchar do not.  Exact
    integer pins wider than BIGINT must be published as digit strings
    (internal DECIMAL(38,0) arithmetic is fine and unchecked here).
    DuckDB's binder types the oracle without executing it; the mirror's
    arrow type-class assertion transfers the property to the Spark side.
    """
    offenders = {}
    for name, query in q.REGISTRY.items():
        rel = duck.sql(query.oracle)
        decs = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if "DECIMAL" in str(t).upper()
        ]
        if decs:
            offenders[name] = decs
    assert not offenders, (
        f"queries publishing decimal-typed columns (never driver-green): {offenders}"
    )


def test_bench_headline_names_are_registered():
    """Every bench.py HEADLINE entry must name a registered query — a
    typo'd or renamed entry would crash bench.py only at round-end, on
    the driver's machine, mid-measurement."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", str(__import__("pathlib").Path(__file__).parent.parent / "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE if n not in q.REGISTRY]
    assert not missing, f"bench HEADLINE names unknown queries: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dups
