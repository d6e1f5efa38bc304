"""Round-16 guard pins for the r15 ADVICE findings: the forward-decay
shift-range guard (out-of-range events must fail loudly in Spark instead
of Java silently masking the shift count mod 64), the seasonal
decomposition's gap-free-calendar assertion, and the negative-sampling
collision dedup (no duplicate (customer, part) negatives may survive)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import SF0001


def test_forward_decay_rejects_pre_landmark_event(spark):
    """An event timestamped BEFORE the landmark used to hit
    shiftleft(1, negative) — Java masks the count mod 64 and produces a
    silently-garbage weight while DuckDB's << raises.  The guard makes
    both engines fail together."""
    from walmart_e_commerce_sales_data_pipeline_spark.streaming.events import (
        hourly_user_forward_decay,
    )

    ev = spark.createDataFrame(
        [(dt.datetime(2023, 12, 31, 12, 0), 1, 5.0)],
        "ts timestamp, user_id bigint, value double",
    )
    with pytest.raises(Exception, match="forward-decay"):
        hourly_user_forward_decay(ev).collect()


def test_forward_decay_rejects_post_horizon_event(spark):
    """An event more than 62 days past the landmark would overflow the
    BIGINT term (and Java would mask shifts >= 64) — the guard demands a
    landmark renormalization instead."""
    from walmart_e_commerce_sales_data_pipeline_spark.streaming.events import (
        hourly_user_forward_decay,
    )

    ev = spark.createDataFrame(
        [(dt.datetime(2024, 3, 15, 12, 0), 1, 5.0)],  # day 74 > 62
        "ts timestamp, user_id bigint, value double",
    )
    with pytest.raises(Exception, match="forward-decay"):
        hourly_user_forward_decay(ev).collect()


def test_forward_decay_in_range_unchanged(spark):
    """The guard is a no-op for in-horizon events: cents << days."""
    from walmart_e_commerce_sales_data_pipeline_spark.streaming.events import (
        hourly_user_forward_decay,
    )

    ev = spark.createDataFrame(
        [(dt.datetime(2024, 1, 3, 12, 0), 1, 5.0)],  # day 2
        "ts timestamp, user_id bigint, value double",
    )
    row = hourly_user_forward_decay(ev).collect()[0]
    assert row.acc_fw == 500 << 2


def test_seasonal_decomposition_raises_on_month_gap(spark, tmp_path):
    """A missing calendar month would silently misalign the row-based
    2x12 MA frames; the guard raises in both engines instead."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        revenue_seasonal_decomposition,
    )

    # 30 consecutive months (so every month-of-year gets a seasonal mean
    # and the gapped row survives the join and is actually emitted),
    # then a gap: 2024-07 missing, 2024-08 present.
    rows = [
        (dt.date(2022 + m // 12, m % 12 + 1, 15), 100.0 + m)
        for m in range(30)
    ] + [(dt.date(2024, 8, 15), 200.0)]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    with pytest.raises(Exception, match="calendar gap"):
        revenue_seasonal_decomposition(spark, str(tmp_path)).collect()


def test_seasonal_decomposition_gap_raises_even_when_gapped_row_pruned(
    spark, tmp_path
):
    """The bypass a per-row guard allows (review finding, round 16): a
    short gapped series where the post-gap row's month-of-year never
    acquires a seasonal mean, so the seasonal inner join PRUNES exactly
    the violating row while its neighbors would emit frames spanning
    the gap.  The global 1-row gap flag must raise for ANY emitted
    row."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        revenue_seasonal_decomposition,
    )

    # 20 consecutive months (2022-01..2023-08), gap, then 2023-10: the
    # trend24 rows cover only interior months, so moy=10 never reaches
    # the seasonal table and the gapped row is join-pruned.
    rows = [
        (dt.date(2022 + m // 12, m % 12 + 1, 15), 100.0 + m)
        for m in range(20)
    ] + [(dt.date(2023, 10, 15), 200.0)]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    with pytest.raises(Exception, match="calendar gap"):
        revenue_seasonal_decomposition(spark, str(tmp_path)).collect()


def test_negative_samples_no_duplicate_pairs(spark):
    """Two draw indices hashing to the same part mod the keyspace must
    collapse to one candidate (minimum draw index) — a training batch
    must never contain duplicate negatives for one customer."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        training_negative_samples,
    )

    out = training_negative_samples(spark, SF0001).collect()
    pairs = [(r.o_custkey, r.neg_partkey) for r in out]
    assert len(pairs) == len(set(pairs))


# --- log-rank test pins (survival_km_logrank, VERDICT r15 item 3) ------------

from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

FAST = settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a subject: (cohort, duration day, event flag 1=converted / 0=censored)
subjects_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(0, 12),
        st.integers(0, 1),
    ),
    min_size=1,
    max_size=60,
)


def _logrank_definition(subjects):
    """EXACT first-principles log-rank (Mantel 1966): per event time t,
    the hypergeometric expected events and variance for cohort A,
    accumulated in Fractions — the definitional form the registered
    query's ordered-window double accumulation must agree with."""
    days = sorted({d for _, d, _ in subjects})
    o1, e1, v = 0, Fraction(0), Fraction(0)
    for t in days:
        n1 = sum(1 for g, d, _ in subjects if g == "A" and d >= t)
        n2 = sum(1 for g, d, _ in subjects if g == "B" and d >= t)
        d1 = sum(1 for g, d, e in subjects if g == "A" and d == t and e)
        d2 = sum(1 for g, d, e in subjects if g == "B" and d == t and e)
        nt, dt = n1 + n2, d1 + d2
        o1 += d1
        if nt > 0:
            e1 += Fraction(dt * n1, nt)
        if nt > 1:
            v += Fraction(dt * n1 * n2 * (nt - dt), nt * nt * (nt - 1))
    chi2 = float((o1 - e1) ** 2 / v) if v > 0 else None
    return o1, e1, v, chi2


@FAST
@given(subjects_strategy)
def test_logrank_query_construction_matches_definition(subjects):
    """The engine's log-rank fold (grid, prefix-sum risk sets, day-ordered
    double accumulation) equals the exact Fraction definition for ANY
    censored two-cohort duration multiset (to IEEE accumulation
    tolerance — the readout rounds at 4dp)."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.events import (
        _logrank_fold,
    )

    cells: dict = {}
    for g, d, e in subjects:
        dc = cells.setdefault(g, {}).get(d, (0, 0))
        cells[g][d] = (dc[0] + e, dc[1] + 1 - e)
    o1_d, e1_d, v_d, chi2_d = _logrank_definition(subjects)
    _km, (o1_q, _dsum, e1_q, v_q) = _logrank_fold(cells)
    chi2_q = (o1_q - e1_q) ** 2 / v_q if v_q > 0 else None
    assert o1_q == o1_d  # observed events are exact integers
    assert abs(e1_q - float(e1_d)) < 1e-9
    assert abs(v_q - float(v_d)) < 1e-9
    if chi2_d is None:
        assert chi2_q is None
    else:
        assert abs(chi2_q - chi2_d) < 1e-6 * max(1.0, chi2_d)


@FAST
@given(subjects_strategy)
def test_logrank_label_swap_invariance(subjects):
    """chi2 is symmetric in the cohort labels: (O1-E1) flips sign under
    A<->B (O2-E2 = -(O1-E1) since O1+O2 = D = E1+E2) and V is
    unchanged, so the statistic is identical."""
    _, e1, v, chi2 = _logrank_definition(subjects)
    swapped = [("B" if g == "A" else "A", d, e) for g, d, e in subjects]
    _, e1s, vs, chi2s = _logrank_definition(swapped)
    assert v == vs
    if chi2 is None:
        assert chi2s is None
    else:
        assert abs(chi2 - chi2s) < 1e-9 * max(1.0, chi2)


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 1)),
        min_size=1,
        max_size=30,
    )
)
def test_logrank_identical_cohorts_zero_statistic(durations):
    """Two cohorts with IDENTICAL duration/event multisets have O1 = E1
    exactly (each day contributes d_t * n1/nt = d_t/2 = d_1t), so the
    null A/B test reads chi2 = 0."""
    subjects = [("A", d, e) for d, e in durations] + [
        ("B", d, e) for d, e in durations
    ]
    o1, e1, v, chi2 = _logrank_definition(subjects)
    assert Fraction(o1) == e1
    if chi2 is not None:
        assert chi2 == 0.0


def test_logrank_spark_matches_definition_on_corpus(spark):
    """The registered query's emitted (observed, expected, chi2) equal
    the first-principles Fraction implementation run on the SAME
    subjects, rebuilt independently with DuckDB from the raw parquet."""
    import duckdb

    from walmart_e_commerce_sales_data_pipeline_spark.queries.events import (
        survival_km_logrank,
    )

    out = survival_km_logrank(spark, SF0001).toPandas()
    con = duckdb.connect()
    subj = con.sql(
        f"""
        WITH t0 AS (
            SELECT user_id, MIN(ts) AS fv
            FROM read_parquet('{SF0001}/events.parquet')
            WHERE event_type = 'view' GROUP BY user_id
        ),
        a AS (SELECT MAX(ts) AS anchor
              FROM read_parquet('{SF0001}/events.parquet')),
        conv AS (
            SELECT t0.user_id, MIN(e.ts) AS fp
            FROM t0 JOIN read_parquet('{SF0001}/events.parquet') e
              ON e.user_id = t0.user_id AND e.event_type = 'purchase'
             AND e.ts >= t0.fv
            GROUP BY t0.user_id
        )
        SELECT CASE WHEN t0.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
               CAST(CASE WHEN conv.fp IS NOT NULL
                    THEN datediff('day', CAST(t0.fv AS DATE), CAST(conv.fp AS DATE))
                    ELSE datediff('day', CAST(t0.fv AS DATE), CAST(a.anchor AS DATE))
               END AS INT) AS day,
               CASE WHEN conv.fp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id CROSS JOIN a
        """
    ).df()
    subjects = list(zip(subj["g"], subj["day"], subj["ev"]))
    o1, e1, v, chi2 = _logrank_definition(subjects)
    row_a = out[out.cohort == "A"].iloc[0]
    assert int(row_a.observed) == o1
    assert abs(float(row_a.expected) - float(e1)) < 5e-5  # 4dp rounding
    assert abs(float(row_a.logrank_chi2) - chi2) < 5e-4


# --- Zipf slope fit pins (zipf_slope_fit, VERDICT r15 item 6) -----------------


def _zipf_points_from_counts(counts):
    """Expand a token->count dict into per-type (ln midrank, ln f)
    points, ties at the shared midrank — the estimator zipf_slope_fit
    computes from the counts-of-counts table alone."""
    import math
    from collections import Counter

    cc = Counter(counts.values())
    xs, ys = [], []
    r_prev = 0
    for f in sorted(cc, reverse=True):
        c = cc[f]
        mid = r_prev + (c + 1) / 2.0
        xs.extend([math.log(mid)] * c)
        ys.extend([math.log(float(f))] * c)
        r_prev += c
    return xs, ys


def test_zipf_slope_exact_inverse_rank_construction(spark, tmp_path):
    """f = 12/r at consecutive ranks (12, 6, 4, 3 — all integer) lies
    EXACTLY on the log-log line of slope -1; the fitted slope must read
    -1 and r2 must read 1."""
    docs = []
    for i, (word, f) in enumerate(
        [("alpha", 12), ("beta", 6), ("gamma", 4), ("delta", 3)]
    ):
        docs.append((i, " ".join([word] * f)))
    spark.createDataFrame(docs, "doc_id int, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        zipf_slope_fit,
    )

    row = zipf_slope_fit(spark, str(tmp_path)).collect()[0]
    assert row.n_types == 4 and row.n_tokens == 25
    assert abs(row.zipf_slope - (-1.0)) < 1e-9
    assert abs(row.r2 - 1.0) < 1e-9


def test_zipf_slope_matches_numpy_polyfit_on_corpus(spark):
    """The registered query's slope/intercept equal numpy.polyfit over
    the expanded per-type point set, built independently from the raw
    parquet with the module-contract tokenizer."""
    import duckdb
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        zipf_slope_fit,
    )

    row = zipf_slope_fit(spark, SF0001).collect()[0]
    con = duckdb.connect()
    cnt = con.sql(
        f"""
        SELECT token, COUNT(*) AS f FROM (
            SELECT UNNEST(string_split(lower(text), ' ')) AS token
            FROM read_parquet('{SF0001}/documents.parquet')
        ) GROUP BY token
        """
    ).df()
    counts = dict(zip(cnt["token"], cnt["f"]))
    xs, ys = _zipf_points_from_counts(counts)
    slope, intercept = np.polyfit(xs, ys, 1)
    assert row.n_types == len(counts)
    assert abs(row.zipf_slope - slope) < 5e-4
    assert abs(row.log_intercept - intercept) < 5e-4


# --- Mann-Kendall pins (revenue_mann_kendall) ---------------------------------


def _mann_kendall_definition(xs):
    """First-principles Mann-Kendall: pairwise sign sum, tie-corrected
    variance, continuity-corrected Z, tau-b — the textbook formulas the
    registered query's integer sufficient statistics must reproduce."""
    import math
    from collections import Counter

    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = [t for t in Counter(xs).values() if t > 1]
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties)
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    var = var18 / 18.0
    z = 0.0 if s == 0 else (s - (1 if s > 0 else -1)) / math.sqrt(var)
    d = n * (n - 1) / 2.0
    u = sum(t * (t - 1) for t in ties) / 2.0
    tau_b = s / math.sqrt(d * (d - u)) if d * (d - u) > 0 else None
    return s, var18, z, tau_b


@FAST
@given(st.lists(st.integers(0, 8), min_size=3, max_size=40))
def test_mann_kendall_laws_for_any_series(xs):
    """For ANY series: |S| <= n(n-1)/2 with equality iff strictly
    monotone; tau-b in [-1, 1]; reversing the series flips S and Z."""
    s, var18, z, tau = _mann_kendall_definition(xs)
    n = len(xs)
    assert abs(s) <= n * (n - 1) // 2
    if tau is not None:
        assert -1.0 - 1e-9 <= tau <= 1.0 + 1e-9
    s_r, _, z_r, _ = _mann_kendall_definition(list(reversed(xs)))
    assert s_r == -s
    assert abs(z_r + z) < 1e-12
    if len(set(xs)) == n and xs == sorted(xs):
        assert s == n * (n - 1) // 2 and abs(tau - 1.0) < 1e-12


def test_mann_kendall_spark_matches_definition_on_corpus(spark):
    """The registered query's (S, var18, Z, tau_b) equal the pure-python
    textbook implementation run on the SAME monthly series, rebuilt
    independently with DuckDB from the raw parquet."""
    import duckdb

    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        revenue_mann_kendall,
    )

    row = revenue_mann_kendall(spark, SF0001).collect()[0]
    con = duckdb.connect()
    cents = [
        int(r[0])
        for r in con.sql(
            f"""
            SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT)
            FROM read_parquet('{SF0001}/orders.parquet')
            GROUP BY date_trunc('month', o_orderdate)
            ORDER BY date_trunc('month', o_orderdate)
            """
        ).fetchall()
    ]
    s, var18, z, tau = _mann_kendall_definition(cents)
    assert row.n_months == len(cents)
    assert row.s_statistic == s
    assert row.var18 == var18
    assert abs(row.z_score - z) < 5e-5
    assert abs(row.tau_b - tau) < 5e-5


# --- Heaps' law pins (heaps_law_fit) ------------------------------------------


def test_heaps_law_exact_powerlaw_construction(spark, tmp_path):
    """Shards constructed to lie EXACTLY on V = N^0.5 in log-log space
    (N = 4, 16, 64, 256 tokens with V = 2, 4, 8, 16 distinct words) fit
    beta = 0.5, log_k = 0, r2 = 1."""
    docs = []
    did = 0
    for si, (n_tok, v) in enumerate([(4, 2), (16, 4), (64, 8), (256, 16)]):
        words = [f"s{si}w{k}" for k in range(v)]
        text = " ".join(words[i % v] for i in range(n_tok))
        docs.append((did, text, "en", f"src{si}", len(text)))
        did += 1
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        heaps_law_fit,
    )

    row = heaps_law_fit(spark, str(tmp_path)).collect()[0]
    assert row.n_shards == 4
    assert abs(row.beta - 0.5) < 1e-9
    assert abs(row.log_k - 0.0) < 1e-9
    assert abs(row.heaps_k - 1.0) < 1e-9
    assert abs(row.r2 - 1.0) < 1e-9


def test_heaps_law_matches_numpy_polyfit_on_corpus(spark):
    """beta / log_k equal numpy.polyfit over the per-shard points built
    independently from the raw parquet."""
    import duckdb
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        heaps_law_fit,
    )

    row = heaps_law_fit(spark, SF0001).collect()[0]
    con = duckdb.connect()
    pts = con.sql(
        f"""
        SELECT ln(CAST(COUNT(*) AS DOUBLE)) AS x,
               ln(CAST(COUNT(DISTINCT token) AS DOUBLE)) AS y
        FROM (SELECT source, UNNEST(string_split(lower(text), ' ')) AS token
              FROM read_parquet('{SF0001}/documents.parquet'))
        GROUP BY source
        """
    ).df()
    beta, log_k = np.polyfit(pts["x"], pts["y"], 1)
    assert row.n_shards == len(pts)
    assert abs(row.beta - beta) < 5e-4
    assert abs(row.log_k - log_k) < 5e-4


# --- diversity index pins (source_token_diversity) -----------------------------


def test_diversity_uniform_and_degenerate_sources(spark, tmp_path):
    """Closed-form checks: a source with V distinct tokens each
    appearing exactly c times has H = ln V EXACTLY (so evenness = 1)
    and Simpson concentration (c-1)/(Vc-1); a single-repeated-token
    source has H = 0 and concentration 1."""
    import math

    v, c = 8, 5
    uniform = " ".join(f"w{k}" for k in range(v) for _ in range(c))
    degenerate = " ".join(["only"] * 12)
    spark.createDataFrame(
        [(0, uniform, "en", "uni", len(uniform)),
         (1, degenerate, "en", "deg", len(degenerate))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        source_token_diversity,
    )

    rows = {r.source: r for r in source_token_diversity(spark, str(tmp_path)).collect()}
    uni = rows["uni"]
    assert uni.n_tokens == v * c and uni.vocab == v
    assert abs(uni.shannon_nats - math.log(v)) < 1e-6
    assert abs(uni.evenness - 1.0) < 1e-6
    assert uni.simpson_num == v * c * (c - 1)
    assert abs(uni.simpson_concentration - (c - 1) / (v * c - 1)) < 1e-6
    deg = rows["deg"]
    assert deg.vocab == 1 and abs(deg.shannon_nats - 0.0) < 1e-9
    assert abs(deg.simpson_concentration - 1.0) < 1e-9
    assert deg.evenness is None  # ln(1) = 0 — undefined, NULL not a crash


# --- stratified log-rank pins (survival_logrank_stratified) -------------------


def _stratified_logrank_definition(subjects):
    """First-principles stratified log-rank: per-stratum exact Fraction
    O/E/V cells summed across strata, chi2 = (sum(O-E))^2 / sum(V)."""
    strata = sorted({s for s, _, _, _ in subjects})
    o_all, e_all, v_all = 0, Fraction(0), Fraction(0)
    for st_ in strata:
        sub = [(g, d, e) for s, g, d, e in subjects if s == st_]
        o, e, v, _ = _logrank_definition(sub)
        o_all += o
        e_all += e
        v_all += v
    chi2 = float((o_all - e_all) ** 2 / v_all) if v_all > 0 else None
    return o_all, e_all, v_all, chi2


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # stratum
            st.sampled_from(["A", "B"]),
            st.integers(0, 10),
            st.integers(0, 1),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_stratified_logrank_single_stratum_equals_unstratified(subjects):
    """Collapsing every subject into ONE stratum reproduces the plain
    log-rank exactly — the stratified statistic is a strict
    generalization."""
    one = [(0, g, d, e) for _s, g, d, e in subjects]
    o_s, e_s, v_s, chi2_s = _stratified_logrank_definition(one)
    o_u, e_u, v_u, chi2_u = _logrank_definition(
        [(g, d, e) for _s, g, d, e in subjects]
    )
    assert (o_s, e_s, v_s) == (o_u, e_u, v_u)
    assert chi2_s == chi2_u


def test_stratified_logrank_spark_matches_definition_on_corpus(spark):
    """The registered query's per-stratum cells and combined chi2 equal
    the Fraction first-principles implementation on subjects rebuilt
    independently with DuckDB."""
    import duckdb

    from walmart_e_commerce_sales_data_pipeline_spark.queries.events import (
        survival_logrank_stratified,
    )

    out = survival_logrank_stratified(spark, SF0001).toPandas()
    con = duckdb.connect()
    subj = con.sql(
        f"""
        WITH t0 AS (
            SELECT user_id, MIN(ts) AS fv
            FROM read_parquet('{SF0001}/events.parquet')
            WHERE event_type = 'view' GROUP BY user_id
        ),
        a AS (SELECT MAX(ts) AS anchor
              FROM read_parquet('{SF0001}/events.parquet')),
        conv AS (
            SELECT t0.user_id, MIN(e.ts) AS fp
            FROM t0 JOIN read_parquet('{SF0001}/events.parquet') e
              ON e.user_id = t0.user_id AND e.event_type = 'purchase'
             AND e.ts >= t0.fv
            GROUP BY t0.user_id
        )
        SELECT CAST(FLOOR(datediff('day', DATE '2024-01-01',
                    CAST(t0.fv AS DATE)) / 7.0) AS INT) AS s,
               CASE WHEN t0.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
               CAST(CASE WHEN conv.fp IS NOT NULL
                    THEN datediff('day', CAST(t0.fv AS DATE), CAST(conv.fp AS DATE))
                    ELSE datediff('day', CAST(t0.fv AS DATE), CAST(a.anchor AS DATE))
               END AS INT) AS day,
               CASE WHEN conv.fp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id CROSS JOIN a
        """
    ).df()
    subjects = list(zip(subj["s"], subj["g"], subj["day"], subj["ev"]))
    o_all, e_all, v_all, chi2 = _stratified_logrank_definition(subjects)
    assert int(out["observed_a"].sum()) == o_all
    assert abs(float(out["expected_a"].sum()) - float(e_all)) < 1e-3
    if chi2 is not None:
        assert abs(float(out["stratified_chi2"].iloc[0]) - chi2) < 5e-4
    # per-stratum cells match the per-stratum definition too
    for _, row in out.iterrows():
        sub = [
            (g, d, e) for s, g, d, e in subjects if s == row["stratum"]
        ]
        o, e, v, _ = _logrank_definition(sub)
        assert int(row["observed_a"]) == o
        assert abs(float(row["expected_a"]) - float(e)) < 5e-5
        assert abs(float(row["variance_a"]) - float(v)) < 5e-5
