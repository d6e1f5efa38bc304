"""Property-based checks for the round-15 primitives: the Misra-Gries
mergeable-summary laws (Agarwal et al., PODS'12) for ANY input stream
(pure-python, milliseconds per example), plus the Spark-side merge law on
the real corpus — per-shard summaries built by the registered query's own
construction, merged by counter addition + compress, checked against the
exact counts."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from walmart_e_commerce_sales_data_pipeline_spark.queries.sketches import _MG_K

FAST = settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _mg_compress(counts: dict[str, int], k: int) -> tuple[dict[str, int], int]:
    """The order-independent Misra-Gries compress the query ships: subtract
    the (k+1)-th largest counter from every counter, keep the positive
    ones.  Returns (summary, decrement)."""
    if len(counts) <= k:
        return dict(counts), 0
    t = sorted(counts.values(), reverse=True)[k]
    return {x: c - t for x, c in counts.items() if c > t}, t


@FAST
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=300),
    st.integers(1, 8),
)
def test_mg_summary_laws_for_any_stream(stream, k):
    """For ANY stream and summary size: the compress never OVERcounts,
    undercounts every item by the same decrement t <= N/(k+1), keeps at
    most k items, and every item with true frequency > N/(k+1) survives
    — the Misra-Gries guarantee the registered query's apriori_bound and
    guaranteed columns claim."""
    counts = Counter(str(x) for x in stream)
    n = len(stream)
    summary, t = _mg_compress(counts, k)
    assert len(summary) <= k
    assert (k + 1) * t <= n
    for x, c in summary.items():
        assert c == counts[x] - t and c > 0
    for x, c in counts.items():
        if c * (k + 1) > n:
            assert x in summary, (x, c, n, k, t)


@FAST
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=200),
    st.lists(st.integers(0, 30), min_size=1, max_size=200),
    st.integers(1, 8),
)
def test_mg_merge_law_for_any_split(s1, s2, k):
    """Mergeability (PODS'12): merge two per-shard summaries by counter
    ADDITION, then compress to k.  The decrements telescope — each
    removes >= (k+1)x its value of remaining mass — so the total error
    stays <= N/(k+1) for the COMBINED stream, exactly as if one summary
    had seen everything.  Checked for ANY split of any stream."""
    c1, c2 = Counter(str(x) for x in s1), Counter(str(x) for x in s2)
    m1, t1 = _mg_compress(c1, k)
    m2, t2 = _mg_compress(c2, k)
    added = Counter(m1)
    added.update(m2)
    merged, t3 = _mg_compress(added, k)
    n = len(s1) + len(s2)
    truth = c1 + c2
    assert (k + 1) * (t1 + t2 + t3) <= n, (t1, t2, t3, n, k)
    for x, c in merged.items():
        assert 0 < c <= truth[x]
        assert truth[x] - c <= t1 + t2 + t3
    for x, c in truth.items():
        if c * (k + 1) > n:
            assert x in merged, (x, c, n, k)


def test_mg_spark_merge_matches_per_shard_compress(spark):
    """Spark-side merge law on the real corpus: per-shard summaries built
    by the registered construction over the two doc_id-parity shards,
    merged by counter addition + compress — every merged counter
    undercounts its exact corpus count by <= the telescoped decrement
    sum, which itself respects the a-priori N/(k+1) bound."""
    from pyspark.sql import functions as F

    from tests.conftest import SF001
    from walmart_e_commerce_sales_data_pipeline_spark.functions.text import (
        tokenize,
        word_shingles,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import (
        table,
    )

    docs = table(spark, SF001, "documents")
    occ = docs.select(
        (F.col("doc_id") % 2).alias("shard"),
        F.explode(word_shingles(tokenize("text"), 3)).alias("shingle"),
    )
    per_shard = {
        shard: Counter(
            {
                r["shingle"]: r["n"]
                for r in occ.filter(F.col("shard") == shard)
                .groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        )
        for shard in (0, 1)
    }
    from tests.test_round15_properties import _mg_compress  # self, for clarity

    m0, t0 = _mg_compress(per_shard[0], _MG_K)
    m1, t1 = _mg_compress(per_shard[1], _MG_K)
    added = Counter(m0)
    added.update(m1)
    merged, t2 = _mg_compress(added, _MG_K)
    truth = per_shard[0] + per_shard[1]
    n = sum(truth.values())
    t_total = t0 + t1 + t2
    assert (_MG_K + 1) * t_total <= n
    assert 0 < len(merged) <= _MG_K
    for x, c in merged.items():
        assert 0 < c <= truth[x]
        assert truth[x] - c <= t_total
    for x, c in truth.items():
        if c * (_MG_K + 1) > n:
            assert x in merged


# --- priority sampling (Duffield-Lund-Thorup) laws ---------------------------
#
# Pure-python mirror of priority_sample_subsetsum's construction: the SAME
# portable md5 uniform (first 8 hex chars of md5(str(key))) and the same
# priority q = w * 2^32 / (h + 1), so the properties proven here are
# properties of the registered query's arithmetic, not of a lookalike.

import hashlib


def _pri(key: str, w: int, salt: str = "") -> float:
    h = int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)
    return float(w) * 4294967296.0 / (h + 1)


def _dlt_estimate(items: list[tuple[str, int]], k: int, salt: str = "") -> float:
    ordered = sorted(
        items, key=lambda kw: (-_pri(kw[0], kw[1], salt), kw[0])
    )
    tau = _pri(*ordered[k], salt) if len(ordered) > k else 0.0
    return sum(max(float(w), tau) for _key, w in ordered[:k])


@FAST
@given(
    st.dictionaries(
        st.integers(0, 10**6), st.integers(1, 10**6), min_size=1, max_size=40
    ),
    st.integers(1, 50),
)
def test_dlt_exact_when_sample_covers_population(weights, k):
    """DLT Thm: with k >= n every item is sampled, tau = 0, and the HT
    estimate degenerates to the EXACT subset sum — the boundary the
    registered query's CASE WHEN COUNT(*) = k+1 branch implements."""
    items = [(str(key), w) for key, w in weights.items()]
    if k >= len(items):
        assert _dlt_estimate(items, k) == float(sum(weights.values()))


@FAST
@given(
    st.dictionaries(
        st.integers(0, 10**6),
        st.integers(1, 10**6),
        min_size=10,
        max_size=60,
    ),
)
def test_dlt_ht_weights_dominate_and_heavy_items_always_kept(weights):
    """For ANY weight assignment: every HT weight >= the item's true
    weight (max(w, tau) >= w), the estimate is positive, and an item
    whose weight exceeds every other item's priority is ALWAYS in the
    sample (w >= q_j for all j means q_i = w/u_i >= w >= tau) — the
    weight-sensitivity that makes priority sampling beat uniform
    sampling on heavy-tailed revenue."""
    k = 5
    items = [(str(key), w) for key, w in weights.items()]
    ordered = sorted(items, key=lambda kw: (-_pri(kw[0], kw[1]), kw[0]))
    tau = _pri(*ordered[k]) if len(ordered) > k else 0.0
    kept = ordered[:k]
    for key, w in kept:
        assert max(float(w), tau) >= w
    heavy = [
        (key, w)
        for key, w in items
        if all(w >= _pri(k2, w2) for k2, w2 in items if k2 != key)
    ]
    kept_keys = {key for key, _w in kept}
    for key, _w in heavy:
        assert key in kept_keys


def test_dlt_unbiased_over_salted_replications():
    """E[estimate] == true total (DLT Thm 1), checked statistically like
    test_splits.py's A-ES proportionality: 400 salted hash replications
    of a fixed heavy-tailed population, sample k=8 of 40 — the mean
    estimate must land within 3 standard errors of the truth."""
    import statistics

    population = [(f"item{i}", (i % 7 + 1) ** 4 + i) for i in range(40)]
    truth = float(sum(w for _k, w in population))
    ests = [
        _dlt_estimate(population, 8, salt=f"rep{r}") for r in range(400)
    ]
    mean = statistics.fmean(ests)
    se = statistics.stdev(ests) / 20.0
    assert abs(mean - truth) <= 3.0 * se, (mean, truth, se)


# --- Count-Sketch two-relation join-size laws --------------------------------


def _cs_geometry(key: str) -> list[tuple[int, int, int]]:
    """(row, bucket, sign) triples exactly as the registered queries derive
    them from one md5: buckets from hex chars 1-10, signs from 11-15."""
    h = hashlib.md5(key.encode()).hexdigest()
    out = []
    for r in range(5):
        b = int(h[2 * r : 2 * r + 2], 16)
        s = 1 - 2 * (int(h[10 + r], 16) % 2)
        out.append((r, b, s))
    return out


def _cs_cells(stream: list[str]) -> dict[tuple[int, int], int]:
    cells: dict[tuple[int, int], int] = {}
    for key in stream:
        for r, b, s in _cs_geometry(key):
            cells[(r, b)] = cells.get((r, b), 0) + s
    return cells


def _cs_join_est(
    cv: dict[tuple[int, int], int], cp: dict[tuple[int, int], int]
) -> int:
    rows = []
    for r in range(5):
        rows.append(
            sum(
                c * cp.get((rr, b), 0)
                for (rr, b), c in cv.items()
                if rr == r
            )
        )
    return sorted(rows)[2]


@FAST
@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=120),
    st.lists(st.integers(0, 20), min_size=1, max_size=120),
    st.lists(st.integers(0, 20), max_size=60),
)
def test_countsketch_join_size_merge_law_for_any_shard_split(s1, s2, s3):
    """Cells built per shard and merged by ADDITION give the identical
    join-size estimate as cells built over the whole relation — the
    mergeability that lets a 1000-executor fleet sketch each relation
    shard-locally and estimate |R JOIN S| at a coordinator from 2x5x256
    integers."""
    r_stream = [str(x) for x in s1]
    s_stream = [str(x) for x in s2 + s3]
    whole = _cs_cells(s_stream)
    sharded = _cs_cells([str(x) for x in s2])
    for cell, c in _cs_cells([str(x) for x in s3]).items():
        sharded[cell] = sharded.get(cell, 0) + c
    sharded = {cell: c for cell, c in sharded.items() if c != 0}
    whole = {cell: c for cell, c in whole.items() if c != 0}
    assert sharded == whole
    cv = _cs_cells(r_stream)
    assert _cs_join_est(cv, sharded) == _cs_join_est(cv, whole)


@FAST
@given(st.data())
def test_countsketch_join_size_exact_when_collision_free(data):
    """When every key occupies its own bucket in EVERY depth row (no
    collisions), the signed inner product recovers |R JOIN S| EXACTLY in
    every row — signs square to +1 on matching keys — so the median does
    too: the estimator's error comes from collisions alone."""
    keys = data.draw(
        st.lists(st.integers(0, 10**6), min_size=1, max_size=8, unique=True)
    )
    per_row_buckets = [
        [_cs_geometry(str(k))[r][1] for k in keys] for r in range(5)
    ]
    if any(len(set(bs)) != len(bs) for bs in per_row_buckets):
        return  # collision present: the exactness premise doesn't hold
    fv = {str(k): data.draw(st.integers(0, 5)) for k in keys}
    fp = {str(k): data.draw(st.integers(0, 5)) for k in keys}
    r_stream = [k for k, f in fv.items() for _ in range(f)]
    s_stream = [k for k, f in fp.items() for _ in range(f)]
    exact = sum(fv[k] * fp[k] for k in fv)
    assert _cs_join_est(_cs_cells(r_stream), _cs_cells(s_stream)) == exact


# --- Gini tied-rank formula and Kaplan-Meier laws ----------------------------


def _gini_tied_rank(xs: list[int]) -> tuple[int, int]:
    """revenue_gini_lorenz's formula as an exact rational (num, den):
    G = (sum_v c*(2*c_lt+c+1)*v - (n+1)*total) / (n*total), ties
    collapsed per distinct value exactly as the registered query does."""
    n, total = len(xs), sum(xs)
    c_lt, s = 0, 0
    for v in sorted(set(xs)):
        c = xs.count(v)
        s += c * (2 * c_lt + c + 1) * v
        c_lt += c
    return s - (n + 1) * total, n * total


@FAST
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=80))
def test_gini_tied_rank_equals_mean_absolute_difference(xs):
    """For ANY nonnegative values: the tied-rank formula the query ships
    equals the definitional pairwise form G = sum_ij |x_i - x_j| /
    (2 n sum(x)) — exactly, as rationals (cross-multiplied integers, no
    float tolerance)."""
    if sum(xs) == 0:
        return
    num, den = _gini_tied_rank(xs)
    mad_num = sum(abs(a - b) for a in xs for b in xs)  # == 2n*total*G
    # num/den == mad_num/(2*n*total)  <=>  num * 2*n*total == mad_num * den
    n, total = len(xs), sum(xs)
    assert num * 2 * n * total == mad_num * den
    assert 0 <= num <= den  # 0 <= G <= 1


@FAST
@given(st.lists(st.integers(0, 40), min_size=1, max_size=60))
def test_kaplan_meier_equals_empirical_survival_without_censoring(durations):
    """For ANY duration multiset with NO censoring, the product-limit
    estimator collapses to the empirical survival function:
    S(t) = #(d > t) / n — the identity that pins the engine's KM fold
    (survival_time_to_purchase's exp(sum ln) construction) to the
    definitional curve, and exercises the everyone-dies S=0 tail."""
    import math

    from walmart_e_commerce_sales_data_pipeline_spark.queries.events import (
        _km_fold,
    )

    n = len(durations)
    counts = Counter(durations)
    rows = _km_fold({d: (e, 0) for d, e in counts.items()}, sorted(counts))
    for day, _n, _d, _c, died_out, log_s in rows:
        s = 0.0 if died_out else math.exp(log_s)
        empirical = sum(1 for x in durations if x > day) / n
        assert abs(s - empirical) < 1e-9, (day, s, empirical)
    assert rows[-1][1] == rows[-1][2] and rows[-1][4] == 1  # all die last


# --- rank-sum AUC and CUSUM laws ----------------------------------------------


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.booleans()),
        min_size=2,
        max_size=120,
    )
)
def test_auc_tied_rank_equals_pairwise_definition(labeled):
    """For ANY labeled score multiset with both classes present: the
    midrank formula quality_score_auc ships — AUC = (S2 - n_pos(n_pos+1))
    / (2 n_pos n_neg) with S2 = sum over distinct scores of
    pos_c*(2*c_lt+c+1) — equals the definitional P(s_pos > s_neg) +
    P(s_pos = s_neg)/2, exactly as rationals.  Drives the engine's fold
    on the (score, pos_c, c) cells the query reads."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        _auc_fold,
    )

    pos = [s for s, y in labeled if y]
    neg = [s for s, y in labeled if not y]
    if not pos or not neg:
        return
    cells = [
        (v, pos.count(v), pos.count(v) + neg.count(v))
        for v in sorted({s for s, _y in labeled})
    ]
    n_pos, n_neg, num = _auc_fold(cells)  # num == 2 * U
    assert (n_pos, n_neg) == (len(pos), len(neg))
    den = 2 * n_pos * n_neg
    # definitional: wins + half-ties, doubled to stay integer
    pairwise2 = sum(
        2 if p > q else (1 if p == q else 0) for p in pos for q in neg
    )
    assert num == pairwise2
    assert 0 <= num <= den


@FAST
@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.integers(0, 1000),
    st.integers(0, 1000),
)
def test_cusum_peaks_exactly_at_a_clean_level_shift(k, m, a, b):
    """For a series that sits at level a for k steps then at level b for
    m steps (a != b, no noise), the scaled CUSUM S'_t = N*cum_t -
    t*total peaks in absolute value exactly at the shift point t = k —
    the detection property revenue_cusum_changepoint's flag claims,
    checked on the engine's own integer fold."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        _cusum_fold,
    )

    if a == b:
        return
    _scaled, peak_t = _cusum_fold([a] * k + [b] * m)
    assert peak_t == k


# --- seasonal decomposition and HHI laws --------------------------------------


@FAST
@given(
    st.integers(0, 10**6),
    st.integers(-1000, 1000),
    st.lists(st.integers(-500, 500), min_size=12, max_size=12),
    st.integers(24, 60),
)
def test_seasonal_decomposition_recovers_a_clean_trend_plus_seasonal(
    a, b, s_raw, n
):
    """For a synthetic series x_t = a + b*t + s_{t%12} with zero-sum
    12-periodic seasonality: the centered 2x12 MA recovers the linear
    trend EXACTLY (the MA of a linear function is itself; the
    zero-sum seasonal vanishes over any aligned 12-window), so
    trend24 == 24*(a + b*t) and the month-of-year means recover s
    exactly — the decomposition identity the registered query's
    construction claims, checked on the engine's own integer fold."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        _decompose24,
    )

    s_mean12 = sum(s_raw) // 12
    s = [v - s_mean12 for v in s_raw]
    rem = sum(s)  # distribute the rounding remainder to keep sum == 0
    s[0] -= rem
    assert sum(s) == 0
    xs = [a + b * t + s[t % 12] for t in range(n)]
    if min(xs) < 0:
        xs = [x - min(xs) for x in xs]  # keep cents nonnegative
        a = a - min(a + b * t + s[t % 12] for t in range(n))
    trend24, seas = _decompose24(xs, [t % 12 for t in range(n)])
    for t, tr in enumerate(trend24):
        if tr is not None:
            assert tr == 24 * (a + b * t), (t, tr)
    for moy, (snum, scnt) in seas.items():
        assert snum == 24 * s[moy] * scnt, (moy, snum, scnt)


@FAST
@given(
    st.lists(st.integers(1, 10**6), min_size=1, max_size=50),
)
def test_hhi_bounds_and_exact_rational_identity(revs):
    """HHI = sum(r^2)/total^2 lies in [1/n, 1] with equality at the
    perfect-competition / monopoly extremes — checked as exact
    rationals (cross-multiplied), the same arithmetic
    market_concentration_hhi ships."""
    n, total = len(revs), sum(revs)
    ssq = sum(r * r for r in revs)
    # 1/n <= ssq/total^2 <= 1  (cross-multiplied)
    assert total * total <= n * ssq
    assert ssq <= total * total
    if len(set(revs)) == 1:
        assert n * ssq == total * total  # perfect competition: HHI == 1/n
    if n == 1:
        assert ssq == total * total  # monopoly: HHI == 1


# --- a-priori min-support prefilter: completeness + measured reduction --------


def test_apriori_prefilter_keeps_every_supported_pair_and_prunes(spark, tmp_path):
    """Skewed synthetic baskets (a few HOT items co-occurring in many
    baskets + a long singleton tail): basket_association_rules with
    min_item_support=s must (1) keep EVERY pair whose pair support >= s
    with identical counts — the a-priori completeness argument: a pair
    in >= s baskets puts both items in >= s baskets — and (2) measurably
    collapse the candidate-pair explode the tail would otherwise feed."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.analysis import (
        basket_association_rules,
    )

    rows = []
    # 30 hot baskets over 4 hot items (pairwise supports >= 10)
    for b in range(30):
        rows += [(b, 1000 + (b + k) % 4) for k in range(3)]
    # 400 tail baskets: two singleton-ish items each, every item unique
    for b in range(30, 430):
        rows += [(b, 2000 + 2 * b), (b, 2001 + 2 * b)]
    import pandas as pd

    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    sf_dir = str(tmp_path)

    full = {
        (r["p1"], r["p2"]): r["pair_cnt"]
        for r in basket_association_rules(spark, sf_dir).collect()
    }
    s = 5
    pruned = {
        (r["p1"], r["p2"]): r["pair_cnt"]
        for r in basket_association_rules(
            spark, sf_dir, min_item_support=s
        ).collect()
    }
    # completeness: every pair with support >= s survives, counts equal
    for pair, cnt in full.items():
        if cnt >= s:
            assert pruned.get(pair) == cnt, pair
    # nothing fabricated
    for pair, cnt in pruned.items():
        assert full.get(pair) == cnt, pair
    # measured reduction of the candidate explode: the tail's 400 pairs
    # vanish; only hot-item combinations remain
    def n_candidates(min_sup):
        from pyspark.sql import functions as F

        items = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        ).distinct()
        if min_sup > 1:
            hot = (
                items.groupBy("l_partkey")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= min_sup)
                .select("l_partkey")
            )
            items = items.join(hot, "l_partkey")
        k = items.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("sz")
        )
        return k.agg(
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("c")
        ).collect()[0]["c"]

    c_full, c_pruned = n_candidates(1), n_candidates(s)
    assert c_full >= 400 + 30 * 3  # tail pairs + hot combinations
    assert c_pruned <= 30 * 3  # tail gone entirely
    assert c_pruned < c_full / 5
