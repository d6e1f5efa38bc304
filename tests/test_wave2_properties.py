"""Property-based checks for the round-13 wave-2 primitives: random
inputs through the histogram-quantile sketch and the cross-engine
integer-division helper must satisfy the invariants a fixed fixture
can't enumerate — cell totality/merge algebra, bracketing-bucket
readout bounds, and Spark `div` == DuckDB `//` == the sign-split
reference on negative operands."""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from walmart_e_commerce_sales_data_pipeline_spark.queries.sketches import (
    _HQ_B,
    histogram_cells,
)
from walmart_e_commerce_sales_data_pipeline_spark.queries.similarity import (
    _pc_sign_div,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
# hi - lo one subnormal wide: w = (hi - lo) / B underflows to 0.0
@example(rows=[("a", 0.0), ("a", 5e-324)])
def test_histogram_cells_invariants(spark, rows):
    """Cell counts sum to the group size, bucket ids stay in [0, B-1],
    per-group cell count never exceeds B, and min/max values land in the
    first/last occupied buckets — for ANY value distribution, including
    all-equal groups (the w = 0 guard)."""
    df = spark.createDataFrame(rows, ["g", "x"])
    cells = histogram_cells(df, "g", "x").collect()
    by_g: dict = {}
    for r in cells:
        assert 0 <= r["bk"] < _HQ_B, r
        by_g.setdefault(r["g"], []).append(r)
    from collections import Counter

    sizes = Counter(g for g, _ in rows)
    for g, rs in by_g.items():
        assert sum(r["c"] for r in rs) == sizes[g]
        assert len(rs) <= _HQ_B
        lo = min(x for gg, x in rows if gg == g)
        hi = max(x for gg, x in rows if gg == g)
        occupied = sorted(r["bk"] for r in rs)
        assert rs[0]["lo"] == lo and rs[0]["hi"] == hi
        if lo < hi:
            assert occupied[0] == 0  # min value lands in bucket 0
            assert occupied[-1] == _HQ_B - 1  # max value lands in the last
        else:
            assert occupied == [0]


@SLOW
@given(
    st.lists(
        st.tuples(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.booleans(),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_histogram_cells_merge_with_shared_bounds(spark, tagged):
    """Random two-way shard split: per-shard cells built against the
    SHARED bounds merge by addition into the whole-frame histogram."""
    rows = [("g", x) for x, _ in tagged]
    df = spark.createDataFrame(rows, ["g", "x"])
    bounds = df.groupBy("g").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    whole = {
        r["bk"]: r["c"]
        for r in histogram_cells(df, "g", "x", bounds=bounds).collect()
    }
    a = [("g", x) for x, t in tagged if t]
    b = [("g", x) for x, t in tagged if not t]
    merged: dict = {}
    for shard in (a, b):
        if not shard:
            continue
        sdf = spark.createDataFrame(shard, ["g", "x"])
        for r in histogram_cells(sdf, "g", "x", bounds=bounds).collect():
            merged[r["bk"]] = merged.get(r["bk"], 0) + r["c"]
    assert merged == whole


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.integers(min_value=1, max_value=2**40),
)
def test_sign_div_cross_engine_parity(x, s):
    """The sign-split integer division must agree between DuckDB (`//`
    floors on negatives) and the Python trunc reference — the exact
    divergence the helper exists to remove.  (The Spark side is pinned
    separately below; hypothesis drives the cheap engine here.)"""
    expect = (abs(x) // s) * (1 if x >= 0 else -1)
    got = duckdb.sql(
        f"SELECT {_pc_sign_div(str(x), str(s), '//')} AS v"
    ).fetchone()[0]
    assert got == expect, (x, s, got, expect)


def test_sign_div_spark_matches_reference(spark):
    """Spark `div` evaluation of the same helper over a grid of signed
    operands equals the trunc reference (one vectorized job, no
    per-example Spark overhead)."""
    cases = [
        (x, s)
        for x in [-(2**61), -1000003, -128, -1, 0, 1, 127, 999999, 2**61]
        for s in [1, 2, 3, 127, 1 << 20, 1 << 30]
    ]
    df = spark.createDataFrame(cases, ["x", "s"])
    got = {
        (r["x"], r["s"]): r["v"]
        for r in df.select(
            "x", "s", F.expr(_pc_sign_div("x", "s", "div")).alias("v")
        ).collect()
    }
    for x, s in cases:
        expect = (abs(x) // s) * (1 if x >= 0 else -1)
        assert got[(x, s)] == expect, (x, s)
