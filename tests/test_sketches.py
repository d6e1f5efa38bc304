"""Targeted invariants for the wave-2 sketches (queries/sketches.py):
histogram-quantile mergeability + error bound, KMV Jaccard estimator
sanity.  Cross-engine value equality is covered by the registry mirror
(tests/test_queries_vs_duckdb.py); these tests pin the properties the
oracle comparison cannot express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from walmart_e_commerce_sales_data_pipeline_spark import queries as q
from walmart_e_commerce_sales_data_pipeline_spark.queries.sketches import (
    _HQ_B,
    histogram_cells,
)

from tests.conftest import SF001
from tests.test_queries_vs_duckdb import _normalize


def test_histogram_cells_merge_by_addition(spark):
    """Per-shard histograms built against SHARED bounds must merge by
    elementwise bucket addition into exactly the whole-frame histogram —
    the property that makes the sketch per-shard state at 100 TB."""
    li = spark.read.parquet(f"{SF001}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    bounds = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    whole = histogram_cells(li, "l_returnflag", "l_extendedprice", bounds=bounds)
    shard_a = li.filter(F.col("l_extendedprice") % 2 < 1)
    shard_b = li.filter(F.col("l_extendedprice") % 2 >= 1)
    merged = (
        histogram_cells(shard_a, "l_returnflag", "l_extendedprice", bounds=bounds)
        .union(
            histogram_cells(
                shard_b, "l_returnflag", "l_extendedprice", bounds=bounds
            )
        )
        .groupBy("l_returnflag", "lo", "hi", "n", "bk")
        .agg(F.sum("c").alias("c"))
    )
    w_rows = {
        (r["l_returnflag"], r["bk"]): r["c"] for r in whole.collect()
    }
    m_rows = {
        (r["l_returnflag"], r["bk"]): r["c"] for r in merged.collect()
    }
    assert w_rows == m_rows
    # Fixed sketch width: no group ever exceeds B cells.
    per_group: dict[str, int] = {}
    for (g, _bk) in w_rows:
        per_group[g] = per_group.get(g, 0) + 1
    assert per_group and all(v <= _HQ_B for v in per_group.values())


def test_histogram_cells_clamps_out_of_bounds_values(spark):
    """With caller-supplied bounds (the sharded two-phase use) a shard can
    hold values OUTSIDE [lo, hi] — stale footer stats, late data.  Those
    must clamp into the edge buckets 0 / B-1, never a negative or
    out-of-range ``bk`` that would corrupt the merge-by-addition; counts
    stay total."""
    df = spark.createDataFrame(
        [("g", v) for v in (-50.0, -1.0, 0.0, 10.0, 99.0, 100.0, 250.0)],
        "g string, x double",
    )
    bounds = spark.createDataFrame(
        [("g", 0.0, 100.0, 7)], "g string, lo double, hi double, n bigint"
    )
    cells = histogram_cells(df, "g", "x", n_buckets=10, bounds=bounds).collect()
    assert all(0 <= r["bk"] <= 9 for r in cells), cells
    assert sum(r["c"] for r in cells) == 7
    by_bk = {r["bk"]: r["c"] for r in cells}
    assert by_bk[0] == 3  # -50, -1 clamp low; 0.0 lands in bucket 0
    assert by_bk[9] == 3  # 99 in-range top bucket; 100, 250 clamp high


def test_histogram_quantile_error_within_bucket_bound(spark):
    """The interpolated readout sits in the bucket bracketing the target
    rank; quantile_cont's value can sit at most one bucket away (its rank
    differs by < 1), so |est - exact| <= 2 bucket widths — the sketch's
    a-priori guarantee, independent of the data distribution."""
    rows = q.REGISTRY["histogram_quantile_sketch"].fn(spark, SF001).collect()
    assert len(rows) == 9  # 3 return flags x 3 quantiles
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    b = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    for r in rows:
        lo, hi = b[r["l_returnflag"]]
        width = (hi - lo) / _HQ_B
        assert abs(r["hist_est"] - r["exact"]) <= 2 * width + 1e-9, r
        assert 0.0 <= r["rel_err"] < 0.1, r


def test_kmv_jaccard_estimator_sanity(spark):
    """Signatures must be saturated (cardinalities >> k so the union holds
    exactly k hashes), estimates live in [0, 1], the exact side obeys set
    algebra, and the estimator error stays inside ~3 sigma of the KMV
    binomial bound sqrt(J(1-J)/k) + the 1/k quantization floor."""
    rows = q.REGISTRY["kmv_jaccard_langs"].fn(spark, SF001).collect()
    assert len(rows) == 10  # C(5 langs, 2)
    for r in rows:
        assert r["sig_union_k"] == 64, r
        assert 0 <= r["sig_in_both"] <= 64, r
        assert 0.0 <= r["kmv_jaccard_est"] <= 1.0, r
        assert r["n_inter"] <= min(r["n_a"], r["n_b"]), r
        j = r["jaccard_exact"]
        sigma = (j * (1 - j) / 64) ** 0.5
        assert r["abs_err"] <= 3 * sigma + 1.0 / 64 + 1e-9, r


def test_embedding_top_pc_matches_numpy_recurrence(spark):
    """On the near-isotropic testdata (lambda2/lambda1 = 0.96, no dominant
    component) a few power steps cannot — and should not — recover the
    true eigenvector; what must hold is (1) the Spark plan computes
    exactly the declared k-step INTEGER recurrence (numpy replays it
    bit-for-bit), and (2) pc1_share correctly diagnoses the isotropy."""
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.queries.similarity import (
        _PC_G_CAP,
        _PC_ITERS,
        _PC_V_CAP,
    )

    rows = q.REGISTRY["embedding_top_pc"].fn(spark, SF001).collect()
    assert len(rows) == 64
    loading = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{SF001}/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )

    def sign_div(x, s):
        return np.sign(x) * (np.abs(x) // s)

    scale = np.abs(emb).max(axis=1, keepdims=True)
    qm = np.floor(emb * 127.0 / scale).astype(object)  # exact int arithmetic
    g = (qm.T @ qm).astype(object)
    gsc = max(1, int(np.abs(g.astype(np.int64)).max()) // _PC_G_CAP)
    gs = sign_div(g.astype(np.int64), gsc)
    v = np.ones(64, dtype=np.int64)
    for _ in range(_PC_ITERS):
        u = gs @ v
        vs = max(1, int(np.abs(u).max()) // _PC_V_CAP)
        prev_v, v = v, sign_div(u, vs)
    ref = np.round(u / np.abs(u).max(), 6)
    assert np.array_equal(loading, ref), (loading[:4], ref[:4])
    # Isotropy correctly diagnosed: no dominant component on this corpus.
    assert 0.0 < rows[0]["pc1_share"] < 0.1


def test_embedding_top_pc_converges_on_anisotropic_corpus(spark, tmp_path):
    """Where the diagnostic matters — a corpus with a genuinely dominant
    direction (embedding collapse) — the k-step iteration must recover
    the true top eigenvector and report a large pc1_share."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    u = rng.standard_normal(64)
    u /= np.linalg.norm(u)
    w = rng.standard_normal((300, 1)) * 3.0
    emb = w * u + 0.15 * rng.standard_normal((300, 64))
    pd.DataFrame(
        {
            "vec_id": range(300),
            "embedding": [r.astype(np.float32).tolist() for r in emb],
            "label": [0] * 300,
        }
    ).to_parquet(f"{tmp_path}/embeddings.parquet")
    rows = q.REGISTRY["embedding_top_pc"].fn(spark, str(tmp_path)).collect()
    loading = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    scale = np.abs(emb).max(axis=1, keepdims=True)
    qm = np.floor(emb * 127.0 / scale)
    g = qm.T @ qm
    wv, vv = np.linalg.eigh(g)
    top = vv[:, np.argmax(wv)]
    cos = abs(float(loading @ top) / (np.linalg.norm(loading) * np.linalg.norm(top)))
    assert cos >= 0.99, cos
    assert rows[0]["pc1_share"] >= 0.5, rows[0]["pc1_share"]
    assert abs(rows[0]["pc1_share"] - wv.max() / np.trace(g)) <= 0.05


@pytest.mark.parametrize(
    "n, d, zero_row",
    [
        pytest.param(0, 64, None, id="empty"),
        pytest.param(1, 64, None, id="one_row"),
        pytest.param(30, 64, 3, id="zero_vector"),
        pytest.param(5, 65, None, id="d65"),
    ],
)
def test_embedding_queries_on_degenerate_corpora(spark, tmp_path, n, d, zero_row):
    """Degenerate embedding corpora give the DuckDB oracle's rows or the
    documented bound error.  A zero vector (scale 0) is dropped by
    quantize_int8 in both engines, and must not reach its division; its
    cosine is NULL, never a division by zero; a Gram wider than 64 x 64
    cells raises in both tiers instead of being read whole."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = np.random.default_rng(5).standard_normal((n, d)).astype(np.float32)
    if zero_row is not None:
        vecs[zero_row] = 0.0
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    path = f"{tmp_path}/embeddings.parquet"
    pq.write_table(
        pa.table(
            {
                "vec_id": list(range(n)),
                "embedding": [v.tolist() for v in vecs],
                "label": [0] * n,
            },
            schema=schema,
        ),
        path,
    )
    top_pc = q.REGISTRY["embedding_top_pc"].fn
    if d > 64:
        for tier in (False, True):
            with pytest.raises(ValueError, match="embedding_top_pc.*4,096"):
                top_pc(spark, str(tmp_path), sketch_only=tier)
        return
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    for name in (
        "embedding_top_pc",
        "similarity_inverted_index",
        "similarity_pairs",
        "similarity_topk",
        "similarity_topk_ivf",
        "similarity_pairs_blocked",
        "dedup_embedding",
        "dup_graph_triangles",
    ):
        sdf = q.REGISTRY[name].fn(spark, str(tmp_path))
        _, got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
        ddf = con.sql(q.REGISTRY[name].oracle)
        _, want = _normalize([tuple(r) for r in ddf.fetchall()], list(ddf.columns))
        assert got == want, (name, len(got), len(want), got[:2], want[:2])
    con.close()
    for tier in (False, True):
        rows = top_pc(spark, str(tmp_path), sketch_only=tier).collect()
        assert len(rows) == (64 if n else 0), (tier, len(rows))


def test_embedding_top_pc_runs_in_at_most_six_jobs(spark):
    """Both tiers read the Gram once and run the power steps on the
    driver: the Gram aggregate and the d-row readout, not a Spark job
    per step (the per-step Spark loop ran 33 jobs, and 29 for
    sketch_only)."""
    sc = spark.sparkContext
    for tier in (False, True):
        group = f"embedding_top_pc-sketch_only={tier}"
        sc.setJobGroup(group, group)
        try:
            q.REGISTRY["embedding_top_pc"].fn(spark, SF001, sketch_only=tier).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 6, (tier, len(jobs))


def test_cms_selfjoin_size_estimator_theory(spark):
    """AMS/CMS F2 estimate must dominate the exact F2 (collisions only add
    mass) and land near the predicted collision term: E[inner_product] =
    F2 + (N^2 - F2)/width per depth row, so overest ~ (N^2 - F2)/256."""
    r = q.REGISTRY["cms_selfjoin_size"].fn(spark, SF001).collect()[0]
    assert r["est_f2"] >= r["exact_f2"]
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    n = li.count()
    predicted = (n * n - r["exact_f2"]) / 256.0
    assert 0.3 * predicted <= r["overest"] <= 2.0 * predicted, (
        r["overest"], predicted
    )


def test_daily_hll_rollup_merge_equals_direct_sketch(spark):
    """MAX-register associativity, the property the rollup query banks on:
    merging the per-hour registers into days must equal the registers of
    an HLL built directly over each day — and therefore the daily
    estimates must match events_hourly_hll's machinery re-aimed at days."""
    from pyspark.sql import functions as F

    from walmart_e_commerce_sales_data_pipeline_spark.operators.splits import (
        portable_hex_value_sql,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.curation import (
        _HLL_MAX_RHO,
        _HLL_REST_MOD,
    )

    ev = spark.read.parquet(f"{SF001}/events.parquet").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        F.expr(portable_hex_value_sql("user_id", 12, "STRING")).alias("hv"),
    )
    rho = F.when(F.col("hv") % _HLL_REST_MOD == 0, F.lit(_HLL_MAX_RHO)).otherwise(
        F.lit(_HLL_MAX_RHO) - F.length(F.expr(f"bin(hv % {_HLL_REST_MOD})"))
    )
    base = ev.select(
        "h", "d", F.expr(f"hv DIV {_HLL_REST_MOD}").alias("bucket"), rho.alias("rho")
    )
    via_hours = {
        (r["d"], r["bucket"]): r["m"]
        for r in base.groupBy("h", "d", "bucket")
        .agg(F.max("rho").alias("m"))
        .groupBy("d", "bucket")
        .agg(F.max("m").alias("m"))
        .collect()
    }
    direct = {
        (r["d"], r["bucket"]): r["m"]
        for r in base.groupBy("d", "bucket").agg(F.max("rho").alias("m")).collect()
    }
    assert via_hours == direct
    # and the registered query's estimates sit inside HLL's error band
    rows = q.REGISTRY["events_daily_hll_rollup"].fn(spark, SF001).collect()
    assert len(rows) == 30
    assert all(r["rel_err"] <= 0.25 for r in rows), rows[:3]


def test_cms_join_size_estimator_theory(spark):
    """The two-relation AMS estimate must dominate the exact join size and
    land near the collision term (n_v*n_p - exact)/width per depth row."""
    r = q.REGISTRY["cms_join_size_estimate"].fn(spark, SF001).collect()[0]
    assert r["est_join"] >= r["exact_join"]
    predicted = (r["n_views"] * r["n_purchases"] - r["exact_join"]) / 256.0
    assert r["overest"] <= 2.0 * predicted + 1e-9, (r["overest"], predicted)
