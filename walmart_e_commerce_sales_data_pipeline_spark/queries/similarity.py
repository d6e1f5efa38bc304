"""Similarity-search queries over ``embeddings`` (extension surface,
SURVEY.md §2.11): brute-force cosine threshold pairs and top-k as the
correctness baseline, hyperplane-LSH as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    ivf_topk,
    train_ivf_centroids,
    block_cosine_pairs,
    cosine_pairs,
    lsh_bucketed_pairs,
    quantize_int8,
    rerank_topk,
    topk_neighbors,
)
from .registry import register
from .tables import local_frame, read_bounded, table

COSINE_THRESHOLD = 0.45
TOPK_QUERY_LIMIT = 20
TOPK_K = 3

_PAIRS_SQL = f"""
    SELECT a.vec_id AS x, b.vec_id AS y,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS sim_r
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= {COSINE_THRESHOLD}
    ORDER BY x, y
"""


@register(
    "similarity_pairs",
    oracle=_PAIRS_SQL,
    description="brute-force cosine near-neighbor pairs ≥ 0.45 over the "
    "64-d float embeddings (operators.similarity.cosine_pairs; zip_with + "
    "aggregate fold, no UDFs)",
    tags=("similarity",),
)
def similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        cosine_pairs(emb, threshold=COSINE_THRESHOLD)
        .select("x", "y", F.round("sim", 4).alias("sim_r"))
        .orderBy("x", "y")
    )


@register(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {TOPK_QUERY_LIMIT}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])) AS sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM scored
    )
    WHERE rk <= {TOPK_K}
    ORDER BY query_id, rk
    """,
    description="exact top-3 cosine neighbors for the first 20 vectors "
    "(operators.similarity.topk_neighbors: brute-force + per-query window)",
    tags=("similarity", "topk"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    return (
        topk_neighbors(emb, queries, k=TOPK_K)
        .select("query_id", F.col("rank").alias("rk"), "neighbor_id")
        .orderBy("query_id", "rk")
    )


@register(
    "similarity_pairs_blocked",
    oracle=_PAIRS_SQL,
    description="exact cosine pairs via broadcast block-matrix GEMM "
    "(operators.similarity.block_cosine_pairs) — the high-throughput path "
    "when the corpus fits a broadcast; must equal the brute-force oracle",
    tags=("similarity", "blocked"),
)
def similarity_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        block_cosine_pairs(emb, threshold=COSINE_THRESHOLD)
        .select("x", "y", F.round("sim", 4).alias("sim_r"))
        .orderBy("x", "y")
    )


@register(
    "similarity_lsh",
    oracle=_PAIRS_SQL,
    description="random-hyperplane LSH near-neighbor pairs with exact "
    "cosine re-ranking (operators.similarity.lsh_bucketed_pairs) — must "
    "reproduce the brute-force oracle at ≥ 0.45 with the default "
    "(16 planes, 4 chunks) banding",
    tags=("similarity", "lsh"),
)
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        lsh_bucketed_pairs(emb, threshold=COSINE_THRESHOLD)
        .select("x", "y", F.round("sim", 4).alias("sim_r"))
        .orderBy("x", "y")
    )


_IVF_CELLS = 8


@register(
    "similarity_topk_ivf",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {TOPK_QUERY_LIMIT}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])) AS sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM scored
    )
    WHERE rk <= {TOPK_K}
    ORDER BY query_id, rk
    """,
    description="IVF top-k ANN (operators.similarity.ivf_topk): spherical "
    "k-means coarse cells trained on a driver sample, expression-only cell "
    "assignment, cell-key probe join, exact cosine re-rank.  Probed at "
    "nprobe == n_cells here so the result is provably the brute-force "
    "top-k (same oracle as similarity_topk); recall at nprobe < n_cells "
    "is measured on clustered data in tests/test_dedup_similarity.py",
    tags=("similarity", "topk", "ann", "ivf"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    cents = train_ivf_centroids(emb, n_cells=_IVF_CELLS, sample=1024)
    return (
        ivf_topk(emb, queries, cents, k=TOPK_K, nprobe=_IVF_CELLS)
        .select("query_id", F.col("rank").alias("rk"), "neighbor_id")
        .orderBy("query_id", "rk")
    )


@register(
    "quantize_embeddings",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT)),
               ',') AS q_csv,
           CAST(list_sum(list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT)))
               AS BIGINT) AS q_sum,
           list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)
                        - FLOOR(CAST(x AS DOUBLE) * 127.0 / scale)
                          * scale / 127.0))) AS recon_err_max
    FROM s
    WHERE scale > 0
    ORDER BY vec_id
    """,
    description="symmetric per-vector int8 quantization "
    "(operators.similarity.quantize_int8): scale = max|x|, q = "
    "floor(x*127/scale) — the embedding-storage compression step before "
    "ANN indexing at 100 TB scale; pure array HOFs, zero shuffles, "
    "oracle verifies every quantized element plus exact integer checksum "
    "and max dequantization error (floor, never ROUND, so no cross-engine "
    "tie divergence); the quantized vector is emitted as a ','-joined "
    "string (q_csv) because the external harness canonicalizer hashes "
    "scalar cells — a raw array<bigint> column is unhashable there "
    "(round-3 red row), and the int→string rendering is exact in both "
    "engines so per-element verification strength is unchanged",
    tags=("similarity", "quantization", "storage"),
)
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        quantize_int8(emb)
        .select(
            F.col("id").alias("vec_id"),
            "scale",
            F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias(
                "q_csv"
            ),
            "q_sum",
            "recon_err_max",
        )
        .orderBy("vec_id")
    )


@register(
    "label_centroid_similarity",
    oracle="""
    WITH pos AS (
        SELECT label,
               CAST(u.i AS INTEGER) AS pos,
               CAST(u.v AS DOUBLE) AS v
        FROM (
            SELECT label,
                   unnest(list_transform(range(0, len(embedding)),
                          i -> {'i': i, 'v': embedding[i + 1]})) AS u
            FROM embeddings
        )
    ),
    cent AS (SELECT label, pos, AVG(v) AS c FROM pos GROUP BY label, pos),
    pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.c * b.c) AS dot,
               SUM(a.c * a.c) AS na,
               SUM(b.c * b.c) AS nb
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           ROUND(dot / SQRT(na * nb), 6) AS centroid_cosine
    FROM pairs
    ORDER BY label_a, label_b
    """,
    description="inter-class embedding drift map: per-label centroid "
    "(dimension-wise mean via posexplode + one map-side-combined "
    "aggregation keyed on the label×dim domain) and the pairwise cosine "
    "between every two label centroids — the class-separability / "
    "domain-drift diagnostic run before training a classifier head or "
    "choosing contrastive negatives.  Scale shape: the only data-sized "
    "stage is the (label, dim)-keyed partial aggregate over N×D exploded "
    "rows (map-side combine collapses each partition to |labels|×D rows "
    "before the shuffle); the centroid table itself is |labels|×D rows — "
    "config-sized — so the pairwise self-join is a broadcast-scale "
    "equi-join on dim, never quadratic in N.  Cosine is rounded to 6 dp "
    "on both engines (double sums are order-dependent at the last ulp)",
    tags=("similarity", "profiling"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.sum(F.col("a.c") * F.col("a.c")).alias("na"),
            F.sum(F.col("b.c") * F.col("b.c")).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6).alias(
            "centroid_cosine"
        ),
    ).orderBy("label_a", "label_b")


_RERANK_POOL = 10


@register(
    "retrieve_rerank_topk",
    oracle=f"""
    WITH sc AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                   x -> FLOOR(CAST(x AS DOUBLE) * 127.0 / scale)) AS q
        FROM sc WHERE scale > 0
    ),
    qry AS (
        SELECT vec_id AS query_id, embedding AS qv, q AS qq
        FROM qz WHERE vec_id < {TOPK_QUERY_LIMIT}
    ),
    coarse AS (
        SELECT qry.query_id, e.vec_id AS neighbor_id, qry.qv,
               e.embedding AS cv,
               CAST(list_dot_product(qry.qq, e.q) AS BIGINT) AS cscore
        FROM qry JOIN qz e ON e.vec_id <> qry.query_id
    ),
    pool AS (
        SELECT query_id, neighbor_id, qv, cv,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cscore DESC, neighbor_id)
                   AS coarse_rk
        FROM coarse
    ),
    rer AS (
        SELECT query_id, neighbor_id, CAST(coarse_rk AS INTEGER) AS coarse_rk,
               list_cosine_similarity(CAST(qv AS DOUBLE[]),
                                      CAST(cv AS DOUBLE[])) AS sim
        FROM pool WHERE coarse_rk <= {_RERANK_POOL}
    )
    SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, coarse_rk,
           ROUND(sim, 4) AS sim_r
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM rer
    )
    WHERE rk <= {TOPK_K}
    ORDER BY query_id, rk
    """,
    description="two-stage retrieve-then-rerank top-3 "
    "(operators.similarity.rerank_topk): int8-quantized integer dot "
    "product retrieves a deterministic 10-candidate pool per query, exact "
    "float cosine reranks the pool only — the cross-encoder-shaped "
    "pipeline (cheap retriever + expensive scorer on candidates) with "
    "every stage closed-form, so unlike recall-bound ANN the full "
    "composition has an EXACT oracle; coarse_rk in the output surfaces "
    "how far the rerank moved each hit",
    tags=("similarity", "topk", "rerank"),
)
def retrieve_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    return (
        rerank_topk(emb, queries, k=TOPK_K, candidates=_RERANK_POOL)
        .select(
            "query_id",
            F.col("rank").alias("rk"),
            "neighbor_id",
            F.col("coarse_rank").alias("coarse_rk"),
            F.round("sim", 4).alias("sim_r"),
        )
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# Top principal component via INTEGER power iteration over the int8 Gram
# matrix — distributed PCA with an exact oracle.
# ---------------------------------------------------------------------------
#
# Float power iteration cannot share an exact cross-engine oracle (every
# mat-vec is an order-dependent float sum), so the whole algorithm is kept
# in exact integer arithmetic: quantize each vector to int8 (the registered
# floor-based `quantize_int8` fold), accumulate the d x d Gram matrix as
# exact BIGINT sums of integer products, and run the unrolled power
# iterations as integer mat-vecs with deterministic magnitude rescaling
# (sign-split integer division by a max-derived scalar — max is
# order-independent, so every intermediate is bit-identical in any
# engine).  The ONLY floating arithmetic is the final loading
# normalization and the Rayleigh-quotient ratio, both exact-integer
# inputs through deterministic IEEE division.
#
# Only the Gram accumulation grows with the corpus, so only it runs as a
# Spark stage; its result (d^2 = 4,096 cells, d fixed by the embedding
# schema) is read once, and the power steps run on the driver in Python
# integers.  The rescale caps bound the oracle's BIGINTs: the Gram is
# capped at 2^30 per entry (so a billion-row corpus cannot overflow the
# mat-vec), iterates at 2^20; u = G_s . v then satisfies
# |u| <= 64 * 2^30 * 2^20 = 2^56 < 2^63.
_PC_DIMS = 64
_PC_ITERS = 4
_PC_G_CAP = 1 << 30
_PC_V_CAP = 1 << 20


def _pc_sign_div(x: str, s: str, intdiv: str) -> str:
    """Sign-split integer division: floor == trunc on non-negatives in
    both engines, so splitting the sign removes the Spark-`div`(trunc)
    vs DuckDB-`//` negative-operand divergence."""
    return (
        f"CASE WHEN {x} < 0 THEN -((-({x})) {intdiv} {s}) "
        f"ELSE ({x}) {intdiv} {s} END"
    )


def _pc_oracle() -> str:
    iters = []
    prev_v = "v0"
    for k in range(1, _PC_ITERS + 1):
        last = k == _PC_ITERS
        iters.append(f"""
    u{k} AS (
        SELECT g.i, CAST(SUM(g.gs * {prev_v}.v) AS BIGINT) AS u
        FROM gs g JOIN {prev_v} ON g.j = {prev_v}.j GROUP BY g.i
    ),
    m{k} AS (
        SELECT GREATEST(1, CAST(MAX(ABS(u)) AS BIGINT) // {_PC_V_CAP}) AS s
        FROM u{k}
    ),
    v{k} AS (
        SELECT u{k}.i AS j,
               {_pc_sign_div('u' + str(k) + '.u', 'm' + str(k) + '.s', '//')} AS v
        FROM u{k}, m{k}
    )""")
        prev_v = f"v{k}"
    n, p = _PC_ITERS, _PC_ITERS - 1
    return f"""
    WITH s AS (
        SELECT list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS scale,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / scale)
                             AS BIGINT)) AS qv
        FROM s WHERE scale > 0
    ),
    qr AS (SELECT ROW_NUMBER() OVER () AS rid, qv FROM q),
    qx AS (
        SELECT rid, a.i - 1 AS d, qv[a.i] AS qd
        FROM qr, UNNEST(range(1, len(qv) + 1)) AS a(i)
    ),
    graw AS (
        SELECT x.d AS i, y.d AS j, CAST(SUM(x.qd * y.qd) AS BIGINT) AS g
        FROM qx x JOIN qx y USING (rid)
        GROUP BY x.d, y.d
    ),
    gm AS (
        SELECT GREATEST(1, CAST(MAX(ABS(g)) AS BIGINT) // {_PC_G_CAP}) AS s
        FROM graw
    ),
    gs AS (
        SELECT i, j, {_pc_sign_div('graw.g', 'gm.s', '//')} AS gs
        FROM graw, gm
    ),
    v0 AS (SELECT DISTINCT j, 1 AS v FROM gs),
    {",".join(iters)},
    tr AS (SELECT CAST(SUM(gs) AS BIGINT) AS trace FROM gs WHERE i = j),
    ray AS (
        SELECT CAST(ANY_VALUE(m{n}.s) AS DOUBLE)
               * CAST(SUM(v{p}.v * v{n}.v) AS DOUBLE)
               / CAST(SUM(v{p}.v * v{p}.v) AS DOUBLE) AS lam
        FROM v{p} JOIN v{n} ON v{p}.j = v{n}.j, m{n}
    ),
    mm AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS m FROM u{n})
    SELECT CAST(u{n}.i AS INTEGER) AS dim,
           ROUND(CAST(u{n}.u AS DOUBLE) / CAST(mm.m AS DOUBLE), 6)
               AS loading,
           ROUND(ray.lam / CAST(tr.trace AS DOUBLE), 6) AS pc1_share
    FROM u{n}, mm, ray, tr
    ORDER BY dim
    """


@register(
    "embedding_top_pc",
    oracle=_pc_oracle(),
    description="top principal component of the embedding corpus by "
    "INTEGER power iteration over the int8 Gram matrix: quantize_int8 "
    "per vector, accumulate G = sum q q^T as exact BIGINT sums, then "
    f"{_PC_ITERS} unrolled mat-vec iterations in pure integer arithmetic "
    "with deterministic max-derived rescaling (sign-split integer "
    "division, identical trunc semantics both engines), so even an "
    "ITERATIVE NUMERIC eigen-solver gets an exact DuckDB oracle — the "
    "only floats are the final loading normalization and the Rayleigh "
    "share, exact-integer inputs through deterministic IEEE division.  "
    "pc1_share = rayleigh(G_s)/trace(G_s) estimates the variance "
    "fraction the top component carries (embedding collapse/anisotropy "
    "diagnostic, the check run before cosine-similarity mining).  "
    "Convergence is eigengap-dependent, exactly as the diagnostic "
    "needs: on a collapsed corpus (large gap) k steps pin the true "
    "eigenvector (cos >= 0.99 on a planted corpus), on a near-isotropic "
    "one the share correctly reports ~1/d and the direction is the "
    "declared k-step iterate — both regimes pinned against numpy in "
    "tests/test_sketches.py.  Scale "
    "shape: the Gram accumulation is the only Spark stage — "
    "posexplode^2 streams through a partial aggregate that caps every "
    "partition's output at d^2=4,096 cells (the CMS-style mergeable-"
    "state shape); the Gram is read once under that bound (a wider "
    "corpus raises instead of flooding the driver), the power steps, "
    "trace and Rayleigh terms run on the driver in exact Python "
    "integers, and a d-row frame returns to Spark for the final "
    "division and rounding.  The 2^30/2^20 rescale caps bound every "
    "intermediate below 2^56 at ANY corpus size, so the oracle's "
    "BIGINT replay cannot overflow",
    tags=("similarity", "pca", "iterative", "quantization"),
)
def embedding_top_pc(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` runs the SAME power iteration in plain double
    arithmetic on the raw float embeddings — no int8 quantization, no
    sign-split integer rescaling: each scale is the plain max-abs (the
    exact-INTEGER regime exists so the oracle can replay the recurrence
    bit-for-bit; a production run doesn't need replayability, VERDICT r13
    item 6).  Same output columns (dim, loading, pc1_share), float
    convergence instead of the exact recurrence.  Default off; bench.py
    measures both tiers.  Both tiers share the one bounded Gram read and
    the driver-side loop; a Gram over d^2 = 4,096 cells (embeddings wider
    than 64 dims) raises ``ValueError``."""
    emb = table(spark, sf_dir, "embeddings")
    if sketch_only:
        vecs = emb.select(F.transform("embedding", lambda x: x.cast("double")))
        scale = lambda mx, cap: mx  # noqa: E731
        div = lambda x, s: x / s  # noqa: E731
    else:
        vecs = quantize_int8(emb).select("q")
        scale = lambda mx, cap: max(1, mx // cap)  # noqa: E731
        div = lambda x, s: -(-x // s) if x < 0 else x // s  # noqa: E731
    cells = vecs.toDF("x").select(
        F.posexplode("x").alias("i", "xi"), "x"
    ).select("i", "xi", F.posexplode("x").alias("j", "xj"))
    gram = read_bounded(
        cells.groupBy("i", "j").agg(F.sum(F.col("xi") * F.col("xj")).alias("g")),
        _PC_DIMS**2,
        f"embedding_top_pc: the Gram read ({_PC_DIMS} dims)",
    )
    rows = []
    if gram:
        g = {(r["i"], r["j"]): r["g"] for r in gram}
        s = scale(max(abs(x) for x in g.values()), _PC_G_CAP)
        gs = {k: div(x, s) for k, x in g.items()}
        v = {j: 1 for _, j in gs}
        for _ in range(_PC_ITERS):
            u = {}
            for (i, j), x in gs.items():
                u[i] = u.get(i, 0) + x * v[j]
            s = scale(max(abs(x) for x in u.values()), _PC_V_CAP)
            prev_v, v = v, {i: div(x, s) for i, x in u.items()}
        lam = (
            float(s)
            * float(sum(prev_v[j] * v[j] for j in v))
            / float(sum(x * x for x in prev_v.values()))
        )
        trace = sum(x for (i, j), x in gs.items() if i == j)
        m = max(abs(x) for x in u.values())
        rows = [(i, u[i], m, lam, trace) for i in sorted(u)]
    t = "double" if sketch_only else "long"
    return (
        local_frame(spark, rows, f"dim int, u {t}, m {t}, lam double, trace {t}")
        .select(
            "dim",
            F.round(F.col("u").cast("double") / F.col("m").cast("double"), 6)
            .alias("loading"),
            F.round(F.col("lam") / F.col("trace").cast("double"), 6)
            .alias("pc1_share"),
        )
        .orderBy("dim")
    )


# --- sparse inverted-index retrieval ----------------------------------------

INVIDX_TOP_DIMS = 8    # dims kept per vector (by |q|, tie-break dim asc)
INVIDX_N_PROBES = 8    # probe vectors: vec_id < 8
INVIDX_K = 5           # neighbors returned per probe


@register(
    "similarity_inverted_index",
    oracle=f"""
    WITH qz AS (
        SELECT vec_id AS id,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS scale,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    qq AS (
        SELECT id,
               list_transform(v, x -> CAST(floor(x * 127.0 / scale)
                                           AS BIGINT)) AS q
        FROM qz WHERE scale > 0
    ),
    entries AS (
        SELECT id, CAST(i - 1 AS INTEGER) AS dim, q[i] AS qv
        FROM (SELECT id, q, generate_subscripts(q, 1) AS i FROM qq)
        WHERE q[i] <> 0
    ),
    ranked AS (
        SELECT id, dim, qv,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY abs(qv) DESC, dim) AS rk
        FROM entries
    ),
    sparse AS (SELECT id, dim, qv FROM ranked
               WHERE rk <= {INVIDX_TOP_DIMS}),
    probes AS (SELECT id AS probe_id, dim, qv AS qp FROM sparse
               WHERE id < {INVIDX_N_PROBES}),
    scored AS (
        SELECT p.probe_id, s.id AS candidate_id,
               CAST(SUM(p.qp * s.qv) AS BIGINT) AS pruned_dot,
               CAST(COUNT(*) AS BIGINT) AS n_common_dims
        FROM probes p
        JOIN sparse s ON p.dim = s.dim AND s.id <> p.probe_id
        GROUP BY p.probe_id, s.id
    ),
    topk AS (
        SELECT probe_id, candidate_id, pruned_dot, n_common_dims,
               ROW_NUMBER() OVER (
                   PARTITION BY probe_id
                   ORDER BY pruned_dot DESC, candidate_id) AS rk
        FROM scored
    )
    SELECT t.probe_id, CAST(t.rk AS INTEGER) AS rk, t.candidate_id,
           t.n_common_dims, t.pruned_dot,
           CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS full_dot
    FROM topk t
    JOIN qq qa ON qa.id = t.probe_id
    JOIN qq qb ON qb.id = t.candidate_id
    WHERE t.rk <= {INVIDX_K}
    ORDER BY t.probe_id, t.rk
    """,
    description="sparse inverted-index retrieval — the third ANN path "
    "beside IVF (cell-partitioned) and LSH (hash-bucketed): each int8 "
    "vector keeps only its 8 heaviest dims (|q| desc, dim tie-break — "
    "deterministic, so the approximation itself is oracle-checkable), "
    "the kept (dim, weight) entries form posting lists, and scoring is "
    "a postings EQUI-JOIN on dim + one hash aggregate — candidates "
    "surface only through shared heavy dimensions, never an all-pairs "
    "scan; the exact int8 dot product of each returned pair rides "
    "along (zip_with fold, BIGINT-exact) so the pruning error is "
    "visible per row.  This is the sparse-retrieval shape (SPLADE/"
    "term-index family) that web-scale engines run partitioned by "
    "term: posting lists shard on dim, scores shuffle on (probe, "
    "candidate), per-pair state is one accumulator.  Quantization is "
    "the shared operators.similarity.quantize_int8 (floor, not round "
    "— tie-free cross-engine).  Top-k per probe is a rank window above "
    "the pair aggregate (WindowGroupLimit), k and the probe set are "
    "config constants",
    tags=("similarity", "topk", "sparse", "inverted-index"),
)
def similarity_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    qz = quantize_int8(emb).select("id", "q")
    entries = (
        qz.select("id", F.posexplode("q").alias("dim", "qv"))
        .filter(F.col("qv") != 0)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.abs(F.col("qv")).desc(), "dim"
                )
            ),
        )
        .filter(F.col("rk") <= INVIDX_TOP_DIMS)
        .select("id", "dim", "qv")
    )
    probes = entries.filter(F.col("id") < INVIDX_N_PROBES).select(
        F.col("id").alias("probe_id"), "dim", F.col("qv").alias("qp")
    )
    scored = (
        probes.join(entries, "dim")
        .filter(F.col("id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("id").alias("candidate_id"))
        .agg(
            F.sum(F.col("qp") * F.col("qv")).cast("long").alias("pruned_dot"),
            F.count(F.lit(1)).cast("long").alias("n_common_dims"),
        )
    )
    topk = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("probe_id").orderBy(
                F.col("pruned_dot").desc(), "candidate_id"
            )
        ),
    ).filter(F.col("rk") <= INVIDX_K)
    qa = qz.select(F.col("id").alias("probe_id"), F.col("q").alias("qa"))
    qb = qz.select(F.col("id").alias("candidate_id"), F.col("q").alias("qb"))
    full_dot = F.aggregate(
        F.zip_with("qa", "qb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        topk.join(qa, "probe_id")
        .join(qb, "candidate_id")
        .select(
            "probe_id",
            "rk",
            "candidate_id",
            "n_common_dims",
            "pruned_dot",
            full_dot.alias("full_dot"),
        )
        .orderBy("probe_id", "rk")
    )
