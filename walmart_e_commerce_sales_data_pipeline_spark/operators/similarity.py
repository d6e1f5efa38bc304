"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``cosine_pairs`` / ``topk_neighbors``: brute-force — correct baseline,
  quadratic candidate space.  Fine up to ~10^5 vectors per side; at 100 TB
  this is the *verifier*, not the index.
- ``lsh_bucketed_pairs``: random-hyperplane LSH — signatures from
  deterministic seeded pseudo-hyperplanes (no stored model), bucket join on
  signature chunks.  This is the scale path: the shuffle key is the bucket,
  candidate sets are tiny, and exact cosine re-ranks only candidates.

Everything is built-in expressions (``zip_with``/``aggregate`` folds);
the hyperplanes are derived per (plane, dimension) from ``xxhash64`` so
every executor computes identical planes without broadcasting state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine


def cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs (x < y) with cosine similarity ≥ threshold (brute force)."""
    a = embeddings.select(F.col(id_col).alias("x"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("y"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("x") < F.col("y"))
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("x", "y", "sim")
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    compression step a 100 TB embedding corpus runs before ANN indexing
    (4× smaller than float32, int8-GEMM-ready).

    scale = max|x| per vector; q_i = floor(x_i·127/scale) as int8-range
    longs.  Pure Catalyst array HOFs (``transform``/``aggregate``/
    ``array_max``) — no Python boundary, codegen intact, embarrassingly
    parallel (no shuffle at all until a consumer aggregates).

    ``floor`` (not ``round``) is deliberate: Spark and DuckDB ROUND
    diverge on exact decimal ties, floor on identical doubles cannot
    (queries/stable.py analysis).  Zero vectors (scale = 0) are excluded
    rather than special-cased — callers decide their fate.  The divisor
    is NULL on them, not 0: an optimizer-inferred filter (a consumer's
    posexplode adds ``size(q) > 0``) may evaluate ``q`` beside the
    ``scale > 0`` filter, before it drops the row.

    Returns (id, scale, q, q_sum, recon_err_max) where q_sum is the exact
    integer checksum of the quantized vector and recon_err_max the max
    absolute dequantization error — both orderings/foldings evaluate
    left-to-right in list order, so the doubles are engine-portable.
    """
    xd = lambda v: v.cast("double")  # noqa: E731
    scale = F.array_max(F.transform(vec_col, lambda v: F.abs(xd(v))))
    out = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), scale.alias("scale")
    ).filter(F.col("scale") > 0)
    den = F.when(F.col("scale") > 0, F.col("scale"))
    q = F.transform("_v", lambda v: F.floor(xd(v) * 127.0 / den).cast("long"))
    err = F.array_max(
        F.transform(
            "_v",
            lambda v: F.abs(
                xd(v) - F.floor(xd(v) * 127.0 / den) * F.col("scale") / 127.0
            ),
        )
    )
    return (
        out.withColumn("q", q)
        .withColumn(
            "q_sum",
            F.aggregate("q", F.lit(0).cast("long"), lambda acc, v: acc + v),
        )
        .withColumn("recon_err_max", err)
        .select("id", "scale", "q", "q_sum", "recon_err_max")
    )


# Above this many corpus rows, exact top-k abandons the brute-force
# theta-join (a nested-loop whose per-task work is the whole corpus) and
# routes through the IVF cell partitioning with EVERY cell probed — the
# same exact result, but the candidate space shuffles as a cell-key
# equi-join over bounded shards instead of a CartesianProduct.
TOPK_BRUTE_ROW_LIMIT = 100_000


def _corpus_rows_upper_bound(df: DataFrame, max_files: int = 4096) -> int | None:
    """Driver-side parquet-footer row count of the frame's leaf files — an
    UPPER bound on the frame's row count (plan operators above the scan can
    only drop rows), with no Spark job at all.  Same no-materialization
    posture as ``_spread_narrow``'s ``inputFiles()`` probe; footer metadata
    reads are O(files), so an over-wide listing opts out.  Returns None for
    non-parquet/unreadable roots, letting the caller fall back to a real
    sizing count."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if not f.endswith(".parquet"):
                return None
            path = f.removeprefix("file://") if f.startswith("file:") else f
            path = path.removeprefix("file:")
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


def topk_neighbors(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
    brute_limit: int = TOPK_BRUTE_ROW_LIMIT,
    n_cells: int = 16,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.  Ties broken by
    neighbor id for determinism.

    Auto-dispatch by corpus size (same posture as ``block_cosine_pairs`` /
    ``verify_pairs``): at or below ``brute_limit`` rows the candidate
    space is the brute-force theta-join (the exactness baseline the
    oracle-checked query runs); above it, ``ivf_topk`` with
    ``nprobe == n_cells`` — every cell probed, so the result is still
    exactly the brute-force top-k, but the plan is a cell-key equi-join
    whose shuffle shards the corpus instead of a nested-loop
    CartesianProduct that scans the full corpus per task
    (asserted in tests/test_plans.py).  ``corpus_rows`` short-circuits
    the sizing probe when the caller already knows it; otherwise the
    parquet-footer upper bound decides without running a job (an upper
    bound routes dispatch safely in both directions: bound ≤ limit
    proves the frame fits the brute regime, and a filtered frame whose
    FILES exceed the limit merely takes the equally-exact IVF path), and
    only a non-parquet computed input pays a real count().
    """
    if corpus_rows is None:
        corpus_rows = _corpus_rows_upper_bound(embeddings)
    n = embeddings.count() if corpus_rows is None else corpus_rows
    if n > brute_limit:
        cents = train_ivf_centroids(
            embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
        return ivf_topk(
            embeddings, queries, cents, k=k, nprobe=len(cents),
            id_col=id_col, vec_col=vec_col,
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def _int8_view(
    df: DataFrame, id_col: str, vec_col: str, id_alias: str, vec_alias: str
) -> DataFrame:
    """(id, float vector, int8-range long vector) view used by the coarse
    retrieval stage — the same floor-based symmetric quantization as
    ``quantize_int8`` (floor, never round: engine-portable on identical
    doubles), kept inline so the original float vector rides along for the
    exact rerank without a self-join back to the source."""
    xd = lambda v: v.cast("double")  # noqa: E731
    scale = F.array_max(F.transform(vec_col, lambda v: F.abs(xd(v))))
    return (
        df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            scale.alias("_scale"),
        )
        .filter(F.col("_scale") > 0)
        .withColumn(
            vec_alias + "_q",
            F.transform(
                vec_alias,
                lambda v: F.floor(xd(v) * 127.0 / F.col("_scale")).cast("long"),
            ),
        )
        .drop("_scale")
    )


def rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    candidates: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer=None,
) -> DataFrame:
    """Two-stage retrieve-then-rerank top-k — the cross-encoder-shaped
    retrieval pipeline every production semantic-search stack runs: a
    cheap first-stage retriever over compressed vectors selects a small
    candidate pool per query, then an expensive exact scorer reranks ONLY
    that pool.

    Stage 1 (retrieve): integer dot product over symmetric int8
    quantizations of both sides (``quantize_int8`` semantics) — 4× less
    data moved than float32 and an integer-SIMD score, the form a 100 TB
    corpus serves from storage.  Top-``candidates`` per query, ties broken
    by neighbor id, so the pool is fully deterministic.

    Stage 2 (rerank): exact float cosine on the ``candidates`` pool rows
    only — per query the expensive scorer touches ``candidates`` rows, not
    the corpus.  In production this slot is where a Pandas-UDF
    cross-encoder model call goes (same frame shape: one row per
    query×candidate with both payloads present); exact cosine stands in
    here so the whole pipeline is closed-form and DuckDB-verifiable.

    ``scorer``: optional ``(query_vec_col, cand_vec_col) -> Column``
    replacing the exact-cosine stage-2 score — pass an Arrow-batched
    ``@pandas_udf("double")`` model call and the plan is the production
    cross-encoder pipeline verbatim (the UDF sees one Arrow batch of
    pool rows at a time; parity with the expression scorer is pinned in
    tests/test_dedup_similarity.py).

    Both stages are deterministic (floor quantization, id tie-breaks), so
    the composed semantics have an EXACT SQL oracle — unlike recall-bound
    ANN, every row of this operator's output is externally checkable.
    Returns (query_id, rank, neighbor_id, coarse_rank, sim): ``coarse_rank``
    is the candidate's stage-1 position, surfacing how much the rerank
    actually reorders.

    Scale posture: stage 1 as written joins queries × corpus (the exact
    baseline); at corpus scale the pool instead comes from ``ivf_topk``'s
    cell probe with ``candidates`` as its k — stage 2 is unchanged.  No
    Python boundary anywhere: quantization/dot/cosine are all Catalyst
    array HOFs inside whole-stage codegen.
    """
    q = _int8_view(queries, id_col, vec_col, "query_id", "qv")
    c = _int8_view(embeddings, id_col, vec_col, "neighbor_id", "cv")
    # Broadcast the QUERY side and stream the corpus: left to its size
    # heuristic Spark builds the corpus side, which inverts at scale —
    # the query batch is the bounded operand here.
    coarse = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "coarse_score",
            F.aggregate(
                F.zip_with("qv_q", "cv_q", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_score").desc(), F.col("neighbor_id")
    )
    score = scorer if scorer is not None else cosine
    pool = (
        coarse.withColumn("coarse_rank", F.row_number().over(wc))
        .filter(F.col("coarse_rank") <= candidates)
        .withColumn("sim", score(F.col("qv"), F.col("cv")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        pool.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "coarse_rank", "sim")
    )


def _plane_weights(num_planes: int, dims: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights, built once on the
    driver and embedded as *literals* in the plan.  (Building them from
    hash expressions per row re-evaluates num_planes × dims hashes for
    every input vector — measured 40× slower at sf0.1.)"""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dims)] for _ in range(num_planes)]


def _projection_sign(vec_col: str, weights: list[float]) -> F.Column:
    """Sign of the projection onto one literal hyperplane."""
    w = F.array(*[F.lit(x) for x in weights])
    proj = F.aggregate(
        F.zip_with(F.col(vec_col), w, lambda x, wi: x.cast("double") * wi),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (proj >= 0).cast("long")


# Corpora above this row count are never collect()ed/broadcast: 5·10^5
# 64-d float64 vectors ≈ 256 MB — the edge of a comfortable broadcast.
# Beyond it every exact-verification path stays fully distributed.
BROADCAST_ROW_LIMIT = 500_000


def lsh_bucketed_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    rows_per_table: int = 2,
    tables: int = 24,
    dims: int = 64,
    corpus_rows: int | None = None,
    broadcast_limit: int = BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """Random-hyperplane LSH near-neighbor pairs, exactly re-ranked.

    ``tables`` independent hash tables of ``rows_per_table`` planes each;
    a pair becomes a candidate when it agrees on *all* planes of *any*
    table, then exact cosine filters the candidates.  For cosine s the
    per-plane agreement is p = 1 − arccos(s)/π, so
    P(candidate) = 1 − (1 − p^r)^L — at s = 0.45, r=2, L=24 the miss
    probability is ≈ 2e-6 (and deterministic for a fixed dataset, since
    the planes are seeded).  The shuffle key is (table, bucket); candidate
    verification touches only the bucket-collision set.

    Caveat: sign-LSH bucket space is 2^r, so low thresholds (which force
    small r for recall) produce large buckets — at 0.45 this operator is
    the *index structure demo*; the high-throughput exact path for corpora
    that fit a broadcast is ``block_cosine_pairs`` below, and truly huge
    corpora want IVF-style coarse quantization on top.
    """
    planes = _plane_weights(tables * rows_per_table, dims)
    bucket_cols = []
    for t in range(tables):
        bucket = F.lit(0).cast("long")
        for r in range(rows_per_table):
            bit = _projection_sign(vec_col, planes[t * rows_per_table + r])
            bucket = bucket.bitwiseOR(F.shiftleft(bit, r))
        bucket_cols.append(
            F.struct(F.lit(t).alias("table_idx"), bucket.alias("bucket")).alias(f"t{t}")
        )
    # The signature computation folds tables*rows_per_table projections
    # (48 by default) per vector — expensive per-row work that a
    # single-file parquet scan would run on one task.  Spread narrow
    # inputs across the executor pool first (same probe as dedup's
    # shingling: no-op for well-partitioned inputs).  Measured at sf0.1:
    # 10.6 s → 1.3 s on the 1-file embeddings table.
    from .dedup import _spread_narrow

    # Ids only through the bucket join — carrying the vectors would multiply
    # the shuffle payload by the embedding width for no benefit.
    sigs = _spread_narrow(embeddings).select(
        F.col(id_col).alias("id"), F.array(*bucket_cols).alias("bs")
    )
    pieces = sigs.select("id", F.explode("bs").alias("p")).select(
        "id", "p.table_idx", "p.bucket"
    )
    a = pieces.select(F.col("id").alias("x"), "table_idx", "bucket")
    b = pieces.select(F.col("id").alias("y"), "table_idx", "bucket")
    cands = (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )
    return verify_pairs(
        cands, embeddings, id_col, vec_col, threshold,
        corpus_rows=corpus_rows, broadcast_limit=broadcast_limit,
    )


def verify_pairs(
    cands: DataFrame,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    corpus_rows: int | None = None,
    broadcast_limit: int = BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """Exact-cosine verification of (x, y) candidate pairs, auto-selected
    by corpus size:

    - corpus ≤ ``broadcast_limit`` rows → ``_verify_pairs_gemm``:
      broadcast id→normalized-vector lookup + vectorized numpy row dots
      (the per-pair expression fold was the LSH bottleneck, measured 30×
      slower at sf0.1 — SCALE.md §3).
    - larger corpus → ``_verify_pairs_join``: candidates join back to the
      embeddings table twice and the cosine folds in expressions — slower
      per pair but fully distributed; nothing is ever driver-materialized.

    ``corpus_rows`` short-circuits the sizing ``count()`` when the caller
    already knows it (parquet count is metadata-only, so the default probe
    is one cheap job, not a scan)."""
    n = embeddings.count() if corpus_rows is None else corpus_rows
    if n > broadcast_limit:
        return _verify_pairs_join(cands, embeddings, id_col, vec_col, threshold)
    return _verify_pairs_gemm(cands, embeddings, id_col, vec_col, threshold)


def _verify_pairs_join(
    cands: DataFrame,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Distributed exact verification: two hash joins keyed on the pair
    ids, cosine folded JVM-side.  Shuffle volume is O(|candidates| ×
    vector width) — at 100 TB the candidate set is the tiny LSH output,
    so this is bounded regardless of corpus size."""
    ex = embeddings.select(F.col(id_col).alias("x"), F.col(vec_col).alias("_vx"))
    ey = embeddings.select(F.col(id_col).alias("y"), F.col(vec_col).alias("_vy"))
    return (
        cands.join(ex, "x")
        .join(ey, "y")
        .withColumn("sim", cosine(F.col("_vx"), F.col("_vy")))
        .filter(F.col("sim") >= threshold)
        .select("x", "y", "sim")
    )


_PAIR_SCHEMA = "x long, y long, sim double"


def _broadcast_corpus(embeddings: DataFrame, id_col: str, vec_col: str):
    """Collect the corpus once and broadcast ``(ids, mat)``: int64 ids
    ascending and their L2-normalized float64 rows, the lookup both GEMM
    kernels read.  An empty corpus broadcasts a 0 x 0 matrix (numpy's
    axis-1 norm rejects the 1-d array an empty stack gives), so both
    kernels run their empty batches unchanged."""
    import numpy as np

    rows = embeddings.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.array([r[1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    return embeddings.sparkSession.sparkContext.broadcast((ids[order], mat[order]))


def _verify_pairs_gemm(
    cands: DataFrame,
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Broadcast-GEMM verification kernel — only reached below
    ``broadcast_limit`` (see ``verify_pairs``)."""
    corpus = _broadcast_corpus(embeddings, id_col, vec_col)
    thr = float(threshold)

    def verify(it):
        import numpy as np  # noqa: F811
        import pandas as pd

        c_ids, c_mat = corpus.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            xs = pdf["x"].to_numpy(dtype=np.int64)
            ys = pdf["y"].to_numpy(dtype=np.int64)
            xi = np.searchsorted(c_ids, xs)
            yi = np.searchsorted(c_ids, ys)
            sims = np.einsum("ij,ij->i", c_mat[xi], c_mat[yi])
            keep = sims >= thr
            yield pd.DataFrame({"x": xs[keep], "y": ys[keep], "sim": sims[keep]})

    return cands.mapInPandas(verify, schema=_PAIR_SCHEMA)


def block_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    corpus_rows: int | None = None,
    broadcast_limit: int = BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """Exact all-pairs cosine via broadcast block matrix multiply.

    The corpus (ids + L2-normalized vectors) is broadcast once; each
    partition multiplies its block against the full corpus with numpy
    (BLAS) and emits only pairs ≥ threshold.  This is the high-throughput
    exact path whenever the corpus fits a broadcast (≤ ``broadcast_limit``
    rows, ~256 MB at 64-d); above the limit it falls back to the fully
    distributed expression-fold join (``cosine_pairs``) — exact all-pairs
    is inherently quadratic at any scale, but the fallback never
    materializes the corpus on the driver.  (Truly huge corpora should use
    the LSH/IVF index paths rather than any exact all-pairs.)

    Compared with the expression-fold ``cosine_pairs``: same results, but
    the inner loop is one BLAS GEMM per Arrow batch instead of a per-pair
    lambda fold — measured ~50× faster at sf0.1.
    """
    n = embeddings.count() if corpus_rows is None else corpus_rows
    if n > broadcast_limit:
        return cosine_pairs(embeddings, id_col, vec_col, threshold)

    corpus = _broadcast_corpus(embeddings, id_col, vec_col)
    thr = float(threshold)

    # Self-contained closure (workers may not have this package importable).
    def block(it):
        import numpy as np  # noqa: F811
        import pandas as pd

        c_ids, c_mat = corpus.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            b_ids = pdf[id_col].to_numpy(dtype=np.int64)
            b_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
            sims = b_mat @ c_mat.T
            bi, cj = np.nonzero(sims >= thr)
            xs, ys = b_ids[bi], c_ids[cj]
            keep = xs < ys  # dedupe unordered pairs, drop self-matches
            yield pd.DataFrame({"x": xs[keep], "y": ys[keep], "sim": sims[bi, cj][keep]})

    return embeddings.select(id_col, vec_col).mapInPandas(block, schema=_PAIR_SCHEMA)


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    seeding: str = "kmeans++",
    refine_sample: int = 0,
) -> list[list[float]]:
    """Spherical k-means coarse centroids for an IVF index, trained
    driver-side on a deterministic sample (first ``sample`` ids) — the
    standard IVF posture: training sees a sample, *assignment* runs
    distributed over the full corpus.  Returns L2-normalized centroids as
    plain lists, ready to embed as plan literals.

    ``seeding='kmeans++'`` (default since round 13) picks the initial
    centers by the classic D²-weighted farthest-point sampling (Arthur &
    Vassilvitskii 2007) instead of uniform choice: for cosine geometry
    D² = (1 − max-sim to the chosen set), so seeds spread across the
    sphere instead of clumping inside one dense region — the uniform
    seeding failure mode that leaves two centers splitting one cluster
    while two true clusters share a cell (the boundary-loss driver the
    sf1 recall soak measures).  ``seeding='random'`` keeps the old
    behavior for comparison.

    ``refine_sample > sample`` adds a second training epoch: after Lloyd
    iterations converge on the small sample, re-assign and re-average on
    a larger deterministic sample (``refine_sample`` rows) for
    ``iters // 2`` rounds.  Centroid estimates tighten with ~√n while the
    expensive epoch stays driver-sized; the full corpus still only ever
    sees the distributed assignment."""
    import numpy as np

    def _lloyd(x: np.ndarray, cents: np.ndarray, rounds: int) -> np.ndarray:
        for _ in range(rounds):
            assign = np.argmax(x @ cents.T, axis=1)
            for c in range(len(cents)):
                members = x[assign == c]
                if len(members):
                    m = members.sum(axis=0)
                    cents[c] = m / max(np.linalg.norm(m), 1e-12)
        return cents

    big = max(sample, refine_sample)
    rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(big).collect()
    if not rows:
        return []  # an empty corpus has no cells: every assignment is empty
    x_big = np.array([r[1] for r in rows], dtype=np.float64)
    x_big /= np.maximum(np.linalg.norm(x_big, axis=1, keepdims=True), 1e-12)
    x = x_big[:sample]
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(x))
    if seeding == "kmeans++":
        # Greedy k-means++ (the ++ paper's local-trials variant, same as
        # sklearn): each round sample 2+⌊ln k⌋ candidates ∝ D², keep the
        # one that most reduces the total potential — plain D² sampling
        # still clumps ~1-2 seeds inside a dominant cluster at these
        # sizes; the greedy trial pick removes that failure mode without
        # losing the outlier robustness a pure farthest-point rule lacks.
        n_trials = 2 + int(np.log(max(k, 2)))
        first = int(rng.integers(len(x)))
        chosen = [first]
        # d2[i] = 1 - best similarity to any chosen seed (cosine D²)
        d2 = np.maximum(1.0 - x @ x[first], 0.0)
        for _ in range(k - 1):
            tot = d2.sum()
            if tot <= 1e-12:
                # degenerate (all points duplicate a seed): fall back to
                # uniform over the not-yet-chosen
                pool = np.setdiff1d(np.arange(len(x)), chosen)
                nxt = int(rng.choice(pool))
                d2_next = np.minimum(d2, np.maximum(1.0 - x @ x[nxt], 0.0))
            else:
                cands = rng.choice(len(x), size=n_trials, p=d2 / tot)
                best_pot, nxt, d2_next = None, None, None
                for cand in cands:
                    trial = np.minimum(
                        d2, np.maximum(1.0 - x @ x[int(cand)], 0.0)
                    )
                    pot = trial.sum()
                    if best_pot is None or pot < best_pot:
                        best_pot, nxt, d2_next = pot, int(cand), trial
            chosen.append(nxt)
            d2 = d2_next
        cents = x[chosen].copy()
    else:
        cents = x[rng.choice(len(x), size=k, replace=False)].copy()
    cents = _lloyd(x, cents, iters)
    if refine_sample > sample and len(x_big) > len(x):
        cents = _lloyd(x_big, cents, max(1, iters // 2))
    return cents.tolist()


def _with_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
    take: int,
) -> DataFrame:
    """(id, vec, cell) rows: each input row tagged with its ``take``
    nearest coarse cells.  One BLAS GEMM per Arrow batch against the
    centroid matrix — the §3 SCALE.md boundary policy (dense linear
    algebra through Arrow, never per-row expression folds; the fold
    version of this assignment measured ~3× slower at sf0.1).  Centroids
    are normalized and ||vec|| is constant across cells, so dot order ==
    cosine order; no per-row normalization needed.  The closure is
    self-contained (plain lists + in-closure imports): Spark workers
    unpickle it without this package on their path."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(out_id, LongType()),
            StructField(out_vec, ArrayType(FloatType())),
            StructField("cell", IntegerType()),
        ]
    )
    c_list = [[float(v) for v in c] for c in centroids]
    take = min(take, len(c_list))  # a corpus smaller than n_cells trains fewer
    src = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))

    def gen(it):
        import numpy as np
        import pandas as pd

        c = np.asarray(c_list, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[out_vec].tolist(), dtype=np.float64)
            top = np.argsort(-(x @ c.T), axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf[out_id].to_numpy(), take),
                    out_vec: [v for v in pdf[out_vec] for _ in range(take)],
                    "cell": top.reshape(-1).astype("int32"),
                }
            )

    return src.mapInPandas(gen, schema=schema)



def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_assign: int = 1,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors.

    Corpus rows are assigned to their ``corpus_assign`` nearest coarse
    centroids and each query probes its ``nprobe`` nearest cells (both
    via one BLAS GEMM per Arrow batch, see ``_with_cells``); the cell-key
    join prunes the candidate space to ~nprobe/n_cells of the corpus
    before the exact cosine re-rank.  At ``nprobe == len(centroids)`` the
    result is exactly the brute-force top-k (every cell probed) — the
    correctness gate — while the test suite measures recall at
    nprobe < n_cells on clustered data.  Shuffle key is the cell id: at
    100 TB each cell is a bounded corpus shard and queries fan out only
    to probed shards.

    ``corpus_assign > 1`` is multi-assignment: the standard mitigation
    for cell-boundary recall loss (a true neighbor sitting just across
    the query's probed cells — measured as THE failure mode at sf1,
    SCALE.md §13).  Each corpus row is indexed under its top-N cells, so
    a boundary vector is findable from both sides, at an N× index-size
    cost and no extra query fan-out.  Candidates then need a per-pair
    dedup (max over the duplicate pair rows) before ranking, keyed on the
    same (query, neighbor) pair the window ranks on.
    """
    corpus = _with_cells(
        embeddings, centroids, id_col, vec_col, "neighbor_id", "cv", corpus_assign
    )
    probes = _with_cells(queries, centroids, id_col, vec_col, "query_id", "qv", nprobe)
    scored = (
        probes.join(corpus, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    if corpus_assign > 1:
        # A (query, neighbor) pair can surface once per shared probed
        # cell; collapse to one row (sim is identical across duplicates —
        # max is just the cheapest combine) so row_number ranks distinct
        # neighbors, not join multiplicity.
        scored = scored.groupBy("query_id", "neighbor_id").agg(
            F.max("sim").alias("sim")
        )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )
