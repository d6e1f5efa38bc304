"""Operator-level tests for dedup and similarity-search on the driver
testdata (sf0.001 for speed) plus handcrafted near-duplicate fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001
from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
    containment_pairs,
    exact_dedup,
    jaccard_pairs,
    jaccard_pairs_from_docs,
    minhash_dedup_pairs,
    prefix_filter_jaccard_pairs,
    shingle_sets,
    simhash_pairs,
    simhash_signatures,
)
from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
    cosine_pairs,
    lsh_bucketed_pairs,
    topk_neighbors,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF0001}/embeddings.parquet")


def test_exact_dedup_on_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello   world"), (3, "hello world"), (4, "other")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    # 1 and 3 normalize identically ("hello world"); 2 has empty tokens from
    # multi-space split, so it normalizes differently under the single-space
    # contract; representative is min(doc_id).
    assert out[1] == 2
    assert 4 in out


def test_minhash_recall_matches_exact(docs):
    exact = {
        (r["x"], r["y"]) for r in jaccard_pairs(shingle_sets(docs), 0.5).collect()
    }
    lsh = {(r["x"], r["y"]) for r in minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert exact, "testdata should contain planted near-duplicates"
    assert lsh == exact  # LSH candidates + exact verification ⇒ identical set


def test_simhash_finds_planted_near_dups(docs):
    sigs = simhash_signatures(docs)
    pairs = {
        (r["x"], r["y"])
        for r in simhash_pairs(sigs, max_hamming=8, chunks=9).collect()
    }
    exact = {
        (r["x"], r["y"]) for r in jaccard_pairs(shingle_sets(docs), 0.9).collect()
    }
    # SimHash at generous hamming should recover most J≥0.9 planted dups.
    assert exact
    recall = len(pairs & exact) / len(exact)
    assert recall >= 0.8, f"simhash recall {recall} over {len(exact)} planted pairs"


def test_simhash_pairs_rejects_incomplete_blocking(docs):
    # chunks=4 guarantees recall only up to hamming 3; asking for 8 must
    # raise rather than silently return an incomplete pair set.
    sigs = simhash_signatures(docs)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(sigs, max_hamming=8, chunks=4)


def test_simhash_portable_matches_fast_blocking(docs):
    # Portable (md5-bit) and fast (xxhash64) modes share all downstream
    # logic; both must produce symmetric, self-consistent pair sets with
    # hamming bounded by the requested maximum.
    for portable in (False, True):
        sigs = simhash_signatures(docs, portable=portable)
        rows = simhash_pairs(sigs, max_hamming=3).collect()
        assert all(0 <= r["hamming"] <= 3 for r in rows)
        assert all(r["x"] < r["y"] for r in rows)


def test_similarity_lsh_matches_bruteforce(emb):
    brute = {(r["x"], r["y"]) for r in cosine_pairs(emb, threshold=0.45).collect()}
    lsh = {(r["x"], r["y"]) for r in lsh_bucketed_pairs(emb, threshold=0.45).collect()}
    assert lsh == brute


def test_topk_neighbors_shape(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    rows = topk_neighbors(emb, queries, k=3).collect()
    assert len(rows) == 15  # 5 queries × 3 neighbors
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3]
        sims = [r["sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ivf_recall_and_pruning_on_clustered_vectors(spark):
    """On genuinely clustered data (the 100 TB case IVF exists for),
    nprobe=2/12 scans a small corpus fraction yet keeps recall high."""
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        topk_neighbors,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(0)
    n_blobs, dim, per_blob = 12, 24, 100
    centers = rng.normal(size=(n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    blob = np.repeat(np.arange(n_blobs), per_blob)
    x = centers[blob] + 0.15 * rng.normal(size=(n_blobs * per_blob, dim))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).cache()
    queries = df.filter("vec_id % 50 = 0")  # 24 queries, 2 per blob

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_neighbors(df, queries, k=5).collect()
    }
    cents = train_ivf_centroids(df, n_cells=n_blobs, sample=n_blobs * per_blob)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, queries, cents, k=5, nprobe=2).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall}"

    # pruning: candidates actually scanned (numpy replay of the same
    # assignment math) must be a small fraction of the brute-force space
    c = np.array(cents)
    assign = np.argmax(x @ c.T, axis=1)
    sizes = np.bincount(assign, minlength=n_blobs)
    q_idx = np.arange(0, len(x), 50)
    probed = np.argsort(-(x[q_idx] @ c.T), axis=1)[:, :2]
    candidates = sizes[probed].sum()
    frac = candidates / (len(q_idx) * len(x))
    assert frac <= 0.35, f"IVF scanned {frac:.2%} of the corpus"
    df.unpersist()


def test_ivf_multi_assignment_recovers_boundary_recall(spark):
    """corpus_assign=2 is the mitigation for the sf1-measured boundary
    failure mode (SCALE.md §13: a true neighbor sitting just across the
    probed cells).  Construct that mode deliberately — pairs of points
    straddling the midline between two blob centers — and assert
    multi-assignment strictly improves recall at the same nprobe, while
    the nprobe == n_cells correctness gate still equals brute force and
    never emits duplicate (query, neighbor) rows."""
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        topk_neighbors,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(3)
    n_blobs, dim, per_blob = 8, 24, 60
    centers = rng.normal(size=(n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    blob = np.repeat(np.arange(n_blobs), per_blob)
    x = centers[blob] + 0.12 * rng.normal(size=(n_blobs * per_blob, dim))
    # boundary straddlers: for each adjacent blob pair, plant a tight
    # query+neighbor pair ON the midline, nudged to opposite sides so the
    # coarse quantizer separates them into different cells
    extra = []
    for b in range(n_blobs):
        mid = (centers[b] + centers[(b + 1) % n_blobs]) / 2.0
        eps = 0.02 * (centers[b] - centers[(b + 1) % n_blobs])
        extra.append(mid + eps)   # query side
        extra.append(mid - eps)   # its nearest neighbor, across the line
    pts = np.vstack([x, np.array(extra)])
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    ).cache()
    n_base = n_blobs * per_blob
    queries = df.filter(f"vec_id >= {n_base} AND vec_id % 2 = 0")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_neighbors(df, queries, k=3).collect()
    }
    cents = train_ivf_centroids(df, n_cells=n_blobs, sample=len(pts))

    def run(nprobe, corpus_assign):
        rows = ivf_topk(
            df, queries, cents, k=3, nprobe=nprobe, corpus_assign=corpus_assign
        ).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs)), "duplicate (query, neighbor) rows"
        return set(pairs)

    r1 = len(run(1, 1) & exact) / len(exact)
    r2 = len(run(1, 2) & exact) / len(exact)
    assert r2 > r1, f"multi-assignment did not lift recall: {r1} -> {r2}"
    assert r2 >= 0.9, f"corpus_assign=2 recall {r2}"
    # correctness gate unchanged: all cells probed == brute force, with
    # multi-assignment active
    assert run(n_blobs, 2) == exact
    df.unpersist()


def test_lsh_join_back_verifier_matches_gemm(emb):
    # broadcast_limit=0 forces the fully distributed join-back verifier;
    # it must produce exactly the pairs the broadcast-GEMM path produces.
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )

    def key_set(df):
        return {(r["x"], r["y"], round(r["sim"], 6)) for r in df.collect()}

    gemm = key_set(lsh_bucketed_pairs(emb, threshold=0.45))
    joined = key_set(lsh_bucketed_pairs(emb, threshold=0.45, broadcast_limit=0))
    assert joined == gemm
    assert gemm  # non-vacuous


def test_block_cosine_falls_back_distributed(emb):
    # Above the broadcast limit block_cosine_pairs must not collect();
    # the expression-fold fallback is exact, so results agree.
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        block_cosine_pairs,
    )

    def key_set(df):
        return {(r["x"], r["y"], round(r["sim"], 6)) for r in df.collect()}

    broadcast = key_set(block_cosine_pairs(emb, threshold=0.45))
    fallback = key_set(block_cosine_pairs(emb, threshold=0.45, broadcast_limit=0))
    assert fallback == broadcast
    assert broadcast


def test_minhash_big_doc_fallback_matches_array_path(docs):
    # max_set_size=0 forces every pair through the join-chain fallback;
    # results must equal the default array-verified path exactly.
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    def key_set(df):
        return {(r["x"], r["y"], round(r["jaccard"], 9)) for r in df.collect()}

    default = key_set(minhash_dedup_pairs(docs, threshold=0.5))
    fallback = key_set(minhash_dedup_pairs(docs, threshold=0.5, max_set_size=0))
    assert fallback == default
    assert default


def test_cosine_threshold_margin_in_fixtures():
    """No fixture pair may land within float noise of the 0.45 cosine
    threshold shared by similarity_pairs and dedup_embedding: the DuckDB
    oracle computes list_cosine_similarity independently of Spark's
    expression fold, and a pair within ~1e-12 of the threshold could be
    classified differently per engine — connected components would then
    amplify one flipped edge into entirely different cluster rows.  The
    driver correctness gate runs at sf0.01; sf0.001 backs the pytest
    mirror.  Guarding the margin here converts a silent data-regeneration
    hazard into a loud test failure (ADVICE r2)."""
    import numpy as np
    import pyarrow.parquet as pq

    for sf in ("sf0.001", "sf0.01"):
        t = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet")
        x = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = xn @ xn.T
        iu = np.triu_indices(len(x), 1)
        margin = np.abs(sims[iu] - 0.45).min()
        assert margin > 1e-5, f"{sf}: pair within {margin} of threshold"


def test_contamination_overlap_planted(spark):
    """Planted-benchmark semantics: doc sharing all its shingles with the
    benchmark -> frac 1.0; disjoint doc -> 0; short doc (<3 tokens) emits
    no row; counts are over DISTINCT shingles."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        contamination_overlap,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id: long, text: string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),       # fully contaminated (2/2)
            (2, "one two three four five"),       # disjoint (0/3)
            (3, "alpha beta gamma zork"),         # partial (1/2)
            (4, "too short"),                     # <3 tokens -> no row
        ],
        "doc_id: long, text: string",
    )
    rows = {
        r["id"]: (r["n_sh"], r["overlap"], r["overlap_frac"])
        for r in contamination_overlap(corpus, bench).collect()
    }
    assert rows == {1: (2, 2, 1.0), 2: (3, 0, 0.0), 3: (2, 1, 0.5)}


def test_quantize_int8_exact_semantics(spark):
    """quantize_int8 contract on handcrafted vectors: scale = max|x|,
    q = floor(x*127/scale) (so the max-magnitude element hits exactly
    +127 or -128-avoiding -127... floor(-127.0) == -127), every q is in
    [-128, 127], the zero vector is excluded rather than divided by
    zero, q_sum is the exact integer fold, and dequantization error is
    bounded by one quantization step (scale/127)."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25]),
            (2, [0.0, 0.0, 0.0]),        # zero vector -> excluded
            (3, [-2.0, 1.0, 0.5]),
        ],
        "vec_id: long, embedding: array<double>",
    )
    rows = {r["id"]: r for r in quantize_int8(df).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["scale"] == 1.0
    assert rows[1]["q"] == [127, -64, 31]           # floor(-63.5) = -64
    assert rows[1]["q_sum"] == 94
    assert rows[3]["scale"] == 2.0
    assert rows[3]["q"] == [-127, 63, 31]
    for r in rows.values():
        assert all(-128 <= v <= 127 for v in r["q"])
        assert r["recon_err_max"] <= r["scale"] / 127.0 + 1e-12


def _poisoned_triangle_graph(spark, docs, poison, monkeypatch):
    from walmart_e_commerce_sales_data_pipeline_spark.operators import similarity
    from walmart_e_commerce_sales_data_pipeline_spark.queries.clusters import (
        dup_graph_triangles,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "x: long, y: long"
    ).withColumn("x", poison(F.col("x")))
    monkeypatch.setattr(similarity, "block_cosine_pairs", lambda *a, **k: pairs)
    return dup_graph_triangles(spark, SF0001)


def _poisoned_ids(docs, poison):
    return docs.withColumn("doc_id", poison(F.col("doc_id")))


# Every operator whose cache lifetime is ``operators.dedup.persisted``,
# built so that ``poison`` fires in the eager checkpoint.  Most poison the
# document id.  The fused Jaccard and MinHash paths count their persisted
# profile first, and that job evaluates every cached column, so they
# poison the threshold, which only the checkpointed pair filter reads.
RELEASE_CASES = {
    "jaccard_pairs": lambda spark, docs, poison, mp: jaccard_pairs(
        shingle_sets(_poisoned_ids(docs, poison)), 0.5
    ),
    "jaccard_pairs_from_docs": lambda spark, docs, poison, mp: (
        jaccard_pairs_from_docs(docs, poison(F.lit(0.5)))
    ),
    "minhash_fused": lambda spark, docs, poison, mp: minhash_dedup_pairs(
        docs, threshold=poison(F.lit(0.5))
    ),
    "minhash_unfused": lambda spark, docs, poison, mp: minhash_dedup_pairs(
        _poisoned_ids(docs, poison), threshold=0.5, max_shingle_df=50
    ),
    "simhash_pairs": lambda spark, docs, poison, mp: simhash_pairs(
        simhash_signatures(_poisoned_ids(docs, poison))
    ),
    "containment_pairs": lambda spark, docs, poison, mp: containment_pairs(
        shingle_sets(_poisoned_ids(docs, poison)), 0.5
    ),
    "prefix_filter_jaccard_pairs": lambda spark, docs, poison, mp: (
        prefix_filter_jaccard_pairs(_poisoned_ids(docs, poison), 1, 2)
    ),
    "dup_graph_triangles": _poisoned_triangle_graph,
}


@pytest.mark.parametrize("build", RELEASE_CASES.values(), ids=RELEASE_CASES.keys())
def test_releases_caches_on_failed_job(spark, docs, monkeypatch, build):
    """The persisted intermediates (shingle tables, per-doc profiles,
    banded buckets, chunk pieces, the triangle pair set) must be released
    even when the eager checkpoint job fails — a leaked persist pins
    executor memory for the rest of the session.

    A watcher on ``localCheckpoint`` pins the injection point: the
    synthetic error must escape exactly one checkpoint call made while
    the cache manager holds the persist, so the failure exercises the
    release path after the persist exists, not a job before it."""
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def boom(i):
        raise ValueError("synthetic mid-job failure")

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()
    cls = type(spark.range(0))
    checkpoint = cls.localCheckpoint
    failed_with_cache: list[bool] = []

    def watched(self, *args, **kwargs):
        cached = not cache_mgr.isEmpty()
        try:
            return checkpoint(self, *args, **kwargs)
        except Exception:
            failed_with_cache.append(cached)
            raise

    monkeypatch.setattr(cls, "localCheckpoint", watched)
    with pytest.raises(Exception, match="synthetic mid-job failure"):
        build(spark, docs, boom, monkeypatch)
    assert failed_with_cache == [True], failed_with_cache
    assert cache_mgr.isEmpty(), "persisted intermediates leaked on the error path"
    # And the success path still leaves nothing cached behind.
    build(spark, docs, lambda c: c, monkeypatch).collect()
    assert cache_mgr.isEmpty()


def test_jaccard_fused_matches_classic_and_fallback(docs):
    """jaccard_pairs_from_docs (fused single-aggregation plan) must equal
    the classic distinct-shingle join-chain plan exactly, and its
    forced big-doc fallback (max_set_size=0) must route through that
    classic plan with the same result."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_from_docs,
    )

    def key_set(df):
        return {(r["x"], r["y"], round(r["jaccard"], 9)) for r in df.collect()}

    classic = key_set(jaccard_pairs(shingle_sets(docs), 0.5))
    fused = key_set(jaccard_pairs_from_docs(docs, 0.5))
    fallback = key_set(jaccard_pairs_from_docs(docs, 0.5, max_set_size=0))
    assert fused == classic
    assert fallback == classic
    assert classic


def test_kmeanspp_seeding_beats_random_on_clumped_clusters(spark):
    """k-means++ D²-seeding must spread initial centers across the sphere.
    Construct the uniform-seeding failure mode: 11 of 12 clusters tiny,
    one cluster holding ~half the sample — uniform choice clumps several
    seeds inside the big blob and Lloyd's local search rarely escapes,
    leaving true clusters merged (the IVF boundary-loss driver).  The
    quantization objective (mean max cosine to the centroid set) must be
    at least as good under kmeans++ and the per-blob cell purity must be
    strictly better than the random-seeded run on this geometry."""
    import numpy as np

    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rng = np.random.default_rng(3)
    n_blobs, dim = 12, 24
    sizes = [600] + [40] * (n_blobs - 1)
    centers = rng.normal(size=(n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    blob = np.repeat(np.arange(n_blobs), sizes)
    x = centers[blob] + 0.10 * rng.normal(size=(len(blob), dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).cache()

    def objective(cents):
        c = np.array(cents)
        return float(np.max(x @ c.T, axis=1).mean())

    def blobs_covered(cents):
        """How many true blobs own at least one centroid (argmax over
        blob centers) — merged clusters show as uncovered blobs."""
        c = np.array(cents)
        owners = np.argmax(centers @ c.T, axis=1)
        return len(set(owners.tolist()))

    pp = train_ivf_centroids(df, n_cells=n_blobs, sample=len(x), seeding="kmeans++")
    rand = train_ivf_centroids(df, n_cells=n_blobs, sample=len(x), seeding="random")
    assert objective(pp) >= objective(rand) - 1e-9
    assert blobs_covered(pp) >= blobs_covered(rand)
    assert blobs_covered(pp) >= n_blobs - 1, (
        f"kmeans++ left {n_blobs - blobs_covered(pp)} true clusters unowned"
    )
    # Refinement epoch on a larger sample keeps the objective and stays
    # normalized (second Lloyd pass must not degrade the small-sample fit).
    refined = train_ivf_centroids(
        df, n_cells=n_blobs, sample=len(x) // 4, refine_sample=len(x)
    )
    assert objective(refined) >= 0.0
    for c in refined:
        assert abs(float(np.linalg.norm(np.array(c))) - 1.0) < 1e-6
    df.unpersist()


def test_winnowing_detects_shared_substring_at_any_alignment(spark):
    """The winnowing guarantee (SIGMOD'03 Thm 1): any verbatim cross-doc
    match of length >= k + w - 1 shares at least one fingerprint — at ANY
    byte offset in either document, which is exactly where strided-window
    hashing breaks (two occurrences land on incompatible grids).  Plant
    one 80-char passage into host documents at offsets chosen to cover
    distinct residues mod small strides, with disjoint filler alphabets
    so no other cross-doc gram can collide."""
    import random

    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
        winnow_fingerprints,
    )

    K, W = 32, 16
    rng = random.Random(11)
    planted = "".join(rng.choice("abcdefgh") for _ in range(80))

    def host(alphabet, offset, total=300):
        filler = "".join(rng.choice(alphabet) for _ in range(total))
        return filler[:offset] + planted + filler[offset:]

    rows = [
        (0, host("ijklmnop", 13)),   # offset 13
        (1, host("qrstuvwx", 38)),   # different residue mod 8 and 16
        (2, host("yzYZ0123", 57)),   # a third alignment
        (3, "".join(rng.choice("45678ABC") for _ in range(300))),  # no match
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], "doc_id long, text string, n_chars long"
    )
    got = {
        r["doc_id"]: r
        for r in substring_dup_coverage(docs, k=K, w=W).collect()
    }
    assert set(got) == {0, 1, 2}, f"planted docs flagged: {sorted(got)}"
    # Every flagged doc's covered region is at least one gram long and no
    # longer than the planted passage (the filler alphabets are disjoint,
    # so nothing else can match cross-doc).
    for d in (0, 1, 2):
        assert K <= got[d]["covered_chars"] <= len(planted)
    # And the shared fingerprints sit INSIDE the planted span.
    fp = winnow_fingerprints(docs, k=K, w=W)
    from pyspark.sql import functions as F

    shared_hv = {
        r["hv"]
        for r in fp.groupBy("hv")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd >= 2")
        .collect()
    }
    offsets = {0: 13, 1: 38, 2: 57}
    for r in fp.collect():
        if r["hv"] in shared_hv:
            start = offsets[r["doc_id"]] + 1  # 1-based
            assert start <= r["pos"] <= start + len(planted) - K, (
                f"shared fingerprint outside planted span: doc {r['doc_id']} "
                f"pos {r['pos']}"
            )


def test_winnowing_density_and_no_false_sharing(spark):
    """Fingerprint density tracks the 2/(w+1) expectation (loose bound)
    and documents over disjoint alphabets share nothing."""
    import random

    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
        winnow_fingerprints,
    )

    rng = random.Random(5)
    a = "".join(rng.choice("abcdefgh") for _ in range(2000))
    b = "".join(rng.choice("ijklmnop") for _ in range(2000))
    docs = spark.createDataFrame(
        [(0, a, len(a)), (1, b, len(b))], "doc_id long, text string, n_chars long"
    )
    assert substring_dup_coverage(docs).count() == 0
    fp = winnow_fingerprints(docs)
    per_doc = {r["doc_id"]: r["n_fp"] for r in fp.select("doc_id", "n_fp").distinct().collect()}
    n_grams = 2000 - 32 + 1
    for n_fp in per_doc.values():
        # expectation ~2/(17) ≈ 0.118 of grams; allow a wide band
        assert n_grams * 0.05 <= n_fp <= n_grams * 0.25
    # winnowing never selects more fingerprints than windows, and the
    # short-document floor drops docs below k+w-1 chars entirely
    short = spark.createDataFrame(
        [(9, "x" * 46, 46)], "doc_id long, text string, n_chars long"
    )
    assert winnow_fingerprints(short).count() == 0


def test_winnowing_passage_repeated_inside_one_doc_is_not_shared(spark):
    """A passage repeated twice inside ONE document, and nowhere else, is
    not shared: its fingerprint hashes are held by one document (twice),
    so the document gets no row.  A rows-per-hash >= 2 shortcut would
    flag it."""
    import random

    from pyspark.sql import functions as F

    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
        winnow_fingerprints,
    )

    rng = random.Random(3)
    passage = "".join(rng.choice("abcdefgh") for _ in range(80))
    filler = ["".join(rng.choice("ijklmnop") for _ in range(120)) for _ in range(3)]
    repeated = filler[0] + passage + filler[1] + passage + filler[2]
    other = "".join(rng.choice("qrstuvwx") for _ in range(400))
    docs = spark.createDataFrame(
        [(0, repeated, len(repeated)), (1, other, len(other))],
        "doc_id long, text string, n_chars long",
    )
    # The fixture is live: doc 0 holds some fingerprint hash twice.
    held_twice = (
        winnow_fingerprints(docs)
        .groupBy("doc_id", "hv")
        .count()
        .filter((F.col("doc_id") == 0) & (F.col("count") >= 2))
    )
    assert held_twice.count() > 0
    assert substring_dup_coverage(docs).count() == 0


def test_substring_dup_coverage_runs_the_kernel_once(spark):
    """Plan pin: the shared-hash test reads the one fingerprint stream, so
    the physical plan holds exactly one MapInPandas (the winnowing
    kernel) — not one per side of a join back."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    plan = (
        substring_dup_coverage(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1, plan


def test_winnow_arrow_path_equals_plan_path(spark):
    """The Arrow winnow kernel (numpy reversed-axis argmin + hashlib md5)
    and the pure-plan nested-HOF expression must produce IDENTICAL
    fingerprint rows — same positions, same 48-bit values — on the real
    corpus and on a planted-duplicate corpus with ties (repeated text
    makes equal gram hashes, exercising the rightmost-tie rule both
    paths must share)."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    a = {
        tuple(r)
        for r in winnow_fingerprints(
            docs, carry_cols=("n_chars",), use_arrow=True
        ).collect()
    }
    b = {
        tuple(r)
        for r in winnow_fingerprints(
            docs, carry_cols=("n_chars",), use_arrow=False
        ).collect()
    }
    assert a == b and len(a) > 0

    tie_docs = spark.createDataFrame(
        [
            (0, "abcdefgh" * 30, 240),    # period-8 text: massive hash ties
            (1, ("xy" * 120), 240),       # period-2 ties
            (2, "abcdefgh" * 30, 240),    # exact duplicate of doc 0
        ],
        "doc_id long, text string, n_chars long",
    )
    ta = {tuple(r) for r in winnow_fingerprints(tie_docs, use_arrow=True).collect()}
    tb = {tuple(r) for r in winnow_fingerprints(tie_docs, use_arrow=False).collect()}
    assert ta == tb and len(ta) > 0


def test_rerank_full_pool_recovers_exact_topk(spark):
    """With the candidate pool as wide as the corpus, the two-stage
    retrieve-then-rerank must reproduce exact brute-force top-k exactly:
    the int8 coarse stage then only ORDERS the pool, and the exact-cosine
    rerank decides — any divergence means the rerank stage is consulting
    the quantized score where it must not."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        rerank_topk,
        topk_neighbors,
    )

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    got = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in rerank_topk(emb, queries, k=3, candidates=n).collect()
    }
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in topk_neighbors(emb, queries, k=3, corpus_rows=n).collect()
    }
    assert got == want and len(got) == 30


def test_rerank_margin_and_pool_membership(spark):
    """Margin check for the narrow-pool regime: every reranked hit must
    come from the coarse pool (coarse_rank ≤ candidates), and per query
    the rerank's top-1 exact cosine must be ≥ the exact cosine of the
    coarse stage's own #1 pick — reranking can reorder the pool but never
    hand back something worse than what the cheap retriever already had."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        rerank_topk,
    )

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    rows = rerank_topk(emb, queries, k=3, candidates=8).collect()
    assert rows and all(r["coarse_rank"] <= 8 for r in rows)
    best_rerank = {r["query_id"]: r["sim"] for r in rows if r["rank"] == 1}
    coarse_first = {
        r["query_id"]: r["sim"] for r in rows if r["coarse_rank"] == 1
    }
    # the coarse #1 survives into a k=3 rerank often but not always; where
    # it did, the margin property is exact and must hold.
    checked = 0
    for qid, sim in coarse_first.items():
        assert best_rerank[qid] >= sim - 1e-12
        checked += 1
    assert checked > 0


def test_blocked_levenshtein_recall_is_total_on_corpus(spark):
    """The token-blocking rule (first/last word) is a recall heuristic —
    the operator's docstring and the registered oracle both declare it as
    part of the semantics.  Pin that on the test corpus it loses NOTHING:
    the blocked pairs equal the all-pairs Levenshtein ground truth, so a
    vocabulary drift that starts defeating the blocking shows up as a red
    test, not silent recall loss."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        blocked_levenshtein_pairs,
    )

    part = spark.read.parquet(f"{SF0001}/part.parquet")
    blocked = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in blocked_levenshtein_pairs(part, "p_name").collect()
    }
    names = part.select(F.col("p_name").alias("name")).distinct()
    truth = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in (
            names.alias("a")
            .join(names.alias("b"), F.col("a.name") < F.col("b.name"))
            .select(
                F.col("a.name").alias("name_a"),
                F.col("b.name").alias("name_b"),
                F.levenshtein("a.name", "b.name").cast("int").alias("dist"),
            )
            .filter(F.col("dist").between(1, 2))
            .collect()
        )
    }
    assert blocked == truth and truth


def test_containment_catches_what_jaccard_misses(spark):
    """The asymmetric signal, planted: a 12-token excerpt embedded
    verbatim in a 200-token document has containment(short->long) = 1.0
    but Jaccard ~ 0.05 — the symmetric threshold never fires, the
    containment threshold must."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingle_sets,
    )

    long_toks = [f"tok{i}" for i in range(200)]
    excerpt = " ".join(long_toks[80:92])
    docs = spark.createDataFrame(
        [
            (1, " ".join(long_toks)),
            (2, excerpt),
            (3, " ".join(f"other{i}" for i in range(50))),
        ],
        ["doc_id", "text"],
    )
    sh = shingle_sets(docs)
    jac = jaccard_pairs(sh, 0.5).collect()
    assert jac == [], "Jaccard must NOT fire on the planted subset pair"
    cont = {(r["x"], r["y"]): r for r in containment_pairs(sh, 0.9).collect()}
    assert set(cont) == {(1, 2)}
    r = cont[(1, 2)]
    # containment of the EXCERPT side is exactly 1 (every excerpt shingle
    # appears in the container); the container side stays low.
    assert r["c_yx"] == 1.0 and r["c_xy"] < 0.1 and r["jaccard"] < 0.1


def test_rerank_pandas_udf_scorer_parity(spark):
    """The stage-2 scorer slot must accept an Arrow-batched Pandas UDF —
    the production cross-encoder shape — and a numpy cosine passed that
    way must select the same top-k as the Catalyst expression scorer
    (scores agree to float tolerance; the plan carries an ArrowEvalPython
    stage over pool rows only)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        rerank_topk,
    )

    # Annotations are attached as real objects (not inline hints): the
    # module's `from __future__ import annotations` would stringify
    # inline hints into names Spark's resolver can't evaluate here.
    def _np_cosine(qv, cv):
        out = []
        for a, b in zip(qv, cv):
            a = np.asarray(a, dtype=np.float64)
            b = np.asarray(b, dtype=np.float64)
            out.append(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))))
        return pd.Series(out)

    _np_cosine.__annotations__ = {
        "qv": pd.Series,
        "cv": pd.Series,
        "return": pd.Series,
    }
    np_cosine = pandas_udf(_np_cosine, "double")

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    expr_rows = rerank_topk(emb, queries, k=3, candidates=10).collect()
    udf_df = rerank_topk(emb, queries, k=3, candidates=10, scorer=np_cosine)
    plan = udf_df._sc._jvm.PythonSQLUtils.explainString(
        udf_df._jdf.queryExecution(), "simple"
    )
    assert "ArrowEvalPython" in plan
    udf_rows = udf_df.collect()
    key = lambda rs: {(r["query_id"], r["rank"], r["neighbor_id"]) for r in rs}  # noqa: E731
    assert key(udf_rows) == key(expr_rows)
    expr_sim = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in expr_rows}
    assert all(
        abs(expr_sim[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9
        for r in udf_rows
    )


def test_prefix_filter_matches_shared_shingle_join_and_prunes(spark):
    """The prefix-filter join must return EXACTLY the pairs the
    all-shared-shingle path returns at the same threshold, while
    generating strictly fewer candidate pairs — the measured point of
    prefix filtering (frequent shingles stop generating candidates)."""
    from pyspark.sql import functions as F

    from walmart_e_commerce_sales_data_pipeline_spark import queries as q
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_from_docs,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import table

    from tests.conftest import SF001

    got = {
        (r["x"], r["y"]): r["jacc_r"]
        for r in q.REGISTRY["jaccard_prefix_filter"].fn(spark, SF001).collect()
    }
    docs = table(spark, SF001, "documents")
    want = {
        (r["x"], r["y"]): round(r["jaccard"], 4)
        for r in jaccard_pairs_from_docs(docs, 0.5).collect()
    }
    assert got == want and got, (len(got), len(want))

    # candidate-stream funnel, measured on the operator's own stages:
    # all-shared-shingle join -> prefix-entry join -> + positional filter
    # (measured at sf0.001: 12,025 -> 1,126 -> 32 candidates for the 28
    # verified pairs — each stage must stay a substantial cut, and the
    # positional stage must never drop below the verified-pair count).
    from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
        _prefix_candidates,
        shingle_sets,
    )

    sh = shingle_sets(docs, "doc_id", "text", 3)
    all_pairs = (
        sh.select(F.col("id").alias("x"), "shingle")
        .join(sh.select(F.col("id").alias("y"), "shingle"), "shingle")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
        .count()
    )
    pf_pairs = _prefix_candidates(sh, 1, 2, positional=False).count()
    pos_pairs = _prefix_candidates(sh, 1, 2, positional=True).count()
    assert pf_pairs <= all_pairs * 0.8, (pf_pairs, all_pairs)
    # PPJoin positional filter: another order-of-magnitude cut on top of
    # the prefix filter, while staying a superset of the true pair set
    assert pos_pairs <= pf_pairs * 0.5, (pos_pairs, pf_pairs)
    assert pos_pairs >= len(got), (pos_pairs, len(got))
