"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all pure DataFrame compositions (no Python UDFs):

- exact        : hash group-by on the normalized content
- n-gram Jaccard: exact all-pairs similarity over shared shingles
- MinHash LSH  : banded signatures → candidate pairs → exact verification
- SimHash      : 64-bit sign-of-sum signatures → chunk-blocked Hamming pairs
- embedding    : cosine-threshold near-dup pairs (see operators.similarity)

Scale posture (100 TB):
- The shingle⋈shingle self-join is the classic quadratic trap; every pair
  generator here first drops shingles whose document frequency exceeds
  ``max_shingle_df`` (a near-universal shingle pairs almost every document
  with every other and contributes nothing to discrimination).
- MinHash keeps the per-document state at ``num_hashes`` longs regardless
  of document size, and LSH banding turns the all-pairs problem into a
  per-bucket join — the shuffle key is (band_idx, band_hash), which is
  naturally well-distributed.
- All hash functions are seeded ``xxhash64`` → deterministic across runs,
  executors, and cluster sizes.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, word_shingles


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Cache lifetime of the set-similarity joins: persist the
    multi-consumer intermediate, checkpoint the bounded result inside the
    ``with`` block, and release the cache on the way out.

    Aliased self-joins do not canonicalize to a reusable exchange, so a
    frame read by several consumers is recomputed once per consumer
    unless it is persisted.  ``MEMORY_AND_DISK`` spills rather than OOMs
    at scale.  The ``unpersist`` runs in ``finally``: a persist that
    outlives its operator, because a job inside the block failed, pins
    executor memory for the rest of the session.  Callers run
    ``out.localCheckpoint(eager=True)`` inside the block, so the result
    no longer reads the cache when it is released."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical form used by exact dedup: lowercased single-spaced tokens."""
    return df.withColumn("_norm", F.concat_ws(" ", tokenize(text_col)))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.

    Plain hash group-by: Catalyst runs partial+final agg, so the shuffle
    carries one row per distinct text per partition, not per input row.
    """
    return (
        normalize_text(df, text_col)
        .groupBy("_norm")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_norm")
    )


def _spread_narrow(df: DataFrame, by: str | None = None) -> DataFrame:
    """Repartition inputs that arrive in fewer partitions than cores
    (single small parquet files) so the expensive per-row expression work
    below parallelizes; no-op for well-partitioned inputs.

    Narrowness is probed via ``inputFiles()`` (driver-side file listing —
    no job, no RDD materialization, and unlike ``df.rdd`` it exists under
    Spark Connect).  Callers pass scan-rooted frames, where leaf-file
    count is the scan's parallelism ceiling; an unknown/empty listing is
    treated as wide so the probe can never *add* a shuffle to an already
    well-distributed input.

    When ``by`` names a key column the spread HASH-partitions on it
    instead of round-robin: downstream aggregations/joins keyed on a
    superset of that column then satisfy their distribution requirement
    from the cache and skip their own exchange (e.g. the shared-shingle
    pair aggregation groups by (x, y) with x = id — hash-by-id placement
    makes every pair of a given x partition-local, measured 10.3 → 3 MB
    total shuffle on the Jaccard pair pipeline at sf0.1).  Unique-key
    hashing distributes as evenly as round-robin."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        width = len(df.inputFiles())
    except Exception:
        return df
    if 0 < width < max(2, parallelism // 2):
        if by is not None:
            return df.repartition(parallelism, F.col(by))
        return df.repartition(parallelism)
    return df


def _raw_shingle_stream(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """The pre-distinct (id, shingle-hash) stream — one row per shingle
    *occurrence*.  Duplicate-insensitive consumers (MinHash min(),
    collect_set()) aggregate this directly, skipping the DISTINCT shuffle;
    set-semantics consumers go through ``shingle_sets``.  The narrow-input
    spread hashes by the document id, so per-document consumers (the
    (id, shingle) DISTINCT, signature/profile groupBys) satisfy their
    distribution requirement straight from the stream and skip their own
    exchange."""
    return (
        _spread_narrow(df, by=id_col)
        .select(F.col(id_col).alias("id"), tokenize(text_col).alias("_toks"))
        .select("id", F.explode(word_shingles(F.col("_toks"), n)).alias("_s"))
        .select("id", F.xxhash64("_s").alias("shingle"))
    )


def _doc_shingle_profiles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-document shingle profile (id, shs: distinct-shingle array, n_sh)
    computed entirely MAP-SIDE: the shingle window, per-occurrence hash and
    set-dedup are array HOFs over the token array, so the profile costs
    zero shuffles.  (The earlier explode → groupBy(collect_set) form paid a
    full shuffle of one profile row per document for the identical set —
    a document's exploded rows never leave their input partition, so the
    aggregation bought nothing the row-local ``array_distinct`` doesn't.)
    Documents with fewer than ``n`` tokens have no shingles and are dropped,
    mirroring the occurrence-stream semantics.  Only safe when no document
    can be oversized — callers gate on the raw-text-length probe (length L
    bounds tokens by L+1 and distinct shingles by tokens), which here
    bounds the per-ROW array memory rather than an aggregation buffer."""
    # Empty docs are dropped by a TOKEN-count pre-filter, not `n_sh > 0`:
    # a length-≥n token array always yields ≥ 1 shingle, so the two are
    # equivalent — but a post-filter on n_sh gets predicate-pushed as
    # `size(array_distinct(transform(...))) > 0` and re-evaluates the whole
    # shingle expression outside the projection (measured 12× the stage
    # cost at sf0.1), while the token-count filter is a cheap independent
    # predicate.
    return (
        _spread_narrow(df, by=id_col)
        .select(F.col(id_col).alias("id"), tokenize(text_col).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            "id",
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("_toks"), n), lambda s: F.xxhash64(s)
                )
            ).alias("shs"),
        )
        .withColumn("n_sh", F.size("shs"))
    )


def _has_oversized_docs(df: DataFrame, text_col: str, max_set_size: int) -> bool:
    """Shuffle-free probe: does any document's raw text length admit more
    than ``max_set_size`` distinct shingles?  Splitting a length-L text
    yields at most L+1 tokens (consecutive separators produce *empty*
    tokens, so the tighter ~L/2 bound for non-empty tokens does NOT hold)
    and distinct shingles ≤ tokens, so ``length < max_set_size`` proves the
    doc is small without computing a single shingle."""
    return (
        df.select(F.length(F.col(text_col)).alias("_len"))
        .filter(F.col("_len") >= max_set_size)
        .limit(1)
        .count()
        > 0
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Distinct (id, shingle) pairs; optionally drop ubiquitous shingles.

    Tokens are materialized into a column *before* shingling: expressions
    inside lambda functions get no common-subexpression elimination, so
    inlining ``tokenize`` into each of the n ``element_at`` calls would
    re-run the split O(n·shingles) times per document (measured 10×).

    Shingles leave this operator as ``xxhash64`` longs, not strings: every
    consumer joins, counts, or re-hashes them — none renders them — and an
    8-byte key shrinks the distinct, the doc-frequency group-by, the
    shared-shingle join, and the verification ``collect_set`` shuffles by
    the average shingle length (measured −14 % total pipeline shuffle on
    this short-shingle testdata; proportionally more on real prose).  Set
    semantics are preserved up
    to hash collisions (P ≈ n²·2⁻⁶⁴ — at 100 TB with 10¹² shingles,
    expect ~30 colliding pairs corpus-wide, each merely merging two
    shingles inside a Jaccard count).
    """
    sh = _raw_shingle_stream(df, id_col, text_col, n).distinct()
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(freq.filter(F.col("df") <= max_shingle_df), "shingle")
            .select("id", "shingle")
        )
    return sh


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct ``n``-gram shingles occur anywhere in the benchmark set.

    The published LLM-corpus recipe (n-gram collision against evaluation
    sets, as popularized by the GPT-3/PaLM data papers) re-expressed for
    Spark's cost model: the benchmark is tiny relative to a 100 TB corpus,
    so its DISTINCT shingle set is broadcast and corpus shingles are
    tagged map-side by a broadcast LEFT join — the only shuffle is the
    per-document aggregation, whose input is the corpus shingle table
    itself (no corpus×benchmark shuffle, no second pass for sizes: hit
    count and shingle count come from ONE aggregation over the tagged
    rows).

    Returns (id, n_sh, overlap, overlap_frac) with one row per corpus
    document that has at least one shingle; documents shorter than ``n``
    tokens have no shingles and no row, mirroring set semantics.
    """
    corp_sh = shingle_sets(corpus, id_col, text_col, n)
    bench_sh = (
        shingle_sets(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tagged = corp_sh.join(F.broadcast(bench_sh), "shingle", "left")
    return (
        tagged.groupBy("id")
        .agg(
            F.count("*").alias("n_sh"),
            F.count("_hit").alias("overlap"),
        )
        .withColumn("overlap_frac", F.col("overlap") / F.col("n_sh"))
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via the shared-shingle self-join.

    Returns (x, y, jaccard) with x < y and jaccard ≥ threshold.  The join
    key is the shingle itself — only documents sharing at least one shingle
    ever meet, so sparsity (helped by ``max_shingle_df``) keeps this far
    below quadratic in practice.

    The shingle table feeds three consumers (per-doc sizes + both sides of
    the self-join) and aliased self-joins do NOT canonicalize to a
    reusable exchange, so it is ``persisted`` for the duration of the call
    and released after the (bounded, thresholded) pair set checkpoints.
    """
    with persisted(shingles) as shingles:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = shingles.select(F.col("id").alias("x"), "shingle")
        b = shingles.select(F.col("id").alias("y"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("x") < F.col("y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("inter"))
        )
        sx = sizes.select(F.col("id").alias("x"), F.col("n_sh").alias("nx"))
        sy = sizes.select(F.col("id").alias("y"), F.col("n_sh").alias("ny"))
        out = (
            inter.join(sx, "x")
            .join(sy, "y")
            .withColumn("jaccard", F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("x", "y", "jaccard")
        )
        return out.localCheckpoint(eager=True)


# Up to this many total shingle OCCURRENCES (16 bytes each hashed — ids +
# hashes, ~tens of MB in executor memory at the limit) the shared-shingle
# self-join broadcasts its build side; above it, the linear shuffle join
# runs.  Same bounded-materialization posture as similarity's
# BROADCAST_ROW_LIMIT: an explicit, size-gated broadcast decided from an
# exact driver-side statistic, never an unconditional one.
SHINGLE_BROADCAST_LIMIT = 4_000_000

# The banded LSH bucket table has num_bands rows per document (24 bytes
# each); up to this many documents the bucket self-join broadcasts its
# build side — the streamed side keeps its id-hash placement, so the
# candidate-pair dedup aggregation skips its exchange.
BUCKET_BROADCAST_DOC_LIMIT = 250_000

# The per-document size table is 16 bytes/row; up to this many documents
# it broadcasts into the Jaccard denominator joins (the pair stream then
# never re-partitions before the threshold filter).
SIZES_BROADCAST_DOC_LIMIT = 2_000_000


def jaccard_pairs_from_docs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_set_size: int = 65_536,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard straight from the documents table.

    Same result as ``jaccard_pairs(shingle_sets(df, ...), threshold)`` but
    with the fused plan when no document can be oversized
    (``_has_oversized_docs`` probe): the per-doc profile is computed
    map-side (``_doc_shingle_profiles`` — zero shuffles), the self-join
    sides explode out of the persisted profile cache, and the per-doc
    sizes are precomputed.  With a potential outlier document the classic
    join-chain path runs instead (its per-row state is one (id, shingle)
    pair, immune to oversized per-row arrays).

    Self-join regime is a BOUNDED-BROADCAST dispatch (house posture of
    ``similarity.verify_pairs``): the profile materialization also yields
    the exact total shingle-occurrence count, and while it stays at or
    under ``shingle_broadcast_limit`` the build side of the shared-shingle
    join is broadcast — the streamed side then keeps the hash-by-id
    spread placement, so the (x, y) pair aggregation needs NO exchange at
    all (measured 9 MB total shuffle at sf1 vs 434 MB for the sort-merge
    form, whose shingle re-partitioning destroys the id placement and
    pays the full partial-pair exchange).  Above the limit the plan
    degrades to the honest linear-scaling shuffle join.  The explicit
    dispatch exists because the cache-statistics route is both racy
    (an unmaterialized cache plans as a sort-merge join intermittently)
    and unstable-by-accuracy (accurate array-cache stats exceed the 10 MB
    AQE threshold exactly where the broadcast is still the right call on
    real executors).
    """
    if _has_oversized_docs(df, text_col, max_set_size):
        return jaccard_pairs(shingle_sets(df, id_col, text_col, n), threshold)
    with persisted(_doc_shingle_profiles(df, id_col, text_col, n)) as prof:
        # One eager job: materializes the cache (deterministic planning —
        # see the docstring) and returns the exact broadcast-dispatch
        # statistics.
        n_docs, tot_sh = prof.agg(F.count("*"), F.sum("n_sh")).first()
        tot_sh = tot_sh or 0
        ex = prof.select("id", F.explode("shs").alias("shingle"))
        a = ex.select(F.col("id").alias("x"), "shingle")
        b = ex.select(F.col("id").alias("y"), "shingle")
        if tot_sh <= SHINGLE_BROADCAST_LIMIT:
            b = F.broadcast(b)
        inter = (
            a.join(b, "shingle")
            .filter(F.col("x") < F.col("y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("inter"))
        )
        # The per-doc size sides are 16 bytes/row after pruning, but their
        # CACHE statistics include the shingle arrays (21.5 MiB at sf1), so
        # the planner refuses the obvious broadcast and instead exchanges
        # the full PRE-threshold pair stream for the y-side join (measured
        # 110 MB at sf1).  Dispatch on the exact doc count: ≤ the limit the
        # pruned sizes broadcast (the x-join then also rides the id-hash
        # placement), above it the honest shuffle join runs.
        sx = prof.select(F.col("id").alias("x"), F.col("n_sh").alias("nx"))
        sy = prof.select(F.col("id").alias("y"), F.col("n_sh").alias("ny"))
        if n_docs <= SIZES_BROADCAST_DOC_LIMIT:
            sx, sy = F.broadcast(sx), F.broadcast(sy)
        out = (
            inter.join(sx, "x")
            .join(sy, "y")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("x", "y", "jaccard")
        )
        return out.localCheckpoint(eager=True)


def minhash_signatures(shingles: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(i, shingle).  One groupBy with ``num_hashes`` min-aggregates —
    constant per-doc state, single shuffle."""
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*mins)


def _banded_bucket_rows(
    signatures: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature table (id, h0..h{n-1}) into one
    (id, band_idx, band_hash) row per band — the LSH bucket key.  The band
    hash is ``xxhash64`` over the band's signature rows, so two documents
    land in the same bucket iff they agree on the full band."""
    rows_per_band = num_hashes // bands
    return signatures.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(
                        *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band_idx", "bb.band_hash")


def _bucket_join_pairs(bucketed: DataFrame, broadcast_build: bool = False) -> DataFrame:
    """Distinct candidate pairs (x < y) from a bucket table: documents
    sharing any (band_idx, band_hash) bucket meet exactly here — the
    all-pairs problem becomes a per-bucket equi-join.  With
    ``broadcast_build`` the build side broadcasts (caller has proven the
    table small via an exact count) and the streamed side keeps its
    placement, so the candidate-dedup DISTINCT can ride the upstream
    partitioning instead of paying a bucket-key exchange."""
    a = bucketed.select(F.col("id").alias("x"), "band_idx", "band_hash")
    b = bucketed.select(F.col("id").alias("y"), "band_idx", "band_hash")
    if broadcast_build:
        b = F.broadcast(b)
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_shingle_df: int | None = None,
    max_set_size: int = 65_536,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exactly verified.

    candidates (LSH) → exact Jaccard on the candidate set only → threshold.
    The expensive exact computation runs on the tiny candidate set, not on
    all pairs; at J ≥ 0.5 with the default banding the candidate set
    contains every qualifying pair with probability ≈ 1 - 1e-4 (and
    deterministically so for a fixed dataset, since the hashes are seeded).

    Verification routes per pair by document size: docs with at most
    ``max_set_size`` distinct shingles verify via per-doc
    ``collect_set`` arrays + ``array_intersect`` (two joins; per-stage
    overhead dominates the tiny candidate set), while pairs touching a
    larger document fall back to the shared-shingle join chain, whose
    per-row state is one (id, shingle) pair — a single pathological
    multi-MB document can no longer blow up an aggregation buffer.

    The existence of oversized docs is probed first with a shuffle-free
    scan of the raw text length: splitting a length-L text yields at most
    L+1 tokens (consecutive separators produce *empty* tokens, so the
    tighter ~L/2 bound for non-empty tokens does NOT hold) and distinct
    shingles ≤ tokens, so ``length < max_set_size`` proves the doc is
    small without computing a single shingle.

    In the common case — no oversized docs, no doc-frequency filter — the
    whole operator runs the FUSED plan (``_minhash_pairs_fused``): one
    aggregation computes the MinHash signature AND the verification
    shingle-set per document, so the shingle stream is shuffled once
    (min() and collect_set() are both duplicate-insensitive, so the
    pre-aggregation DISTINCT is dropped too) and the only persisted
    intermediate is the per-document profile (one row per doc).  Measured
    at sf0.1: 17 jobs → 13 and ~25 % lower wall clock than the unfused
    plan; result bit-identical.  The unfused two-path plan remains for the
    outlier cases (oversized docs route pairs through the shared-shingle
    join chain; ``max_shingle_df`` needs the distinct shingle table to
    compute document frequencies).
    """
    may_have_big = _has_oversized_docs(df, text_col, max_set_size)
    if max_shingle_df is None and not may_have_big:
        return _minhash_pairs_fused(
            df, id_col, text_col, threshold, n, num_hashes, bands
        )

    # The shingle set feeds two consumers (signatures and the verification
    # arrays) — persist it so the scan+shingle work runs once.  Banding:
    # documents agreeing on any full band become a candidate pair,
    # P(candidate | J) = 1-(1-J^r)^b with r = num_hashes/bands; at r=2,
    # b=16: J=0.9 → miss ≈ 5e-12.  The banded-bucket table is persisted
    # for its self-join: the two sides do NOT canonicalize to a reusable
    # exchange (measured: zero ReusedExchange without the persist, full
    # signature recompute).
    with persisted(shingle_sets(df, id_col, text_col, n, max_shingle_df)) as sh:
        sigs = minhash_signatures(sh, num_hashes)
        with persisted(_banded_bucket_rows(sigs, num_hashes, bands)) as bucketed:
            return _minhash_verified_pairs(
                sh, _bucket_join_pairs(bucketed), threshold, max_set_size,
                may_have_big,
            )


def _minhash_pairs_fused(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Fused MinHash-LSH pipeline for the no-outlier case: the per-document
    profile — signature AND exact-verification shingle set — is computed
    MAP-SIDE from the row-local distinct-shingle array
    (``_doc_shingle_profiles``): sig[i] = array_min over seeded re-hashes
    of the set, which equals the min over raw occurrences because min() is
    duplicate-insensitive.  Zero shuffles before the candidate bucket join
    (the earlier groupBy form shuffled one profile row per document —
    measured 4.4 MB at sf0.1 — for bit-identical values).  The profile is
    the only persisted frame; the banded buckets and both verification
    sides are cheap per-row derivations from that cache."""
    base = _doc_shingle_profiles(df, id_col, text_col, n)

    # NB: the lambda must take exactly ONE parameter — PySpark passes the
    # element index as a second positional arg to 2-param lambdas, so the
    # usual default-arg seed capture would silently bind the index as the
    # seed and collapse every h_i to the same value (functions/text.py
    # documents the same trap).  A closure factory pins the seed safely.
    def _seeded_min(seed: int):
        return F.array_min(F.transform("shs", lambda h: F.xxhash64(F.lit(seed), h)))

    mins = [_seeded_min(i).alias(f"h{i}") for i in range(num_hashes)]
    with persisted(base.select("id", *mins, "shs", "n_sh")) as prof:
        # Materialize before planning the bucket/verification joins (same
        # AQE-stats race as in jaccard_pairs_from_docs) and dispatch the
        # bucket self-join on the exact document count: ≤ the limit, the
        # banded build side broadcasts and the candidate dedup rides the
        # id-hash placement; above it, the honest linear shuffle join.
        n_docs = prof.count()
        cands = _bucket_join_pairs(
            _banded_bucket_rows(prof, num_hashes, bands),
            broadcast_build=n_docs <= BUCKET_BROADCAST_DOC_LIMIT,
        )
        ax = prof.select(
            F.col("id").alias("x"), F.col("shs").alias("shx"), F.col("n_sh").alias("nx")
        )
        ay = prof.select(
            F.col("id").alias("y"), F.col("shs").alias("shy"), F.col("n_sh").alias("ny")
        )
        out = (
            cands.join(ax, "x")
            .join(ay, "y")
            .withColumn("inter", F.size(F.array_intersect("shx", "shy")))
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("x", "y", "jaccard")
        )
        return out.localCheckpoint(eager=True)


def _minhash_verified_pairs(
    sh: DataFrame,
    cands: DataFrame,
    threshold: float,
    max_set_size: int,
    may_have_big: bool,
) -> DataFrame:

    def array_verified(pool: DataFrame, pairs: DataFrame) -> DataFrame:
        doc_sets = pool.groupBy("id").agg(
            F.collect_set("shingle").alias("shs"), F.count("*").alias("n_sh")
        )
        ax = doc_sets.select(
            F.col("id").alias("x"), F.col("shs").alias("shx"), F.col("n_sh").alias("nx")
        )
        ay = doc_sets.select(
            F.col("id").alias("y"), F.col("shs").alias("shy"), F.col("n_sh").alias("ny")
        )
        return (
            pairs.join(ax, "x")
            .join(ay, "y")
            .withColumn("inter", F.size(F.array_intersect("shx", "shy")))
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("x", "y", "jaccard")
        )

    def finish(verified: DataFrame) -> DataFrame:
        # One eager materialization of the verified pairs (bounded:
        # candidates × exact filter), inside the callers' ``persisted``
        # scopes (shingles + banded buckets).
        return verified.localCheckpoint(eager=True)

    if not may_have_big:
        # max_shingle_df-filtered input with no oversized docs: single
        # array-verified plan over the (already df-filtered) shingle table.
        return finish(array_verified(sh, cands))

    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    # Outlier docs may exist: split the candidate pairs.  Small×small pairs
    # keep the array path (built only over small docs, so no oversized
    # aggregation buffer); pairs touching a big doc count their shared
    # shingles via the join chain.
    small_ids = sizes.filter(F.col("n_sh") <= max_set_size).select("id")
    sh_small = sh.join(small_ids, "id")
    bx = small_ids.select(F.col("id").alias("x")).withColumn("_sx", F.lit(1))
    by = small_ids.select(F.col("id").alias("y")).withColumn("_sy", F.lit(1))
    tagged = cands.join(bx, "x", "left").join(by, "y", "left")
    small_pairs = tagged.filter(
        F.col("_sx").isNotNull() & F.col("_sy").isNotNull()
    ).select("x", "y")
    big_pairs = tagged.filter(
        F.col("_sx").isNull() | F.col("_sy").isNull()
    ).select("x", "y")

    sx = sh.select(F.col("id").alias("x"), "shingle")
    sy = sh.select(F.col("id").alias("y"), "shingle")
    inter_big = (
        big_pairs.join(sx, "x")
        .join(sy, ["y", "shingle"])
        .groupBy("x", "y")
        .agg(F.count("*").alias("inter"))
    )
    zx = sizes.select(F.col("id").alias("x"), F.col("n_sh").alias("nx"))
    zy = sizes.select(F.col("id").alias("y"), F.col("n_sh").alias("ny"))
    big_verified = (
        inter_big.join(zx, "x")
        .join(zy, "y")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", "jaccard")
    )
    return finish(array_verified(sh_small, small_pairs).unionByName(big_verified))


_HEX = "0123456789abcdef"


def portable_token_bit_sql(md5_col: str, bit: int, intdiv_op: str) -> str:
    """SQL for bit ``bit`` (0-63) of a token's md5: 4 bits per hex char,
    little-endian within the char.  Every term — instr, substring, integer
    division, modulo — has identical semantics in Spark SQL
    (``intdiv_op="div"``) and DuckDB (``intdiv_op="//"``), so the *same*
    per-token bit stream drives the Spark operator and its external
    verifier (the ``portable_bucket_sql`` strategy in operators.splits)."""
    pos, r = bit // 4 + 1, bit % 4
    return (
        f"((instr('{_HEX}', substring({md5_col}, {pos}, 1)) - 1)"
        f" {intdiv_op} {1 << r}) % 2"
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash: per document, bit b is the sign of Σ_tokens (±1 by bit b of
    the token hash).  Computed as ``bits`` conditional-sum aggregates over
    the exploded token stream — one shuffle, no UDFs.

    ``portable=False`` (default): token bits from ``xxhash64`` — the fast
    JVM path.  ``portable=True``: token bits from md5 hex chars
    (``portable_token_bit_sql``), bit-reproducible by any ANSI-ish engine —
    the mode the oracle-checked ``dedup_simhash`` query runs, so the
    sign-of-sum + blocking logic has a hard external signal."""
    toks = _spread_narrow(df, by=id_col).select(
        F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("tok")
    )
    if portable:
        assert bits <= 64  # md5 yields 128 bits; we consume the first 16 hex chars
        toks = toks.withColumn("hx", F.md5("tok"))
        bit_of = [F.expr(portable_token_bit_sql("hx", b, "div")) for b in range(bits)]
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bit_of = [
            F.shiftright("h", b).bitwiseAND(F.lit(1)) for b in range(bits)
        ]
    bit_sums = [
        F.sum(F.when(bit_of[b] == 1, 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    # OR the per-bit masks together; shiftleft wraps at bit 63 exactly like
    # Java's 1L << 63, giving the correct sign-bit pattern.
    sig = F.lit(0).cast("long")
    for b in range(bits):
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        sig = sig.bitwiseOR(F.when(F.col(f"s{b}") >= 0, mask).otherwise(F.lit(0).cast("long")))
    return agg.select("id", sig.alias("simhash"))


def simhash_pairs(
    signatures: DataFrame, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit signature into ``chunks`` pieces;
    any pair within Hamming ≤ chunks-1 agrees on at least one full chunk,
    so the join key is (chunk_idx, chunk_value) — never all-pairs.

    Complete recall therefore requires ``max_hamming <= chunks - 1``; a
    larger ``max_hamming`` would silently miss pairs, so it raises.
    """
    if max_hamming > chunks - 1:
        raise ValueError(
            f"pigeonhole blocking with chunks={chunks} only guarantees "
            f"complete recall for max_hamming <= {chunks - 1}; got "
            f"max_hamming={max_hamming} — raise chunks to at least "
            f"{max_hamming + 1}"
        )
    width = 64 // chunks
    mask = (1 << width) - 1
    pieces = signatures.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.shiftrightunsigned("simhash", c * width).bitwiseAND(F.lit(mask)).alias("chunk_val"),
                )
                for c in range(chunks)
            ])
        ).alias("p"),
    ).select("id", "simhash", "p.chunk_idx", "p.chunk_val")
    with persisted(pieces) as pieces:  # self-joined below
        a = pieces.select(F.col("id").alias("x"), F.col("simhash").alias("hx"), "chunk_idx", "chunk_val")
        b = pieces.select(F.col("id").alias("y"), F.col("simhash").alias("hy"), "chunk_idx", "chunk_val")
        out = (
            a.join(b, ["chunk_idx", "chunk_val"])
            .filter(F.col("x") < F.col("y"))
            .select("x", "y", F.bit_count(F.col("hx").bitwiseXOR(F.col("hy"))).alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
        )
        return out.localCheckpoint(eager=True)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 32,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
    use_arrow: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): per document, hash every
    ``k``-char gram, then from every window of ``w`` consecutive gram
    hashes select the minimum (rightmost on ties); the distinct selected
    (position, hash) set is the fingerprint.

    Why winnowing and not strided windows: fingerprint SELECTION is
    content-defined, so two documents sharing an exact substring pick the
    same fingerprints inside it regardless of where the substring sits in
    either document — strided sampling breaks exactly there (the two
    occurrences land on incompatible grids).  Guarantee (Thm 1 of the
    paper): any exact match of length >= k + w - 1 chars shares at least
    one fingerprint; expected fingerprint density is 2/(w+1) of the gram
    stream.  This is the exact-substring dedup signal MinHash/SimHash
    miss (deduplicate-text-datasets' suffix-array pass finds the same
    matches; winnowing trades the global suffix sort for a per-document
    streaming computation that needs no cross-document coordination
    until the final hash groupBy).

    Spark shape — the whole selection is ONE map-side projection, no
    shuffle and no Python:
    - the gram hash array and the per-window min-fold run as nested
      higher-order functions (``transform``/``slice``/``aggregate``)
      inside a single JVM-side expression; the ``transform(array(..),
      kgs -> ..)[0]`` wrapper is a let-binding that pins the gram array
      to ONE evaluation even if CollapseProject inlines the projection
      (without it the k-gram md5s could be re-evaluated per window —
      O(n·w) hashes instead of O(n));
    - the hash is the engine-portable 48-bit md5 fold
      (``operators.splits.portable_hex_value_sql``), so a DuckDB oracle
      reproduces every fingerprint bit-for-bit;
    - only the winnowed ~2n/(w+1) fingerprints are ever exploded into
      rows; at 100 TB the gram stream itself never materializes or
      shuffles — the explode output (~12 % of corpus chars at w=16,
      ~20 bytes/row) is what downstream groupBys shuffle.

    Documents shorter than ``k + w - 1`` chars yield no window and are
    dropped (standard winnowing behavior — they cannot contain a
    guaranteed-length match).

    Returns (id_col, *carry_cols, n_fp, pos, hv): one row per selected
    fingerprint, ``n_fp`` = the document's fingerprint count.

    Two equal implementations, same contract as the GEMM/fold split in
    operators.similarity (SCALE.md §3 boundary policy — dense per-row
    kernels cross into Arrow, everything relational stays in plans):

    - ``use_arrow=True`` (default): mapInPandas — per Arrow batch, one
      md5 per gram and a numpy sliding-window rightmost-argmin; the
      winnow kernel runs at C speed and each gram is hashed once.
      Measured 127 s → 3-4 s at sf0.1 vs the HOF path, whose
      interpreted evaluation re-computes the md5 TWELVE times per gram
      (one per hex digit of the fold — no common-subexpression
      elimination inside lambda bodies) and allocates a W-struct slice
      per window.
    - ``use_arrow=False``: the pure-plan nested-HOF expression described
      above — zero Python, zero shuffle, kept as the engine-portable
      reference; ``tests/test_dedup_similarity.py`` pins both paths
      row-identical on real and planted corpora.

    Both paths are map-side only: the shuffle story downstream is
    identical.
    """
    if use_arrow:
        return _winnow_fingerprints_arrow(docs, k, w, id_col, text_col, carry_cols)
    from .splits import portable_hex_value_sql

    min_len = k + w - 1
    fold = portable_hex_value_sql(f"substring({text_col}, p, {k})", 12, "STRING")
    empty = "CAST(array() AS array<struct<p:int,h:bigint>>)"
    # Both levels guard the degenerate short-document case with typed
    # empty arrays (not just the row filter below): Catalyst's
    # InferFiltersFromGenerate derives a size(fps) > 0 predicate from the
    # downstream explode and can evaluate it on rows the length filter
    # would reject, and sequence(1, n) with n <= 0 yields a DESCENDING
    # sequence whose positions crash slice() — the expression must be
    # total on every input row.
    kg_sql = (
        f"IF(char_length({text_col}) < {k}, {empty}, "
        f"transform(sequence(1, char_length({text_col}) - {k} + 1), "
        f"p -> named_struct('p', p, 'h', {fold})))"
    )
    fps_sql = f"""
    transform(array({kg_sql}), kgs ->
      IF(size(kgs) < {w}, {empty},
         array_distinct(transform(
           sequence(1, size(kgs) - {w} + 1),
           win -> aggregate(slice(kgs, win, {w}),
                            named_struct('p', -1, 'h', 9223372036854775807),
                            (acc, x) -> IF(x.h <= acc.h, x, acc))))))[0]
    """
    return (
        _spread_narrow(docs)
        .filter(F.length(text_col) >= min_len)
        .select(id_col, *carry_cols, F.expr(fps_sql).alias("fps"))
        .select(
            id_col,
            *carry_cols,
            F.size("fps").cast("long").alias("n_fp"),
            F.explode("fps").alias("f"),
        )
        .select(
            id_col,
            *carry_cols,
            "n_fp",
            F.col("f.p").alias("pos"),
            F.col("f.h").alias("hv"),
        )
    )


def _winnow_fingerprints_arrow(
    docs: DataFrame,
    k: int,
    w: int,
    id_col: str,
    text_col: str,
    carry_cols: tuple[str, ...],
) -> DataFrame:
    """Arrow fast path for ``winnow_fingerprints``: per document, one md5
    per gram (hashlib, first 12 hex chars as int — the identical value
    the SQL fold computes) and the rightmost-min selection as a numpy
    ``sliding_window_view`` argmin over the REVERSED window axis (numpy
    argmin takes the first minimum, so reversing the axis yields the
    rightmost).  The kernel is per-row independent — map-side only, same
    shuffle story as the plan path — and the closure is self-contained
    (in-closure imports, plain python/numpy) so workers don't need this
    package importable."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    in_schema = docs.schema
    carry_fields = [in_schema[c] for c in carry_cols]
    out_schema = StructType(
        [
            StructField(id_col, in_schema[id_col].dataType),
            *[StructField(f.name, f.dataType) for f in carry_fields],
            StructField("n_fp", LongType()),
            StructField("pos", IntegerType()),
            StructField("hv", LongType()),
        ]
    )
    min_len = k + w - 1
    kk, ww = k, w
    id_c, text_c, carry = id_col, text_col, list(carry_cols)

    def gen(it):
        import hashlib

        import numpy as np
        import pandas as pd

        # Per-gram fast path (r19, guide §4.2 — the kernel IS the corpus
        # pass, so per-gram Python overhead is the scan cost at 100 TB):
        # value-identical to int(md5(gram).hexdigest()[:12], 16) — the
        # first 12 hex chars ARE the first 6 digest bytes big-endian —
        # while skipping the hex rendering, and ASCII docs (the common
        # case) encode ONCE and slice bytes instead of encoding every
        # gram (byte slices == char slices when every char is 1 byte).
        md5 = hashlib.md5
        from_bytes = int.from_bytes

        def _gram_hashes(text: str, n_grams: int) -> "np.ndarray":
            if text.isascii():
                tb = text.encode("utf-8")
                vals = (
                    from_bytes(md5(tb[i : i + kk]).digest()[:6], "big")
                    for i in range(n_grams)
                )
            else:
                vals = (
                    from_bytes(
                        md5(text[i : i + kk].encode("utf-8")).digest()[:6],
                        "big",
                    )
                    for i in range(n_grams)
                )
            return np.fromiter(vals, dtype=np.int64, count=n_grams)

        for pdf in it:
            ids, carries, n_fps, poss, hvs = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                rec = row._asdict()
                text = rec[text_c]
                if text is None or len(text) < min_len:
                    continue
                n_grams = len(text) - kk + 1
                hs = _gram_hashes(text, n_grams)
                sw = np.lib.stride_tricks.sliding_window_view(hs, ww)
                # rightmost min per window: argmin of the reversed axis
                rev_arg = sw[:, ::-1].argmin(axis=1)
                sel = np.unique(np.arange(len(sw)) + (ww - 1 - rev_arg))
                ids.append(np.full(len(sel), rec[id_c]))
                carries.append([np.full(len(sel), rec[c]) for c in carry])
                n_fps.append(np.full(len(sel), len(sel), dtype=np.int64))
                poss.append((sel + 1).astype(np.int32))  # 1-based
                hvs.append(hs[sel])
            if not ids:
                continue
            out = {id_c: np.concatenate(ids)}
            for j, c in enumerate(carry):
                out[c] = np.concatenate([arrs[j] for arrs in carries])
            out["n_fp"] = np.concatenate(n_fps)
            out["pos"] = np.concatenate(poss)
            out["hv"] = np.concatenate(hvs)
            yield pd.DataFrame(out)

    cols = [id_col, *carry_cols, text_col]
    # Single-file inputs would serialize the whole kernel onto one task;
    # the narrow-input spread (same probe every shingle pipeline uses)
    # round-robins the docs across cores first.
    return _spread_narrow(docs.select(*cols)).mapInPandas(gen, schema=out_schema)


def substring_dup_coverage(
    docs: DataFrame,
    k: int = 32,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Exact-substring duplication coverage per document: which documents
    share verbatim >= (k+w-1)-char passages with ANOTHER document, and
    how much of each document those shared passages cover.

    Pipeline over ``winnow_fingerprints``:
    1. fingerprint hashes held by >= 2 distinct documents mark shared
       passages (min(id) != max(id) over a window keyed on the 48-bit
       hash; a partition holds one hash's fingerprints, so its size is
       bounded by document frequency, and no pairwise join ever forms,
       so common boilerplate cannot go quadratic);
    2. each document's shared fingerprints merge into maximal islands
       (gaps-and-islands over a doc-partitioned window: break when the
       next [pos, pos+k) interval clears the previous one);
    3. per document: fingerprint count, shared count, covered chars
       (sum of island spans) and coverage in basis points
       (integer-division exact, so both engines agree bit-for-bit).

    Scale: one kernel pass and two keyed shuffles of the raw fingerprint
    rows (hash, then doc id); nothing is broadcast, and the
    doc-partitioned window and the final per-doc aggregate share the
    second exchange.  This is the curation signal behind \"remove or
    down-weight documents that are mostly boilerplate copies\" — the
    deduplicate-text-datasets finding that exact substring dedup
    materially improves LM training sets where near-dup methods
    saturate.
    """
    fp = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col, carry_cols=(len_col,)
    )
    # "held by >= 2 distinct documents" as min(id) != max(id) over the
    # hash's rows: the same predicate as countDistinct(id) >= 2 (both
    # ignore NULL ids), but computed in place on the one fingerprint
    # stream, so the kernel runs once instead of once per join side.
    wh = Window.partitionBy("hv")
    sfp = (
        fp.withColumn("_shared", F.min(id_col).over(wh) != F.max(id_col).over(wh))
        .filter("_shared")
        .drop("_shared")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        sfp.withColumn("prev", F.lag("pos").over(wd))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k), 1
            ).otherwise(0),
        )
        .withColumn(
            "isl", F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    spans = isl.groupBy(id_col, len_col, "n_fp", "isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + k).alias("e"),
        F.count("*").alias("nf"),
    )
    return (
        spans.groupBy(id_col, len_col, "n_fp")
        .agg(
            F.sum(F.col("e") - F.col("s")).alias("covered_chars"),
            F.sum("nf").alias("n_shared"),
        )
        .select(
            id_col,
            "n_fp",
            "n_shared",
            "covered_chars",
            F.expr(f"(10000 * covered_chars) DIV {len_col}").alias("coverage_bp"),
        )
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    name_col: str,
    min_distance: int = 1,
    max_distance: int = 2,
) -> DataFrame:
    """Entity-resolution-style fuzzy matching: distinct-value pairs within
    a bounded edit distance, found through token blocking instead of an
    all-pairs scan.

    The canonical ER pipeline shape, sized for a 100 TB fact table:

    1. **Collapse rows to the value vocabulary** — a hash aggregate with
       map-side combine, so the quadratic stage never sees row counts,
       only distinct values (the ``part`` name vocabulary is 64 at every
       scale factor; real catalogs are thousands, not billions).
    2. **Token blocking** — each distinct value emits its first and last
       whitespace tokens as blocking keys; candidate pairs come from an
       equi-join on the key, never a cross join.  Like ``simhash_pairs``'s
       pigeonhole chunks this is a recall heuristic, not a guarantee —
       a pair whose BOTH boundary tokens drift never meets — so the
       blocked result is pinned against the all-pairs ground truth on the
       test corpus (100 % recall there) and the blocking rule is part of
       the operator's declared semantics, mirrored exactly by the oracle.
    3. **Exact Levenshtein only within blocks** — Spark's built-in
       ``levenshtein`` (JVM codegen, same unit-cost DP as DuckDB's), with
       the ``value_a < value_b`` canonical order deduplicating the two
       blocking passes via ``distinct`` BEFORE the O(len²) distance runs.

    Returns (name_a, name_b, dist, n_a, n_b): the matched pair, its edit
    distance, and each side's row support — the stats an entity-merge
    step keys on.
    """
    names = df.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    toks = F.split(F.col("name"), " ")
    keys = names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.array(F.element_at(toks, 1), F.element_at(toks, -1))
            )
        ).alias("bk"),
    ).distinct()
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), on="bk")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    flt = cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("int")
    ).filter(F.col("dist").between(min_distance, max_distance))
    na = names.select(F.col("name").alias("name_a"), F.col("n").alias("n_a"))
    nb = names.select(F.col("name").alias("name_b"), F.col("n").alias("n_b"))
    return flt.join(F.broadcast(na), "name_a").join(F.broadcast(nb), "name_b").select(
        "name_a", "name_b", "dist", "n_a", "n_b"
    )


def containment_pairs(
    shingles: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact all-pairs shingle CONTAINMENT — the asymmetric near-dup
    signal Jaccard structurally misses: a short document embedded
    verbatim inside a much longer one has containment(short→long) ≈ 1
    while Jaccard ≈ |short|/|long| ≈ 0, so a Jaccard threshold never
    fires (planted-pair demonstration in tests/test_dedup_similarity.py).
    The production use is quote/excerpt/template detection — drop or
    down-weight the contained copy, keep the container.

    containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.  Returns
    (x, y, c_xy, c_yx, jaccard) with x < y and max(c_xy, c_yx) ≥
    ``threshold`` — both directions plus Jaccard for contrast, all exact
    integer ratios until the final division.

    Same plan skeleton and cache lifetime (``persisted``) as
    ``jaccard_pairs`` (shared-shingle equi-join — only documents sharing
    a shingle ever meet); only the threshold predicate differs, so every
    scale property measured for the Jaccard path (SCALE.md §§7b, 12)
    carries over unchanged.
    """
    with persisted(shingles) as shingles:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = shingles.select(F.col("id").alias("x"), "shingle")
        b = shingles.select(F.col("id").alias("y"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("x") < F.col("y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("inter"))
        )
        sx = sizes.select(F.col("id").alias("x"), F.col("n_sh").alias("nx"))
        sy = sizes.select(F.col("id").alias("y"), F.col("n_sh").alias("ny"))
        out = (
            inter.join(sx, "x")
            .join(sy, "y")
            .withColumn("c_xy", F.col("inter") / F.col("nx"))
            .withColumn("c_yx", F.col("inter") / F.col("ny"))
            .filter(F.greatest(F.col("c_xy"), F.col("c_yx")) >= threshold)
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("nx") + F.col("ny") - F.col("inter")),
            )
            .select("x", "y", "c_xy", "c_yx", "jaccard")
        )
        return out.localCheckpoint(eager=True)


def _prefix_candidates(
    sh: DataFrame,
    threshold_num: int,
    threshold_den: int,
    positional: bool = True,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Candidate (x, y) pairs of ``prefix_filter_jaccard_pairs``'s
    generation stage: the prefix-entry equi-join, optionally pruned by
    the PPJoin POSITIONAL filter (Xiao et al., WWW'08 §3.2).

    Positional filter soundness: both sides sort their shingles by the
    SAME global (df, shingle) order, so shared tokens appear in the same
    relative order in both documents, and for a QUALIFYING pair the
    globally smallest shared token u* sits in both prefixes (if u* were
    prefix-in-x but suffix-in-y, any both-prefix shared token w > u*
    would precede u* in y — contradicting sortedness — so none could
    exist, contradicting prefix-filter completeness).  Hence
    ``min(rk_x)`` and ``min(rk_y)`` over the pair's shared prefix tokens
    are BOTH attained at u*, every other shared token lies strictly
    after u* on both sides, and

        |x ∩ y| <= 1 + min(|x| - i, |y| - j),   (i, j) = positions of u*.

    J(x,y) >= num/den is equivalent to the overlap bound
    |x ∩ y| * (num + den) >= num * (|x| + |y|), so candidates whose
    positional upper bound cannot reach it are pruned BEFORE the
    verification join — all-integer arithmetic, same completeness
    guarantee (hypothesis-pinned for ANY input in
    tests/test_round14_properties.py), measured candidate reduction in
    tests/test_dedup_similarity.py.  ``positional=False`` keeps the
    plain prefix join for that measurement.  ``sizes``: caller-supplied
    (id, n_sh) table so a caller that already aggregated per-doc sizes
    shares ONE aggregation pass instead of re-running it here (r18
    optimization round)."""
    from pyspark.sql import Window

    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    if sizes is None:
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df", "shingle")
            ),
        )
        .join(sizes, "id")
    )
    # prefix_len = n_sh - ceil(t * n_sh) + 1, all-integer
    ceil_t = F.expr(
        f"({threshold_num} * n_sh + {threshold_den - 1}) div {threshold_den}"
    )
    prefix = ranked.filter(F.col("rk") <= F.col("n_sh") - ceil_t + 1).select(
        "id", "shingle", "rk", "n_sh"
    )
    px = prefix.select(
        F.col("id").alias("x"),
        "shingle",
        F.col("rk").alias("ix"),
        F.col("n_sh").alias("snx"),
    )
    py = prefix.select(
        F.col("id").alias("y"),
        "shingle",
        F.col("rk").alias("iy"),
        F.col("n_sh").alias("sny"),
    )
    joined = px.join(py, "shingle").filter(F.col("x") < F.col("y"))
    if not positional:
        return joined.select("x", "y").distinct()
    num, den = threshold_num, threshold_den
    cand = joined.groupBy("x", "y").agg(
        F.min("ix").alias("i"),
        F.min("iy").alias("j"),
        F.min("snx").alias("snx"),  # constant per id: min == the value
        F.min("sny").alias("sny"),
    )
    ub = F.lit(1) + F.least(
        F.col("snx") - F.col("i"), F.col("sny") - F.col("j")
    )
    return cand.filter(
        ub * F.lit(num + den) >= F.lit(num) * (F.col("snx") + F.col("sny"))
    ).select("x", "y")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact all-pairs Jaccard via PREFIX FILTERING (Chaudhuri et al.
    ICDE'06; Xiao et al. WWW'08 "PPJoin") — the classic exact
    set-similarity join, as the deterministic alternative to both the
    probabilistic MinHash-LSH path and the all-shared-shingle join:

    Sort each document's shingles by a GLOBAL rarity order (document
    frequency asc, shingle asc).  For Jaccard >= t, a qualifying pair
    must share a token inside each side's first
    ``|s| - ceil(t*|s|) + 1`` tokens (if all of A's rarest prefix misses
    B, the intersection fits in A's suffix of size ceil(t*|A|) - 1 <
    t*|A| <= |A∩B| — contradiction), so candidate generation joins
    only PREFIX entries: the frequent shingles that dominate the
    shared-shingle join's fan-out never generate candidates.
    Verification then computes the exact intersection for the candidate
    set only.  Completeness (output == brute force for ANY input) is
    hypothesis-pinned in tests/test_round14_properties.py; the measured
    candidate reduction vs the all-shared-shingle generator is pinned
    in tests/test_dedup_similarity.py.

    The threshold is an exact RATIONAL (``threshold_num/threshold_den``)
    so the prefix length and the final filter are pure integer
    arithmetic — ceil(t*|s|) = (num*|s| + den - 1) div den — identical
    on any engine; the only float emitted is the rounded jaccard
    readout.  Shingles ride the house xxhash64 fast path
    (``shingle_sets``): completeness holds for ANY total order, so the
    candidate set is engine-local (ties break on the hash here, on the
    string in the DuckDB oracle) while the OUTPUT — the verified pairs —
    is order-invariant and compares exactly.  That is also why no
    candidate-stage statistic appears in the result columns.

    On top of the prefix bound, the PPJoin POSITIONAL filter
    (``_prefix_candidates``) prunes candidates the prefix filter alone
    admits: the first shared prefix token's positions (i, j) cap the
    achievable overlap at 1 + min(|x|-i, |y|-j), and candidates whose
    cap cannot reach the Jaccard-equivalent overlap requirement never
    enter the verification join (soundness argument on the helper).

    Scale shape: one distinct + one df aggregate + one per-doc rank
    window (all keyed on id or shingle), a prefix-only equi-join on
    shingle with a per-pair positional cap, and a candidate-bounded
    verification join — every stage is keyed, nothing is all-pairs, and
    the candidate stream is the one the prefix + positional bounds
    provably minimize per set size.

    The shingle stream feeds SIX consumers (df aggregate, one shared
    size aggregate, the rank-window input, and both verification sides)
    behind differently-keyed exchanges, which AQE's ReusedExchange
    cannot collapse — so the stream is ``persisted`` for the duration
    of the call (r18 optimization round: one shingle materialization
    instead of six corpus re-scans at production scale) and released
    after the bounded, thresholded pair set checkpoints.  Persist, not
    localCheckpoint, deliberately: the materialized InMemoryRelation
    carries accurate size statistics, so the planner keeps the static
    broadcast choices for the size/frequency joins that a stats-less
    checkpoint (LogicalRDD) degrades to sort-merge — measured 2.5 s vs
    4.3 s at sf0.1 between the two forms.
    """
    with persisted(shingle_sets(df, id_col, text_col, n)) as sh:
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
        cand = _prefix_candidates(sh, threshold_num, threshold_den, sizes=sizes)
        a = sh.select(F.col("id").alias("x"), "shingle")
        b = sh.select(F.col("id").alias("y"), "shingle")
        inter = (
            cand.join(a, "x")
            .join(b, ["y", "shingle"])
            .groupBy("x", "y")
            .agg(F.count("*").cast("long").alias("inter"))
        )
        sx = sizes.select(F.col("id").alias("x"), F.col("n_sh").alias("nx"))
        sy = sizes.select(F.col("id").alias("y"), F.col("n_sh").alias("ny"))
        num, den = threshold_num, threshold_den
        out = (
            inter.join(sx, "x")
            .join(sy, "y")
            .filter(
                F.col("inter") * F.lit(den)
                >= F.lit(num) * (F.col("nx") + F.col("ny") - F.col("inter"))
            )
            .select(
                "x",
                "y",
                "inter",
                F.col("nx").cast("long").alias("nx"),
                F.col("ny").cast("long").alias("ny"),
                F.round(
                    F.col("inter")
                    / (F.col("nx") + F.col("ny") - F.col("inter")),
                    4,
                ).alias("jacc_r"),
            )
        )
        out = out.localCheckpoint(eager=True)
    return out.orderBy("x", "y")
