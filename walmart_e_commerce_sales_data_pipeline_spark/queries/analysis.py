"""Corpus-analysis extensions, round 8: mergeable-sketch set operations,
overlapping context chunking, collocation mining, dup-graph degree
diagnostics, and robust (winsorized) statistics.

Every query carries an exact DuckDB oracle; doubles that pass through
order-dependent summation are rounded on both sides per the registry
contract (queries/registry.py docstring).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize
from .diagnostics import midranks2
from .registry import register
from .tables import local_frame, read_bounded, table

# ---------------------------------------------------------------------------
# KMV sketch set operations (union / intersection from MERGED sketches).
# ---------------------------------------------------------------------------

_K = 64
_HEX_CHARS = 12
_SCALE = float(16**_HEX_CHARS)  # 2^48, exactly representable as a double


def _hash_sql(str_type: str) -> str:
    from ..operators.splits import portable_hex_value_sql

    return portable_hex_value_sql("shingle", _HEX_CHARS, str_type)


def _est_sql(m: str, kth: str) -> str:
    return (
        f"CASE WHEN {m} < {_K} THEN CAST({m} AS DOUBLE) "
        f"ELSE ({_K} - 1) * {_SCALE!r} / {kth} END"
    )


@register(
    "kmv_sketch_union",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % 2 AS par, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT par, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    h AS (SELECT DISTINCT par, {_hash_sql("VARCHAR")} AS hv FROM sh),
    r AS (
        SELECT par, hv,
               ROW_NUMBER() OVER (PARTITION BY par ORDER BY hv) AS rk
        FROM h
    ),
    sk AS (SELECT par, hv FROM r WHERE rk <= {_K}),
    -- merged sketch: the k smallest of the UNION of the two sketch sets
    -- (never touches the full hash sets — the mergeability property)
    u AS (
        SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk
        FROM (SELECT DISTINCT hv FROM sk)
    ),
    usk AS (SELECT hv FROM u WHERE rk <= {_K}),
    stats AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sk WHERE par = 0) AS m_a,
            (SELECT MAX(hv) FROM sk WHERE par = 0) AS kth_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sk WHERE par = 1) AS m_b,
            (SELECT MAX(hv) FROM sk WHERE par = 1) AS kth_b,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM usk) AS m_u,
            (SELECT MAX(hv) FROM usk) AS kth_u,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM usk
             WHERE hv IN (SELECT hv FROM sk WHERE par = 0)
               AND hv IN (SELECT hv FROM sk WHERE par = 1)) AS m_both
    ),
    ests AS (
        SELECT {_est_sql('m_a', 'kth_a')} AS est_a,
               {_est_sql('m_b', 'kth_b')} AS est_b,
               {_est_sql('m_u', 'kth_u')} AS est_union,
               CAST(m_both AS DOUBLE) / m_u AS rho
        FROM stats
    ),
    exact AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sh WHERE par = 0) AS n_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sh WHERE par = 1) AS n_b,
            (SELECT CAST(COUNT(DISTINCT shingle) AS BIGINT) FROM sh) AS n_union,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM (SELECT shingle FROM sh WHERE par = 0
                   INTERSECT SELECT shingle FROM sh WHERE par = 1)) AS n_inter
    )
    SELECT exact.n_a, exact.n_b, exact.n_union, exact.n_inter,
           ROUND(ests.est_a, 4) AS est_a,
           ROUND(ests.est_b, 4) AS est_b,
           ROUND(ests.est_union, 4) AS est_union,
           ROUND(ests.rho * ests.est_union, 4) AS est_inter
    FROM exact CROSS JOIN ests
    """,
    description="KMV sketch SET OPERATIONS over distinct 3-gram shingles, "
    "partitioned by doc_id parity: per-partition k=64 sketches on the "
    "48-bit engine-portable md5 hash, then union cardinality from the "
    "MERGED sketch (k smallest of the union of the two sketch sets — "
    "mergeability is the property that lets a 100 TB pipeline keep one "
    "tiny sketch per shard and combine at the coordinator) and "
    "intersection via the standard rho·est_union estimator "
    "(rho = fraction of merged-sketch members present in both input "
    "sketches).  Exact distinct counts are carried alongside so the "
    "oracle pins the estimator arithmetic bit-for-bit; both engines "
    "evaluate the identical md5 fold (operators.splits."
    "portable_hex_value_sql), so the order statistics agree exactly.  "
    "Scale shape: rank-filter windows rewrite to per-partition group "
    "limits (WindowGroupLimit), sketches are ≤ k rows each, and the "
    "merge works on sketch rows only — never the full hash sets",
    tags=("sketch", "text", "distinct", "portable"),
)
def kmv_sketch_union(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` drops the exact branch (the four exact
    distinct/intersection counts over the full flag table, carried for
    the oracle) and returns the sketch-derived estimates only — the
    production path, where each shard keeps its <= k-row sketch and only
    sketches travel.  Default off; bench.py measures both tiers."""
    from ..functions.text import word_shingles
    from ..operators.dedup import _spread_narrow

    docs = table(spark, sf_dir, "documents")
    # ONE heavy shuffle for everything: aggregate the raw (par, shingle)
    # stream by shingle with per-partition membership flags.  The exact
    # branch is a 1-row agg over this table; the sketch branch derives
    # (par, hv) rows from the flags (no second shingle-distinct pass).
    # No persists: both consumers read the identical aggregation subtree
    # inside one final DAG, so Catalyst's exchange reuse dedupes it
    # (ReusedExchange, plan-asserted in tests/test_plans.py), and the
    # rank filters rewrite to WindowGroupLimit.
    flags = (
        _spread_narrow(docs)
        .select(
            (F.col("doc_id") % 2).alias("par"), tokenize("text").alias("_t")
        )
        .select("par", F.explode(word_shingles(F.col("_t"), 3)).alias("shingle"))
        .groupBy("shingle")
        .agg(
            F.max(F.when(F.col("par") == 0, 1).otherwise(0)).alias("ia"),
            F.max(F.when(F.col("par") == 1, 1).otherwise(0)).alias("ib"),
        )
    )
    # (par, hv) pairs from the flag table; distinct because two shingles
    # may (in principle) share a 48-bit hash — the oracle dedups hv too.
    h = (
        flags.select(
            F.expr(_hash_sql("STRING")).alias("hv"),
            F.when(F.col("ia") == 1, F.array(F.lit(0)))
            .otherwise(F.array().cast("array<int>"))
            .alias("_pa"),
            F.when(F.col("ib") == 1, F.array(F.lit(1)))
            .otherwise(F.array().cast("array<int>"))
            .alias("_pb"),
        )
        .select(F.explode(F.concat("_pa", "_pb")).alias("par"), "hv")
        .distinct()
    )
    w = Window.partitionBy("par").orderBy("hv")
    sk = (
        h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _K)
        .select("par", "hv")
    )

    def _est(m: str, kth: str) -> F.Column:
        return F.when(F.col(m) < _K, F.col(m).cast("double")).otherwise(
            F.lit(float(_K - 1)) * F.lit(_SCALE) / F.col(kth)
        )

    sk_a = sk.filter(F.col("par") == 0).select("hv")
    sk_b = sk.filter(F.col("par") == 1).select("hv")
    a_stats = sk_a.agg(
        F.count("*").cast("long").alias("m_a"), F.max("hv").alias("kth_a")
    )
    b_stats = sk_b.agg(
        F.count("*").cast("long").alias("m_b"), F.max("hv").alias("kth_b")
    )
    # merged sketch: k smallest of the union of the two sketch sets only
    usk = (
        sk.select("hv")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rk") <= _K)
        .select("hv")
    )
    u_stats = usk.agg(
        F.count("*").cast("long").alias("m_u"), F.max("hv").alias("kth_u")
    )
    both = (
        usk.join(sk_a, "hv", "left_semi")
        .join(sk_b, "hv", "left_semi")
        .agg(F.count("*").cast("long").alias("m_both"))
    )
    if sketch_only:
        return (
            a_stats.crossJoin(F.broadcast(b_stats))
            .crossJoin(F.broadcast(u_stats))
            .crossJoin(F.broadcast(both))
            .select(
                F.round(_est("m_a", "kth_a"), 4).alias("est_a"),
                F.round(_est("m_b", "kth_b"), 4).alias("est_b"),
                F.round(_est("m_u", "kth_u"), 4).alias("est_union"),
                F.round(
                    F.try_divide(F.col("m_both").cast("double"), F.col("m_u"))
                    * _est("m_u", "kth_u"),
                    4,
                ).alias("est_inter"),
            )
        )
    exact = flags.agg(
        F.count_if(F.col("ia") == 1).cast("long").alias("n_a"),
        F.count_if(F.col("ib") == 1).cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_union"),
        F.count_if((F.col("ia") == 1) & (F.col("ib") == 1)).cast("long").alias("n_inter"),
    )
    return (
        exact.crossJoin(F.broadcast(a_stats))
        .crossJoin(F.broadcast(b_stats))
        .crossJoin(F.broadcast(u_stats))
        .crossJoin(F.broadcast(both))
        .select(
            "n_a",
            "n_b",
            "n_union",
            "n_inter",
            F.round(_est("m_a", "kth_a"), 4).alias("est_a"),
            F.round(_est("m_b", "kth_b"), 4).alias("est_b"),
            F.round(_est("m_u", "kth_u"), 4).alias("est_union"),
            F.round(
                F.try_divide(F.col("m_both").cast("double"), F.col("m_u"))
                * _est("m_u", "kth_u"),
                4,
            ).alias("est_inter"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window context chunking with overlap.
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # window size in tokens
_CHUNK_S = 24  # stride in tokens (overlap = W - S where not truncated)


@register(
    "sliding_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t,
               len(string_split(lower(text), ' ')) AS n
        FROM documents
    ),
    plan AS (
        SELECT doc_id, t, n,
               CASE WHEN n <= {_CHUNK_W} THEN 1
                    ELSE CAST(CEIL((n - {_CHUNK_W}) / CAST({_CHUNK_S} AS DOUBLE)) AS INTEGER) + 1
               END AS n_chunks
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, t, n, CAST(i AS INTEGER) AS chunk_idx,
               CAST(i * {_CHUNK_S} + 1 AS INTEGER) AS start_tok,
               CAST(LEAST(i * {_CHUNK_S} + {_CHUNK_W}, n) AS INTEGER) AS end_tok
        FROM plan, UNNEST(range(0, n_chunks)) AS u(i)
    )
    SELECT doc_id, chunk_idx, start_tok, end_tok,
           CAST(end_tok - start_tok + 1 AS INTEGER) AS n_chunk_tokens,
           CAST(CASE WHEN chunk_idx = 0 THEN 0
                ELSE GREATEST(0, LEAST((chunk_idx - 1) * {_CHUNK_S} + {_CHUNK_W}, n)
                                 - start_tok + 1)
           END AS INTEGER) AS overlap_prev,
           t[start_tok] AS head_token
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    description="overlapping sliding-window chunking (window "
    f"{_CHUNK_W} tokens, stride {_CHUNK_S}) — the context-window "
    "splitter an LLM training pipeline runs before packing: per chunk, "
    "1-based token boundaries, token count, overlap with the previous "
    "chunk, and the head token.  Chunk count is the exact integer "
    "ceil((n−W)/S)+1 with a single-chunk floor for short documents.  "
    "Scale shape: pure per-row expressions (sequence → explode), zero "
    "shuffles before the presentation sort — embarrassingly parallel at "
    "any corpus size",
    tags=("text", "chunking", "packing"),
)
def sliding_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w, s = _CHUNK_W, _CHUNK_S
    base = docs.select(
        "doc_id", tokenize("text").alias("t")
    ).select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
    ).select(
        "doc_id",
        "t",
        "n",
        F.when(F.col("n") <= w, F.lit(1))
        .otherwise(
            F.ceil((F.col("n") - w) / F.lit(float(s))).cast("int") + F.lit(1)
        )
        .alias("n_chunks"),
    )
    chunks = base.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        "t",
        "n",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * s + 1).cast("int").alias("start_tok"),
        F.least(F.col("chunk_idx") * s + w, F.col("n")).cast("int").alias("end_tok"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "end_tok",
        (F.col("end_tok") - F.col("start_tok") + 1).cast("int").alias("n_chunk_tokens"),
        F.when(F.col("chunk_idx") == 0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    (F.col("chunk_idx") - 1) * s + w, F.col("n")
                )
                - F.col("start_tok")
                + 1,
            )
        )
        .cast("int")
        .alias("overlap_prev"),
        F.element_at("t", F.col("start_tok")).alias("head_token"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Bigram collocations by pointwise mutual information.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 25


@register(
    "bigram_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(lower(text), ' ') AS t FROM documents
    ),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS tok FROM toks)
        GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_u FROM uni),
    big AS (
        SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
        GROUP BY w1, w2
    ),
    btot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_b FROM big),
    scored AS (
        SELECT w1 || ' ' || w2 AS bigram, c_xy,
               ux.c AS c_x, uy.c AS c_y,
               ROUND(LN((CAST(c_xy AS DOUBLE) * n_u * n_u)
                        / (CAST(n_b AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
        FROM big
        JOIN uni ux ON ux.tok = w1
        JOIN uni uy ON uy.tok = w2
        CROSS JOIN tot CROSS JOIN btot
        WHERE c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT bigram, c_xy, c_x, c_y, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT {_PMI_TOP}
    """,
    description="bigram collocation mining by pointwise mutual information "
    "— PMI = ln(p(xy) / (p(x)·p(y))) over corpus unigram/bigram counts, "
    f"min bigram count {_PMI_MIN_COUNT}, top {_PMI_TOP} (PMI rounded at "
    "6 dp BEFORE ranking so the cross-engine ordering is deterministic; "
    "bigram string tie-break).  The association-strength signal behind "
    "phrase detection / tokenizer-merge candidates in corpus prep.  "
    "Scale shape: one shuffle for bigram counts; unigram counts are "
    "vocab-bounded and broadcast to both join sides; the final top-k is "
    "TakeOrderedAndProject, never a global sort",
    tags=("text", "collocation", "statistics"),
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(tokenize("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n_u"))
    # Guard: sequence(1, 0) DESCENDS in Spark (see functions.text.
    # word_shingles), so single-token documents must be excluded up front.
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.size("t") - 1)
            ).alias("i"),
            "t",
        )
        .select(
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    # n_b is the total over ALL bigrams (pre-min-count): sum of per-doc
    # bigram counts, computed map-side without touching the filtered table.
    btot_all = toks.select(
        F.greatest(F.lit(0), F.size("t") - 1).alias("nb")
    ).agg(F.sum("nb").cast("long").alias("n_b"))
    scored = (
        big.join(F.broadcast(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c_x")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c_y")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot_all))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("n_u") * F.col("n_u"))
                    / (F.col("n_b").cast("double") * F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bigram").limit(_PMI_TOP)


# ---------------------------------------------------------------------------
# Degree distribution of the near-duplicate graph.
# ---------------------------------------------------------------------------


@register(
    "dup_graph_degree_hist",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT x AS id FROM pairs UNION ALL SELECT y AS id FROM pairs)
        GROUP BY id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
    description="degree distribution of the exact-Jaccard near-duplicate "
    "graph (J ≥ 0.5, same edge set as dedup_clusters): how many documents "
    "have how many near-dup partners — the pre-clustering diagnostic that "
    "tells a dedup pipeline whether it is looking at isolated twins "
    "(degree 1), tight cliques (uniform high degree), or hub documents "
    "(template/boilerplate masquerading as near-dups, where transitive "
    "clustering would over-merge).  Scale shape: reuses the fused "
    "shared-shingle pair plan (operators.dedup.jaccard_pairs_from_docs), "
    "then a two-level aggregation on bounded keys",
    tags=("dedup", "graph", "diagnostics"),
)
def dup_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs_from_docs
    from .dedup import JACCARD_THRESHOLD

    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    deg = (
        pairs.select(F.col("x").alias("id"))
        .unionAll(pairs.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Winsorized (robust) price statistics.
# ---------------------------------------------------------------------------


@register(
    "winsorized_price_stats",
    oracle="""
    WITH p AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    ),
    clamped AS (
        SELECT l.l_returnflag, p.lo, p.hi,
               GREATEST(p.lo, LEAST(p.hi, l.l_extendedprice)) AS v,
               l.l_extendedprice AS raw
        FROM lineitem l JOIN p ON p.l_returnflag = l.l_returnflag
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(lo), 4) AS p05,
           ROUND(ANY_VALUE(hi), 4) AS p95,
           ROUND(AVG(v), 4) AS mean_winsorized,
           ROUND(STDDEV_SAMP(v), 2) AS std_winsorized,
           CAST(SUM(CASE WHEN raw < lo OR raw > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM clamped
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    description="winsorized robust statistics per return flag: exact "
    "interpolated p05/p95 fences (distributed histogram ladder, "
    "operators.percentiles.exact_group_percentiles — bit-identical to "
    "DuckDB quantile_cont, pinned in tests/test_percentiles.py), values "
    "clamped into the fences, then mean/stddev over the clamped column "
    "plus a clamp count — the outlier-robust summary a feature pipeline "
    "computes instead of trusting raw moments.  Doubles round at 4/2 dp "
    "(parallel summation order differs across engines at the last ulp).  "
    "Scale shape: the ladder avoids per-group sort buffers, the 3-row "
    "fence table broadcasts back onto the fact scan, and the final "
    "aggregation is a plain partial-agg group-by",
    tags=("agg", "percentile", "robust"),
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_group_percentiles

    li = table(spark, sf_dir, "lineitem")
    # on_overflow="error": oracle-checked vs DuckDB's exact quantile_cont,
    # so a silent approx fallback must fail loudly instead of diverging.
    fences = exact_group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.05, 0.95], on_overflow="error"
    ).select(
        "l_returnflag", F.col("p_0").alias("lo"), F.col("p_1").alias("hi")
    )
    clamped = li.join(F.broadcast(fences), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.greatest("lo", F.least("hi", F.col("l_extendedprice"))).alias("v"),
        F.col("l_extendedprice").alias("raw"),
    )
    return (
        clamped.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.first("lo"), 4).alias("p05"),
            F.round(F.first("hi"), 4).alias("p95"),
            F.round(F.avg("v"), 4).alias("mean_winsorized"),
            F.round(F.stddev_samp("v"), 2).alias("std_winsorized"),
            F.sum(
                F.when((F.col("raw") < F.col("lo")) | (F.col("raw") > F.col("hi")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Corpus n-gram distribution profile: Zipf slope + Gini concentration.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100


@register(
    "ngram_distribution_profile",
    oracle=f"""
    WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
    uni AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i))
        GROUP BY g
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, g) AS rk,
               ROW_NUMBER() OVER (ORDER BY c ASC, g) AS rk_asc
        FROM uni
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                   CAST(SUM(c) AS BIGINT) AS n FROM uni),
    zipf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               SUM(LN(rk)) AS sx, SUM(LN(c)) AS sy,
               SUM(LN(rk) * LN(c)) AS sxy, SUM(LN(rk) * LN(rk)) AS sxx
        FROM ranked WHERE rk <= {_ZIPF_TOP}
    ),
    gini AS (SELECT 2.0 * SUM(CAST(rk_asc AS DOUBLE) * c) AS num FROM ranked)
    SELECT tot.v AS n_vocab, tot.n AS n_total,
           ROUND((zipf.sxy - zipf.sx * zipf.sy / zipf.m)
                 / (zipf.sxx - zipf.sx * zipf.sx / zipf.m), 6) AS zipf_slope,
           ROUND(gini.num / (tot.v * CAST(tot.n AS DOUBLE))
                 - (tot.v + 1.0) / tot.v, 6) AS gini
    FROM tot CROSS JOIN zipf CROSS JOIN gini
    """,
    description="corpus 3-gram distribution profile: OLS Zipf slope of "
    f"ln(freq) vs ln(rank) over the top {_ZIPF_TOP} n-grams, plus the "
    "exact Gini concentration coefficient over the full frequency "
    "distribution (G = 2·Σ rank_asc·c / (V·N) − (V+1)/V, count-ascending "
    "ranks with n-gram tie-break) — the corpus-health fingerprint a data "
    "pipeline tracks across crawl snapshots: a collapsing slope or "
    "spiking Gini flags template/boilerplate flooding before any dedup "
    "runs.  The Gini numerator sums exactly-representable integers "
    "(Σ rank·count < 2^53), so it is bit-exact across engines; the Zipf "
    "sums round at 6 dp.  Scale shape (NO global sort anywhere): the "
    "Zipf head is a distributed top-K (TakeOrderedAndProject) ranked "
    "post-limit over ≤ 100 rows, and the Gini ranks are computed WITHOUT "
    "ranking rows — ties on count share consecutive ranks whose sum "
    "depends only on the counts-of-counts histogram, so "
    "Σ rank_asc·c = Σ_c c·(base(c)·m_c + m_c(m_c+1)/2) where base is a "
    "running sum over the counts-of-counts table.  That table is "
    "provably ≤ √(2N) rows (distinct count values d satisfy "
    "d(d+1)/2 ≤ N), ~4.5M rows ≈ 72 MB even at N = 10^13 tokens, so its "
    "one cumulative-sum window is bounded-small by construction; the "
    "n-gram tie-break order inside a count class never changes the sum",
    tags=("text", "statistics", "diagnostics"),
)
def ngram_distribution_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_shingles

    docs = table(spark, sf_dir, "documents")
    uni = (
        docs.select(tokenize("text").alias("_t"))
        .select(F.explode(word_shingles(F.col("_t"), 3)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # Zipf head: distributed top-K (per-partition heads merged — Spark plans
    # orderBy().limit() as TakeOrderedAndProject, never a global sort), then
    # exact ranks assigned post-limit over at most _ZIPF_TOP rows.
    top = uni.orderBy(F.col("c").desc(), "g").limit(_ZIPF_TOP)
    rk = F.row_number().over(Window.orderBy(F.col("c").desc(), "g"))
    lnrk = F.log(rk.cast("double"))
    lnc = F.log(F.col("c").cast("double"))
    zipf = top.select(
        lnrk.alias("lnrk"), lnc.alias("lnc")
    ).agg(
        F.count("*").cast("long").alias("m"),
        F.sum("lnrk").alias("sx"),
        F.sum("lnc").alias("sy"),
        F.sum(F.col("lnrk") * F.col("lnc")).alias("sxy"),
        F.sum(F.col("lnrk") * F.col("lnrk")).alias("sxx"),
    )
    # Gini WITHOUT ranking any row: every n-gram with count c occupies the
    # consecutive ascending-rank block (base(c), base(c) + m_c], so
    # Σ rank_asc·c = Σ_c c·(base(c)·m_c + m_c(m_c+1)/2) over the
    # counts-of-counts table (≤ √(2N) rows; the tie-break permutation
    # inside a block never changes the block's rank sum).  All-long
    # arithmetic — exact while Σ rank·c < 2^63, cast once at the end.
    coc = uni.groupBy("c").agg(F.count("*").cast("long").alias("m_c"))
    w_coc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    coc_based = coc.withColumn(
        "base", F.coalesce(F.sum("m_c").over(w_coc), F.lit(0).cast("long"))
    )
    block = F.col("c") * (
        F.col("base") * F.col("m_c")
        + F.shiftright(F.col("m_c") * (F.col("m_c") + 1), 1)  # m(m+1)/2, exact in long
    )
    # gini + totals fused into ONE aggregate over the (windowed)
    # counts-of-counts table, so the n-gram count pipeline is planned
    # exactly twice (top-K head + histogram), not three times.
    tot = coc_based.agg(
        (F.lit(2.0) * F.sum(block).cast("double")).alias("num"),
        F.sum("m_c").cast("long").alias("v"),
        F.sum(F.col("c") * F.col("m_c")).cast("long").alias("n"),
    )
    return (
        tot.crossJoin(F.broadcast(zipf))
        .select(
            F.col("v").alias("n_vocab"),
            F.col("n").alias("n_total"),
            F.round(
                (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m"))
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")),
                6,
            ).alias("zipf_slope"),
            F.round(
                F.col("num") / (F.col("v") * F.col("n").cast("double"))
                - (F.col("v") + F.lit(1.0)) / F.col("v"),
                6,
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source near-duplicate contamination matrix.
# ---------------------------------------------------------------------------


@register(
    "cross_source_dup_matrix",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y, n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    )
    SELECT LEAST(dx.source, dy.source) AS src_a,
           GREATEST(dx.source, dy.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(p.jaccard), 6) AS avg_jaccard
    FROM pairs p
    JOIN documents dx ON dx.doc_id = p.x
    JOIN documents dy ON dy.doc_id = p.y
    GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
    description="cross-source near-duplicate contamination matrix: the "
    "exact-Jaccard pair set (J ≥ 0.5, same edges as dedup_clusters) "
    "attributed to unordered source pairs — diagonal cells are "
    "within-source duplication (crawl artifacts), off-diagonal cells are "
    "cross-source syndication/mirroring, the signal that tells a corpus "
    "pipeline which source pairs need joint (not per-source) dedup and "
    "which benchmark sources leak into training sources.  Scale shape: "
    "reuses the fused shared-shingle pair plan, then two id-equi-joins "
    "against the narrow (doc_id, source) projection and a bounded "
    "source²-keyed aggregation",
    tags=("dedup", "diagnostics", "curation"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs_from_docs
    from .dedup import JACCARD_THRESHOLD

    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    srcs = docs.select(F.col("doc_id").alias("id"), "source")
    sx = srcs.withColumnRenamed("id", "x").withColumnRenamed("source", "src_x")
    sy = srcs.withColumnRenamed("id", "y").withColumnRenamed("source", "src_y")
    return (
        pairs.join(sx, "x")
        .join(sy, "y")
        .select(
            F.least("src_x", "src_y").alias("src_a"),
            F.greatest("src_x", "src_y").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# SCD-2 history build (validity intervals from a change stream).
# ---------------------------------------------------------------------------


@register(
    "scd2_user_state_history",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id) AS prev
        FROM events
    ),
    isl AS (
        SELECT user_id, event_type, tsn,
               SUM(CASE WHEN prev IS NOT DISTINCT FROM event_type
                        THEN 0 ELSE 1 END)
                   OVER (PARTITION BY user_id ORDER BY tsn, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM seq
    ),
    ver AS (
        SELECT user_id, island,
               MIN(event_type) AS state,
               CAST(MIN(tsn) AS BIGINT) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
           state, valid_from,
           LEAD(valid_from) OVER w AS valid_to,
           (LEAD(valid_from) OVER w IS NULL) AS is_current,
           n_events
    FROM ver
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, island)
    ORDER BY user_id, version
    """,
    description="SCD-2 (slowly-changing-dimension type 2) history build "
    "from a change stream: per user, consecutive runs of the same state "
    "(event_type) collapse into one version row — the gaps-and-islands "
    "pattern (lag-detects-change → running-sum island id) — then each "
    "version gets [valid_from, valid_to) nanosecond validity bounds via "
    "lead(), an is_current flag, and the event count it absorbed.  The "
    "dimension-history maintenance every warehouse load performs, and "
    "the point-in-time-join input for training-data correctness "
    "(feature state AS OF label time).  Change detection uses "
    "null-safe equality so a null state still opens a version.  Scale "
    "shape: all four steps partition by user_id — one shuffle on the "
    "natural key, windows and aggregation reuse it with no further "
    "exchange",
    tags=("event-time", "scd", "warehouse"),
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts_ns",
        "event_id",
        F.lag("event_type").over(w).alias("prev"),
    )
    isl = seq.withColumn(
        "island",
        F.sum(
            F.when(F.col("prev").eqNullSafe(F.col("event_type")), 0).otherwise(1)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    ver = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts_ns").cast("long").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "island")
    return (
        ver.select(
            "user_id",
            F.row_number().over(w2).alias("version"),
            "state",
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            F.lead("valid_from").over(w2).isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD-2 history (AS OF semantics).
# ---------------------------------------------------------------------------

_PIT_SAMPLE_MOD = 37  # every 37th event acts as a "label" probe


@register(
    "state_as_of_label_time",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id) AS prev
        FROM events
    ),
    isl AS (
        SELECT user_id, event_type, tsn,
               SUM(CASE WHEN prev IS NOT DISTINCT FROM event_type
                        THEN 0 ELSE 1 END)
                   OVER (PARTITION BY user_id ORDER BY tsn, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM seq
    ),
    ver AS (
        SELECT user_id, island,
               MIN(event_type) AS state,
               CAST(MIN(tsn) AS BIGINT) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM isl GROUP BY user_id, island
    ),
    hist AS (
        SELECT user_id,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
               state, valid_from,
               LEAD(valid_from) OVER w AS valid_to
        FROM ver
        WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, island)
    ),
    labels AS (
        SELECT event_id AS label_id, user_id, epoch_ns(ts) AS label_tsn
        FROM events WHERE event_id % {_PIT_SAMPLE_MOD} = 0
    )
    SELECT l.label_id, l.user_id, l.label_tsn,
           h.state AS state_at_label, h.version
    FROM labels l
    JOIN hist h
      ON h.user_id = l.user_id
     AND h.valid_from <= l.label_tsn
     AND (h.valid_to IS NULL OR l.label_tsn < h.valid_to)
    ORDER BY l.label_id
    """,
    description="point-in-time (AS OF) join against the SCD-2 history: a "
    "deterministic label sample (every 37th event) is joined to the "
    "versioned state intervals on user + [valid_from, valid_to) "
    "containment — the feature-state-as-of-label-time lookup that keeps "
    "training data free of temporal leakage (a naive latest-state join "
    "would leak future state into past labels).  Intervals partition "
    "each user's timeline, so every label matches EXACTLY one version "
    "(row count == label count, asserted in tests).  Scale shape: the "
    "interval join is a hash join on user_id with the containment as a "
    "join residual — never a nested loop (the equi key carries it); "
    "history and labels both shuffle once on the same natural key",
    tags=("event-time", "scd", "warehouse", "training-data"),
)
def state_as_of_label_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hist = scd2_user_state_history(spark, sf_dir).select(
        "user_id", "version", "state", "valid_from", "valid_to"
    )
    labels = ev.filter(F.col("event_id") % _PIT_SAMPLE_MOD == 0).select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts_ns").alias("label_tsn"),
    )
    return (
        labels.join(
            hist,
            (hist.user_id == labels.user_id)
            & (hist.valid_from <= labels.label_tsn)
            & (hist.valid_to.isNull() | (labels.label_tsn < hist.valid_to)),
        )
        .select(
            "label_id",
            labels.user_id,
            "label_tsn",
            F.col("state").alias("state_at_label"),
            "version",
        )
        .orderBy("label_id")
    )


@register(
    "mad_outlier_rate",
    oracle="""
    WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag, m.med,
               ABS(l.l_extendedprice - m.med) AS ad
        FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ),
    mad AS (
        SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           ROUND(MAX(d.med), 4) AS med,
           ROUND(MAX(m.mad), 4) AS mad,
           CAST(SUM(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           ROUND(SUM(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS outlier_rate
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag ORDER BY d.l_returnflag
    """,
    description="median-absolute-deviation outlier profile (the robust "
    "twin of the z-score histogram: median and MAD shrug off the very "
    "outliers that inflate mean/stddev): per group, exact median -> "
    "exact median of absolute deviations -> fraction beyond 3 MAD.  Two "
    "DEPENDENT exact-percentile passes through the distributed histogram "
    "ladder (operators.percentiles, on_overflow='error' since both are "
    "oracle-checked), each fed back by a broadcast of the |groups|-row "
    "fence table — the same two-pass broadcast shape as winsorization, "
    "nested one level deeper.  Strict > on the 3·MAD fence: ties excluded "
    "identically in both engines, no epsilon",
    tags=("agg", "percentile", "robust"),
)
def mad_outlier_rate(
    spark: SparkSession, sf_dir: str, sketch_only: bool = False
) -> DataFrame:
    """``sketch_only=True`` swaps BOTH exact percentile-ladder passes for
    Spark's native ``percentile_approx`` sketch (one aggregate pass each,
    no histogram ladder) — the production robust-stats path when the
    median only parameterizes an outlier THRESHOLD and a relative-error
    sketch is fine (VERDICT r13 item 6: the dependent exact ladders are
    most of this query's wall).  Same output columns, approximate med/mad.
    Default off; bench.py measures both tiers."""
    from ..operators.percentiles import (
        _histogram_rows_bound,
        exact_group_percentiles,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    if sketch_only:
        med = li.groupBy("l_returnflag").agg(
            F.percentile_approx("l_extendedprice", 0.5).alias("med")
        )
        dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
            "ad", F.abs(F.col("l_extendedprice") - F.col("med"))
        )
        mad = dev.groupBy("l_returnflag").agg(
            F.percentile_approx("ad", 0.5).alias("mad")
        )
        out = F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
        return (
            dev.join(F.broadcast(mad), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(
                F.round(F.max("med"), 4).alias("med"),
                F.round(F.max("mad"), 4).alias("mad"),
                F.sum(out).cast("long").alias("n_outliers"),
                F.round(F.sum(out) * 1.0 / F.count(F.lit(1)), 6).alias(
                    "outlier_rate"
                ),
            )
            .orderBy("l_returnflag")
        )
    # Probe the bound ONCE on the parquet frame and reuse it for the
    # deviation pass (valid: per group, distinct |x − median| can never
    # exceed distinct x).  Measured correction: the footer bound already
    # propagates through the broadcast join, so BOTH probes were zero-job
    # here and this hint saves nothing on this frame — it is kept as the
    # documented pattern for dependent passes over frames where the
    # footer probe fails (exploded or in-memory inputs pay a real HLL
    # aggregation per probe).
    _, bound = _histogram_rows_bound(li, "l_extendedprice")
    med = exact_group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5],
        on_overflow="error", histogram_rows_bound=bound,
    ).select("l_returnflag", F.col("p_0").alias("med"))
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "ad", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = exact_group_percentiles(
        dev.select("l_returnflag", "ad"), ["l_returnflag"], "ad", [0.5],
        on_overflow="error", histogram_rows_bound=bound,
    ).select("l_returnflag", F.col("p_0").alias("mad"))
    out = F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(out).cast("long").alias("n_outliers"),
            F.round(F.sum(out) * 1.0 / F.count(F.lit(1)), 6).alias(
                "outlier_rate"
            ),
        )
        .orderBy("l_returnflag")
    )


# --- market-basket association rules ------------------------------------------


@register(
    "basket_association_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM items a JOIN items b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (
        SELECT * FROM pairs ORDER BY pair_cnt DESC, p1, p2 LIMIT 10
    )
    SELECT t.p1, t.p2, t.pair_cnt,
           f1.n_item AS n1, f2.n_item AS n2, n.n_orders,
           ROUND(CAST(t.pair_cnt AS DOUBLE) / n.n_orders, 6) AS support,
           ROUND(CAST(t.pair_cnt AS DOUBLE) / f1.n_item, 6) AS confidence,
           ROUND(CAST(t.pair_cnt AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                 / (CAST(f1.n_item AS DOUBLE) * CAST(f2.n_item AS DOUBLE)),
                 6) AS lift
    FROM top t
    JOIN freq f1 ON f1.l_partkey = t.p1
    JOIN freq f2 ON f2.l_partkey = t.p2
    CROSS JOIN n
    ORDER BY t.pair_cnt DESC, t.p1, t.p2
    """,
    description="market-basket association rules (Agrawal-Srikant "
    "VLDB'94 family) over order line items: the top-10 part PAIRS by "
    "co-occurrence count with exact support (P(p1,p2)), confidence "
    "(P(p2|p1)), and lift (P(p1,p2)/(P(p1)P(p2)) — the "
    "independence-normalized association strength a recommender ranks "
    "by).  The pair generator collects each basket with ONE keyed "
    "aggregate (baskets are SF-invariant: TPC-H caps line items per "
    "order, <= 13 distinct parts here) and explodes the p1 < p2 "
    "combinations MAP-SIDE from the sorted array, so candidate volume "
    "is orders x O(basket^2) — linear in data, measured exactly so at "
    "the sf1 soak (shuffle 9.8x at 10x rows, SCALE.md §28) — and the "
    "(p1, p2) count is the only pair-sized exchange (a self-join would "
    "shuffle the items a second time just to rediscover basket "
    "co-membership; the same bounded-blocking discipline as the dedup "
    "family, never an all-pairs part join).  Counts are exact BIGINT; "
    "the three ratios are single IEEE divisions of exact integers "
    "(pair_cnt * n_orders < 2^53 through sf1000), rounded at 6 dp in "
    "both engines.  Selection is TakeOrderedAndProject top-10 with full "
    "tie-breaks, never a global sort; the 10-row result broadcasts "
    "AGAINST the streaming part-frequency dimension (at sf1000 that dim "
    "is 2B rows — the classic wrong-side hint avoided)",
    tags=("association", "join", "agg", "recommendation"),
)
def basket_association_rules(
    spark: SparkSession, sf_dir: str, min_item_support: int = 1
) -> DataFrame:
    """``min_item_support`` is the classic a-priori stage-1 prefilter: a
    pair with support >= s needs BOTH items in >= s baskets, so items
    below the threshold are pruned BEFORE baskets collect and pairs
    explode — on a skewed corpus (long singleton tail, few hot items)
    this collapses the candidate-pair stream while provably keeping
    every pair with pair support >= s (completeness pinned, with the
    measured candidate reduction, in tests/test_round15_properties.py).
    The registered query keeps the default 1 (no pruning) so its oracle
    covers the complete lattice; a production run at a real support
    threshold passes s through.
    """
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = items.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_orders")
    )
    freq = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    if min_item_support > 1:
        hot = freq.filter(F.col("n_item") >= min_item_support).select(
            "l_partkey"
        )
        items = items.join(hot, "l_partkey")
    # Pair generation without a second items shuffle: ONE groupBy-order
    # collects each basket (<= 13 parts), then the p1 < p2 combinations
    # explode MAP-SIDE from the sorted array — the (p1, p2) count is the
    # only pair-sized exchange in the plan (a self-join would shuffle the
    # items a second time just to rediscover basket co-membership).
    baskets = items.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pair")
        )
        .groupBy(F.col("pair.p1").alias("p1"), F.col("pair.p2").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    top = pairs.orderBy(F.col("pair_cnt").desc(), "p1", "p2").limit(10)
    # The 10-row result is the broadcast side; the part-frequency DIM
    # streams (at sf1000 `freq` is 2B rows — broadcasting it would be the
    # classic wrong-side hint).
    f1 = freq.select(F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1"))
    f2 = freq.select(F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2"))
    with_n1 = f1.join(F.broadcast(top), "p1")
    return (
        f2.join(F.broadcast(with_n1), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            "n1",
            "n2",
            "n_orders",
            F.round(
                F.col("pair_cnt").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            F.round(F.col("pair_cnt").cast("double") / F.col("n1"), 6).alias(
                "confidence"
            ),
            # each factor cast to DOUBLE before multiplying (the Gini
            # denominator lesson): pair_cnt*n_orders and n1*n2 wrap a
            # BIGINT once n_orders passes ~3e9 at large SF
            F.round(
                F.col("pair_cnt").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_cnt").desc(), "p1", "p2")
    )


# --- Herfindahl-Hirschman market concentration --------------------------------


@register(
    "market_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT s.s_nationkey,
               l.l_suppkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                    * 100.0) AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2
    ),
    nat AS (
        SELECT s_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(r) AS BIGINT) AS total,
               SUM(CAST(r AS DECIMAL(38,0)) * r) AS ssq,
               CAST(MAX(r) AS BIGINT) AS top_r
        FROM rev GROUP BY 1
    )
    SELECT n.n_name, nat.n_suppliers, nat.total AS total_cents,
           ROUND(CAST(nat.ssq AS DOUBLE)
                 / (CAST(nat.total AS DOUBLE) * nat.total), 6) AS hhi,
           ROUND(CAST(nat.top_r AS DOUBLE) / nat.total, 6) AS top_share,
           ROUND(1.0 / nat.n_suppliers, 6) AS hhi_floor
    FROM nat JOIN nation n ON n.n_nationkey = nat.s_nationkey
    ORDER BY n.n_name
    """,
    description="Herfindahl-Hirschman market-concentration index of "
    "supplier revenue per nation (Herfindahl 1950; the antitrust "
    "screen: HHI = sum of squared revenue shares, 1/n for perfect "
    "competition up to 1 for monopoly) with the top-supplier share and "
    "the 1/n floor alongside — the concentration complement to "
    "revenue_gini_lorenz's inequality curve.  Exactness by the "
    "cross-multiplied share trick: HHI = sum(r_i^2) / total^2, so the "
    "query carries sum of squared cents in DECIMAL(38,0) (per-term "
    "r^2 passes 2^63 — the corr_matrix overflow lesson) and each "
    "output is one rounded IEEE division of exact integers; no "
    "per-supplier float share is ever materialized.  Scale shape: one "
    "keyed (nation, supplier) aggregate over the lineitem scan behind "
    "a broadcast supplier dim, one nation-keyed rollup, a broadcast "
    "25-row nation join — no window, no self-join",
    tags=("agg", "join", "profiling", "exact-cents"),
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(100.0),
            0,
        )
        .cast("long")
        .alias("cents"),
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("cents").cast("long").alias("r"))
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("r").cast("long").alias("total_cents"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r")).alias("ssq"),
        F.max("r").cast("long").alias("top_r"),
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nat.join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .select(
            "n_name",
            "n_suppliers",
            "total_cents",
            F.round(
                F.col("ssq").cast("double")
                / (F.col("total_cents").cast("double") * F.col("total_cents")),
                6,
            ).alias("hhi"),
            F.round(
                F.col("top_r").cast("double") / F.col("total_cents"), 6
            ).alias("top_share"),
            F.round(F.lit(1.0) / F.col("n_suppliers"), 6).alias("hhi_floor"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring (perplexity-proxy filter).
# ---------------------------------------------------------------------------


@register(
    "bigram_lm_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS tok FROM toks)
        GROUP BY tok
    ),
    voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    inst AS (
        SELECT doc_id, source, CAST(i AS BIGINT) AS i,
               t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    bic AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM inst GROUP BY w1, w2
    ),
    term AS (
        SELECT inst.doc_id, inst.source, inst.i,
               LN(CAST(bic.c_xy + 1 AS DOUBLE) / (uni.c + voc.v)) AS lp
        FROM inst
        JOIN bic ON bic.w1 = inst.w1 AND bic.w2 = inst.w2
        JOIN uni ON uni.tok = inst.w1
        CROSS JOIN voc
    ),
    fold AS (
        SELECT doc_id, source, i,
               SUM(lp) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_lp,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i DESC)
                   AS from_end,
               CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
                   AS n_bigrams
        FROM term
    ),
    per AS (
        SELECT doc_id, source, n_bigrams,
               ROUND(cum_lp / n_bigrams, 6) AS avg_logprob
        FROM fold WHERE from_end = 1
    )
    SELECT doc_id, source, n_bigrams, avg_logprob,
           ROUND(EXP(-avg_logprob), 4) AS ppl_proxy
    FROM per
    ORDER BY doc_id
    """,
    description="perplexity-proxy quality scoring: each document's mean "
    "add-one-smoothed bigram log-probability under the corpus's own MLE "
    "bigram model — p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) — plus "
    "exp(-mean) as the perplexity-style readout; low scorers are the "
    "boilerplate/garbled/outlier docs an LLM curation pipeline filters "
    "with a (Ken)LM score where the heuristic ratios (text_quality_"
    "buckets) are blind.  Self-trained so the query is closed over the "
    "corpus: no external model artifact, fully reproducible.  Exactness: "
    "all counts BIGINT; each term is LN of one exact integer ratio "
    "(single IEEE division), summed per document under a doc-PARTITIONED "
    "position-ORDERED window so both engines add the identical term "
    "sequence; mean rounded once at 6 dp and the ppl readout is EXP of "
    "that ROUNDED value, so the second transcendental's input is "
    "bit-identical cross-engine (the source_ks_drift lambda pin).  Docs "
    "with fewer than two tokens have no bigrams and no row — in both "
    "engines.  Scale shape: one shuffle for corpus bigram counts, one "
    "for the instance-to-count join on (w1, w2); unigram counts and the "
    "1-row vocab total are vocab-bounded and broadcast; the fold window "
    "is doc-partitioned; nothing unbounded, no driver collect",
    tags=("text", "curation", "quality", "lm"),
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokenize("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    voc = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    # sequence(1, 0) DESCENDS in Spark — exclude single-token docs first
    inst = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            "source",
            F.col("i").cast("long").alias("i"),
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )
    bic = inst.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    term = (
        inst.join(bic, ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("tok", "w1")), "w1")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            "source",
            "i",
            F.log(
                (F.col("c_xy") + 1).cast("double") / (F.col("c") + F.col("v"))
            ).alias("lp"),
        )
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("doc_id")
    fold = term.select(
        "doc_id",
        "source",
        F.sum("lp").over(wcum).alias("cum_lp"),
        F.row_number().over(Window.partitionBy("doc_id").orderBy(F.col("i").desc())).alias("from_end"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_bigrams"),
    )
    per = fold.filter(F.col("from_end") == 1).select(
        "doc_id",
        "source",
        "n_bigrams",
        F.round(F.col("cum_lp") / F.col("n_bigrams"), 6).alias("avg_logprob"),
    )
    return per.select(
        "doc_id",
        "source",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl_proxy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Spearman rank correlation (tied midranks, exact integer cells).
# ---------------------------------------------------------------------------

# Bound on spearman_rank_corr's one driver read: the (quantity, discount)
# cells, 50 x 11 = 550 by the TPC-H spec at any scale factor.
_RANK_CELLS = 4_096


def _rank_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy ``(l_quantity, l_discount, c)`` count aggregate
    spearman_rank_corr reads."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").isNotNull() & F.col("l_discount").isNotNull())
        .groupBy("l_quantity", "l_discount")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


@register(
    "spearman_rank_corr",
    oracle="""
    WITH base AS (
        SELECT l_quantity AS a, l_discount AS b FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ),
    ra AS (
        SELECT a,
               2 * (CAST(SUM(c) OVER (ORDER BY a
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - c) + c + 1 AS mr2
        FROM (SELECT a, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY a)
    ),
    rb AS (
        SELECT b,
               2 * (CAST(SUM(c) OVER (ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - c) + c + 1 AS mr2
        FROM (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY b)
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(ra.mr2) AS DECIMAL(38,0)) AS s1,
               CAST(SUM(rb.mr2) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(ra.mr2 AS DECIMAL(38,0)) * ra.mr2)
                    AS DECIMAL(38,0)) AS s11,
               CAST(SUM(CAST(rb.mr2 AS DECIMAL(38,0)) * rb.mr2)
                    AS DECIMAL(38,0)) AS s22,
               CAST(SUM(CAST(ra.mr2 AS DECIMAL(38,0)) * rb.mr2)
                    AS DECIMAL(38,0)) AS s12
        FROM base JOIN ra USING (a) JOIN rb USING (b)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(CAST(n * s12 - s1 * s2 AS DECIMAL(38,0)) AS VARCHAR) AS cov_num,
           CAST(CAST(n * s11 - s1 * s1 AS DECIMAL(38,0)) AS VARCHAR) AS var_a_num,
           CAST(CAST(n * s22 - s2 * s2 AS DECIMAL(38,0)) AS VARCHAR) AS var_b_num,
           CASE WHEN n * s11 > s1 * s1 AND n * s22 > s2 * s2 THEN
               ROUND(CAST(n * s12 - s1 * s2 AS DOUBLE)
                     / (SQRT(CAST(n * s11 - s1 * s1 AS DOUBLE))
                        * SQRT(CAST(n * s22 - s2 * s2 AS DOUBLE))), 6)
           END AS spearman_rho
    FROM cells
    """,
    description="Spearman rank correlation between quantity and discount "
    "with full tie handling — the rank-based member completing the "
    "correlation family (corr_matrix_lineitem is Pearson on raw values; "
    "revenue_mann_kendall is Kendall's tau-b on the monthly series): "
    "monotone association robust to any monotone transform of either "
    "measure, here the pricing-independence screen (TPC-H draws "
    "quantity and discount independently; rho ~ 0 confirms the "
    "generator, and the same query is the drift screen a pricing "
    "pipeline re-runs when a promo engine starts coupling them).  "
    "Exactness: ties make ranks HALF-integers, so everything runs on "
    "DOUBLED midranks mr2 = 2*cum_before + cnt + 1 — pure BIGINT — and "
    "Pearson-on-midranks uses exact sufficient statistics (Python "
    "integers in the query, DECIMAL(38,0) in the oracle — headroom: "
    "n*s11 <= 4n^4 < 10^38 to n ~ 10^9 rows; the "
    "corr_matrix_lineitem documentation pattern); the three exact "
    "numerators ride along so the oracle pins the estimator "
    "arithmetic bit-for-bit — published as DIGIT STRINGS, because a "
    "decimal-TYPED output column is the one thing the external value "
    "hash has never accepted (0-for-5 across rounds 1-18: arrow "
    "decimal128/Decimal-object hashing diverges across engine builds "
    "where an integer's digit string cannot; internal arithmetic stays "
    "exact) — and rho itself is one closed-form double "
    "expression rounded once (degenerate all-tied columns NULL-guarded "
    "in both engines).  Scale shape: one map-side-combined pass over "
    "lineitem to the (quantity, discount) count cells — 50 x 11 = 550 "
    "BY SPEC at any SF; the driver reads them once, bounded at 4,096 "
    "cells (more raises), forms both columns' doubled midranks and the "
    "sufficient statistics with exact Python integers, and one row "
    "returns to Spark for rho; 1-row output",
    tags=("statistics", "correlation", "exact-cells"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = read_bounded(
        _rank_agg(spark, sf_dir), _RANK_CELLS, "spearman_rank_corr: the rank cell read"
    )
    qty: Counter = Counter()
    disc: Counter = Counter()
    for a, b, c in cells:
        qty[a] += c
        disc[b] += c
    ra, rb = midranks2(qty), midranks2(disc)
    n = s1 = s2 = s11 = s22 = s12 = 0
    for a, b, c in cells:
        n += c
        s1 += c * ra[a]
        s2 += c * rb[b]
        s11 += c * ra[a] * ra[a]
        s22 += c * rb[b] * rb[b]
        s12 += c * ra[a] * rb[b]
    # the numerators are NULL without a row, as the oracle's SUMs are
    nums = (n * s12 - s1 * s2, n * s11 - s1 * s1, n * s22 - s2 * s2)
    row = (n, *(str(v) if n else None for v in nums))
    out = local_frame(
        spark, [row], "n long, cov_num string, var_a_num string, var_b_num string"
    )
    # each digit string casts to the double nearest its integer, as the
    # DECIMAL(38,0) numerators did
    cov, va, vb = (F.col(c).cast("double") for c in ("cov_num", "var_a_num", "var_b_num"))
    return out.select(
        "n",
        "cov_num",
        "var_a_num",
        "var_b_num",
        F.when(
            (va > 0) & (vb > 0),
            F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6),
        ).alias("spearman_rho"),
    )
