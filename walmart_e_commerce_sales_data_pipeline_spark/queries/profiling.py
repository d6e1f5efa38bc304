"""Dataset profiling: per-column statistics in one scan.

A training-data pipeline's first question about a new 100 TB corpus is
"what's in it" — null rates, cardinalities, value ranges per column.  The
profile is a single full-scan aggregation (every stat is an algebraic
aggregate, so map-side partials apply and the shuffle carries one row per
partition), then `stack` unpivots the 1×N wide row into the long
(column, stats) form.  No per-column scans: 5 columns, one job.

Numeric min/max are computed numerically *then* cast to string (lexical
min of "10" vs "9" would diverge between engines and surprise users).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.splits import PORTABLE_BUCKETS, portable_bucket_sql
from .registry import register
from .tables import table

_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

_ORACLE_ARMS = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_s,
           CAST(MAX({c}) AS VARCHAR) AS max_s
    FROM documents
    """
    for c in _COLS
)


@register(
    "profile_documents",
    oracle=f"SELECT * FROM ({_ORACLE_ARMS}) ORDER BY column_name",
    description="single-scan per-column profile of the documents table "
    "(null count, exact cardinality, min/max) unpivoted via stack; every "
    "stat is algebraic so the scan aggregates map-side and the shuffle is "
    "one partial row per partition per distinct-sketch key",
    tags=("profiling", "quality"),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    aggs = []
    for c in _COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    arms = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in _COLS
    )
    return wide.selectExpr(
        f"stack({len(_COLS)}, {arms}) AS "
        "(column_name, n_nulls, n_distinct, min_s, max_s)"
    ).orderBy("column_name")


_RATES = {"en": 0.5}  # per-stratum sampling rates; default below
_DEFAULT_RATE = 0.25


def _threshold_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {int(v * PORTABLE_BUCKETS)}" for k, v in _RATES.items()
    )
    return f"CASE {whens} ELSE {int(_DEFAULT_RATE * PORTABLE_BUCKETS)} END"


@register(
    "stratified_sample_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN {portable_bucket_sql("doc_id", "VARCHAR")}
                         < {_threshold_case_sql()} THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
           CAST(SUM(CASE WHEN {portable_bucket_sql("doc_id", "VARCHAR")}
                         < {_threshold_case_sql()} THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    description="deterministic per-stratum sampling (50% of en docs, 25% "
    "elsewhere) via an engine-portable md5 bucket "
    "(operators.splits.portable_bucket_sql): membership is a pure function "
    "of doc_id, reproducible bit-for-bit by the DuckDB oracle — the "
    "auditable-sampling property a training pipeline needs; no shuffle "
    "beyond the final per-lang aggregation",
    tags=("sampling", "splits"),
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = F.expr(portable_bucket_sql("doc_id", "STRING"))
    thresh = F.expr(_threshold_case_sql())
    sampled = F.when(bucket < thresh, 1).otherwise(0)
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum(sampled).alias("sampled_docs"),
            F.sum(
                F.when(bucket < thresh, F.col("n_chars")).otherwise(F.lit(0))
            ).alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@register(
    "mixture_sampling_plan",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    )
    SELECT source, docs, tokens,
           docs / CAST(SUM(docs) OVER () AS BIGINT) AS natural_share,
           CAST(SUM(docs) OVER () AS BIGINT)
               / (COUNT(*) OVER () * docs) AS sampling_factor,
           tokens * (CAST(SUM(docs) OVER () AS BIGINT)
               / (COUNT(*) OVER () * docs)) AS expected_tokens
    FROM per_src ORDER BY source
    """,
    description="domain-mixture sampling plan: per-source doc/token "
    "accounting plus the per-source sampling factor that rebalances the "
    "corpus to a uniform source mixture (the static form of data-mixing "
    "weight computation an LLM pipeline runs before sampling; swap the "
    "uniform target for learned weights at no plan change).  One shuffle "
    "on source; the share/factor window runs over the 20-row aggregate, "
    "not the corpus.  All shares/factors derive from exact integer "
    "counts through identical IEEE division in both engines — bit-stable "
    "without rounding",
    tags=("profiling", "sampling", "mixture"),
)
def mixture_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import token_count

    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(token_count("text")).alias("tokens"),
    )
    w = Window.partitionBy()
    tot = F.sum("docs").over(w)
    n_src = F.count("*").over(w)
    factor = tot / (n_src * F.col("docs"))
    return per_src.select(
        "source",
        "docs",
        "tokens",
        (F.col("docs") / tot).alias("natural_share"),
        factor.alias("sampling_factor"),
        (F.col("tokens") * factor).alias("expected_tokens"),
    ).orderBy("source")


# 80/10/10 of the 65,536-bucket space as exact integers — both engines
# compare the same md5-derived int against the same literals.
_TRAIN_HI = 52_429
_VAL_HI = 58_982


def _split_case_sql() -> str:
    b = portable_bucket_sql("doc_id", "VARCHAR")
    return (
        f"CASE WHEN {b} < {_TRAIN_HI} THEN 'train' "
        f"WHEN {b} < {_VAL_HI} THEN 'val' ELSE 'test' END"
    )


@register(
    "train_val_test_split",
    oracle=f"""
    SELECT {_split_case_sql()} AS split,
           source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split, source
    ORDER BY split, source
    """,
    description="deterministic 80/10/10 train/val/test assignment from the "
    "engine-portable md5 bucket of doc_id (operators.splits) with per "
    "(split, source) accounting — membership is a pure function of the "
    "key, so it is stable across runs, partitioning, engines, and corpus "
    "growth (new docs never reshuffle old assignments, unlike "
    "randomSplit); integer bucket thresholds mean the split decision "
    "cannot tie; one map-side-combined aggregation, no other shuffle",
    tags=("sampling", "splits"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = F.expr(portable_bucket_sql("doc_id", "STRING"))
    split = (
        F.when(bucket < _TRAIN_HI, "train")
        .when(bucket < _VAL_HI, "val")
        .otherwise("test")
    )
    return (
        docs.groupBy(split.alias("split"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


@register(
    "embedding_dim_profile",
    oracle="""
    SELECT CAST(u.i AS INTEGER) AS dim,
           COUNT(*) AS n,
           MIN(CAST(u.v AS DOUBLE)) AS min_v,
           MAX(CAST(u.v AS DOUBLE)) AS max_v,
           CAST(SUM(CASE WHEN u.v < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           CAST(SUM(CASE WHEN u.v = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
    FROM (
        SELECT unnest(list_transform(range(0, len(embedding)),
                      i -> {'i': i, 'v': embedding[i + 1]})) AS u
        FROM embeddings
    )
    GROUP BY dim
    ORDER BY dim
    """,
    description="per-dimension embedding profile (min/max/negative/zero "
    "counts) — the dead-dimension / range sanity check an ANN pipeline "
    "runs before building an index or choosing quantization scales; "
    "posexplode to (dim, value) then one map-side-combined aggregation "
    "keyed on the tiny dim domain; min/max are comparisons (no float "
    "arithmetic to diverge) and the counts are exact integers, so no "
    "mean/stddev order-dependence enters the result",
    tags=("similarity", "profiling"),
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("v").cast("double")).alias("min_v"),
            F.max(F.col("v").cast("double")).alias("max_v"),
            F.sum(F.when(F.col("v") < 0, 1).otherwise(0)).alias("n_negative"),
            F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_zero"),
        )
        .orderBy("dim")
    )


def _aes_hash_sql() -> str:
    from ..operators.splits import portable_hex_value_sql

    return portable_hex_value_sql("doc_id", 12, "VARCHAR")


@register(
    "weighted_sample_aes",
    oracle=f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ln(CAST(({_aes_hash_sql()}) + 1 AS DOUBLE)
                  / 281474976710656.0) / n_chars AS aes_key
        FROM documents
    ),
    r AS (
        SELECT source, doc_id, n_chars, aes_key,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY aes_key DESC, doc_id
               ) AS rk
        FROM keyed
    )
    SELECT source, CAST(rk AS INT) AS rk, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(aes_key * CAST(1000000 AS DOUBLE), 6) AS aes_key_ppm
    FROM r WHERE rk <= 3
    ORDER BY source, rk
    """,
    description="weight-proportional document sample without replacement "
    "(Efraimidis-Spirakis A-ES, operators.splits.aes_key_column): top-3 "
    "docs per source by ln(u)/w with u from the portable 48-bit md5 hash "
    "of doc_id and w = n_chars — P(rank 1 = i) = w_i/SUM(w) exactly, the "
    "length/quality-proportional sampling a mixture plan executes.  "
    "Deterministic (no RNG): the same doc wins on every engine, run, and "
    "partitioning, which is what makes a sampling operator oracle-"
    "checkable bit-for-bit AND what a reproducible data pipeline wants.  "
    "Scale shape: the key is a pure map-side codegen expression; the "
    "per-source top-3 plans as WindowGroupLimit (per-partition group "
    "limits, plan-asserted in tests/test_splits.py), never a full "
    "per-group sort; selection-probability ∝ weight verified "
    "statistically over 300 salted resamples in the same test file",
    tags=("sampling", "curation", "portable", "window"),
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.splits import aes_key_column

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    keyed = docs.withColumn(
        "aes_key", aes_key_column("doc_id", F.col("n_chars"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("aes_key").desc(), "doc_id"
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "source",
            "rk",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(F.col("aes_key") * F.lit(1000000.0), 6).alias(
                "aes_key_ppm"
            ),
        )
        .orderBy("source", "rk")
    )


# --- pairwise Pearson correlation matrix ------------------------------------

_CORR_COLS = ("qty", "price", "disc", "tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _corr_matrix_oracle() -> str:
    # Squared/cross sums ride DECIMAL(38,0): SUM(price_cents^2) passes
    # 2^63 already at ~6e5 rows (price_cents^2 ~ 1e14/row), so BIGINT
    # accumulators overflow at sf0.1 — caught by the sf1 soak under ANSI
    # mode.  Per-row products stay < 2^63 (safe BIGINT multiply); only
    # the accumulator widens.  Both engines sum the same exact integers
    # in DECIMAL(38,0) and convert to double once, deterministically.
    sums = ",\n               ".join(
        f"CAST(SUM({c}) AS BIGINT) AS s_{c},\n               "
        f"SUM(CAST({c} * {c} AS DECIMAL(38,0))) AS ss_{c}"
        for c in _CORR_COLS
    )
    prods = ",\n               ".join(
        f"SUM(CAST({x} * {y} AS DECIMAL(38,0))) AS sp_{x}_{y}"
        for x, y in _CORR_PAIRS
    )
    branches = ",\n".join(
        f"        ('{x}', '{y}',\n"
        f"         (CAST(n AS DOUBLE) * CAST(sp_{x}_{y} AS DOUBLE)\n"
        f"          - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))\n"
        f"         / sqrt((CAST(n AS DOUBLE) * CAST(ss_{x} AS DOUBLE)\n"
        f"                 - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))\n"
        f"                * (CAST(n AS DOUBLE) * CAST(ss_{y} AS DOUBLE)\n"
        f"                   - CAST(s_{y} AS DOUBLE)"
        f" * CAST(s_{y} AS DOUBLE))))"
        for x, y in _CORR_PAIRS
    )
    return f"""
    WITH src AS (
        SELECT CAST(ROUND(l_quantity * 100.0) AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price,
               CAST(ROUND(l_discount * 100.0) AS BIGINT) AS disc,
               CAST(ROUND(l_tax * 100.0) AS BIGINT) AS tax
        FROM lineitem
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sums},
               {prods}
        FROM src
    ),
    pairs AS (
        SELECT t.col_x, t.col_y, stats.n, t.r
        FROM stats, (VALUES
{branches}
        ) AS t(col_x, col_y, r)
    )
    SELECT col_x, col_y, n, ROUND(r, 6) AS r
    FROM pairs
    ORDER BY col_x, col_y
    """


@register(
    "corr_matrix_lineitem",
    oracle=_corr_matrix_oracle(),
    description="pairwise Pearson correlation matrix over lineitem's four "
    "numeric measures (quantity, extendedprice, discount, tax) from ONE "
    "pass of exact-integer sufficient statistics: every input is scaled "
    "to exact cents/hundredths, so n, the four sums, four sums of "
    "squares, and six cross-products are all exact BIGINTs out of a "
    "single map-side-combining aggregate; each r then assembles in "
    "mirrored term-by-term double arithmetic (deterministic IEEE on "
    "identical integers).  The data-profiling primitive a feature-"
    "engineering pass runs before trusting a column pair.  Scale shape: "
    "one hash-aggregate pass over the fact table producing a 1-row "
    "frame (15 BIGINT cells) however many rows feed it; the 6-row "
    "matrix assembles from that single row (stack/VALUES, no second "
    "scan).  overflow posture: per-row products are safe BIGINT "
    "(< 2^63), but their SUMS ride DECIMAL(38,0) — SUM(price_cents^2) "
    "passes 2^63 at ~6e5 rows, i.e. already at sf0.1 (caught by the "
    "sf1 soak under ANSI mode) — giving exact integer accumulation to "
    "10^38 (~sf10^12) with one deterministic decimal->double "
    "conversion at readout",
    tags=("statistics", "agg", "profiling"),
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * F.lit(100.0), 0)
        .cast("long")
        .alias("qty"),
        F.round(F.col("l_extendedprice") * F.lit(100.0), 0)
        .cast("long")
        .alias("price"),
        F.round(F.col("l_discount") * F.lit(100.0), 0)
        .cast("long")
        .alias("disc"),
        F.round(F.col("l_tax") * F.lit(100.0), 0).cast("long").alias("tax"),
    )
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(c).cast("long").alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast(dec)).alias(f"ss_{c}")
        )
    for x, y in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(x) * F.col(y)).cast(dec)).alias(f"sp_{x}_{y}")
        )
    stats = li.agg(*aggs)
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    rows = []
    for x, y in _CORR_PAIRS:
        num = d("n") * d(f"sp_{x}_{y}") - d(f"s_{x}") * d(f"s_{y}")
        den = F.sqrt(
            (d("n") * d(f"ss_{x}") - d(f"s_{x}") * d(f"s_{x}"))
            * (d("n") * d(f"ss_{y}") - d(f"s_{y}") * d(f"s_{y}"))
        )
        rows.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.try_divide(num, den).alias("r"),
            )
        )
    return (
        stats.select(
            "n", F.explode(F.array(*rows)).alias("p")
        )
        .select(
            F.col("p.col_x").alias("col_x"),
            F.col("p.col_y").alias("col_y"),
            "n",
            F.round(F.col("p.r"), 6).alias("r"),
        )
        .orderBy("col_x", "col_y")
    )


# --- priority sampling: the subset-sum estimator ------------------------------

# k = 64 sampled orders; 8 hex chars = 32 hash bits, so the exact-rational
# tie compare w_i * (h_j + 1) vs w_j * (h_i + 1) stays inside BIGINT
# (w < 2^26 cents, h + 1 <= 2^32 -> products < 2^58) — though the engines
# never need it: the double priority below is bit-identical on both sides.
_PRI_K = 64
_PRI_HASH_SCALE = float(1 << 32)


def _priority_sample_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql

    h = portable_hex_value_sql("o_orderkey", 8, "VARCHAR")
    return f"""
    WITH keyed AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS w_cents,
               CAST(w_cents AS DOUBLE) * {_PRI_HASH_SCALE!r}
                   / (({h}) + 1) AS pri
        FROM orders
    ),
    top AS (
        SELECT * FROM keyed
        ORDER BY pri DESC, o_orderkey LIMIT {_PRI_K + 1}
    ),
    tau AS (
        SELECT CASE WHEN COUNT(*) = {_PRI_K + 1} THEN MIN(pri)
               ELSE 0.0 END AS t
        FROM top
    ),
    samp AS (
        SELECT * FROM top ORDER BY pri DESC, o_orderkey LIMIT {_PRI_K}
    ),
    ht AS (
        SELECT s.o_orderkey, s.w_cents,
               CAST(ROUND(GREATEST(CAST(s.w_cents AS DOUBLE), tau.t))
                    AS BIGINT) AS ht_cents,
               ROUND(tau.t, 4) AS tau_r
        FROM samp s, tau
    ),
    est AS (SELECT CAST(SUM(ht_cents) AS BIGINT) AS est_total_cents FROM ht),
    ex AS (
        SELECT CAST(SUM(w_cents) AS BIGINT) AS exact_total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM keyed
    )
    SELECT ht.o_orderkey, ht.w_cents, ht.ht_cents, ht.tau_r,
           ex.n_orders, est.est_total_cents, ex.exact_total_cents,
           ROUND(CAST(est.est_total_cents - ex.exact_total_cents AS DOUBLE)
                 / ex.exact_total_cents, 4) AS rel_err
    FROM ht, est, ex
    ORDER BY o_orderkey
    """


@register(
    "priority_sample_subsetsum",
    oracle=_priority_sample_oracle(),
    description="priority sampling (Duffield-Lund-Thorup, JACM'07): a "
    "weight-sensitive k=64 sample of orders that carries an UNBIASED "
    "subset-sum estimator — priority q_i = w_i / u_i with u_i the "
    "portable 32-bit md5 uniform, keep the top k, and Horvitz-Thompson "
    "weight each kept item at max(w_i, tau) where tau is the (k+1)-th "
    "priority; E[sum] equals the true total EXACTLY (DLT Thm 1), and "
    "the variance is within a factor 1 + 1/(k-1) of the optimal "
    "k-sample scheme.  The planner primitive behind 'estimate "
    "SUM(revenue) over any predicate from a fixed tiny sample': filter "
    "the 64 retained rows, sum their ht_cents — no rescan.  "
    "Deterministic and engine-portable like weighted_sample_aes (same "
    "doc: no RNG state): the priority is ONE exact double multiply by "
    "2^32 (w < 2^26 cents, so w * 2^32 is exactly representable) and "
    "ONE correctly-rounded IEEE division, identical bits in any engine, "
    "so the SAMPLE ITSELF and the estimator are oracle-checked row for "
    "row; HT weights round to integer cents before the BIGINT total so "
    "the estimate compares exactly.  Scale shape: the priority is a "
    "map-side codegen expression; selection is ONE TakeOrderedAndProject "
    "(per-partition top-65 then a 65-row merge — never a global sort) "
    "and that single subtree feeds rank, tau, the HT reweigh, and the "
    "estimate as bounded windows over the materialized 65-row frame, so "
    "orders is hash-scanned exactly once (Catalyst prunes the hash from "
    "the exact branch, whose map-side-combined SUM is the one other "
    "scan)",
    tags=("sampling", "sketch", "portable", "estimator"),
)
def priority_sample_subsetsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_hex_value_sql

    h = portable_hex_value_sql("o_orderkey", 8, "STRING")
    keyed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * F.lit(100.0), 0)
        .cast("long")
        .alias("w_cents"),
    ).withColumn(
        "pri",
        F.col("w_cents").cast("double")
        * F.lit(_PRI_HASH_SCALE)
        / (F.expr(h) + F.lit(1)),
    )
    from pyspark.sql import Window

    # ONE TakeOrderedAndProject subtree feeds everything downstream: rank,
    # tau, the HT reweigh, and the estimate are windows/filters over the
    # materialized 65-row frame (all whole-frame windows here are bounded
    # by the limit above them), so orders is hash-scanned exactly once —
    # a second plain scan computes the exact total the oracle needs.
    top = keyed.orderBy(F.col("pri").desc(), "o_orderkey").limit(_PRI_K + 1)
    frame = Window.orderBy(F.col("pri").desc(), "o_orderkey")
    whole = Window.orderBy(F.col("pri").desc(), "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        top.withColumn("rk", F.row_number().over(frame))
        .withColumn(
            "t",
            F.coalesce(
                F.max(F.when(F.col("rk") == _PRI_K + 1, F.col("pri"))).over(
                    whole
                ),
                F.lit(0.0),
            ),
        )
        .filter(F.col("rk") <= _PRI_K)
    )
    ht = ranked.select(
        "o_orderkey",
        "w_cents",
        F.round(F.greatest(F.col("w_cents").cast("double"), F.col("t")), 0)
        .cast("long")
        .alias("ht_cents"),
        F.round(F.col("t"), 4).alias("tau_r"),
    ).withColumn(
        "est_total_cents",
        F.sum("ht_cents")
        .over(
            Window.orderBy("o_orderkey").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long"),
    )
    ex = keyed.agg(
        F.sum("w_cents").cast("long").alias("exact_total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        ht.crossJoin(F.broadcast(ex))
        .select(
            "o_orderkey",
            "w_cents",
            "ht_cents",
            "tau_r",
            "n_orders",
            "est_total_cents",
            "exact_total_cents",
            F.round(
                (F.col("est_total_cents") - F.col("exact_total_cents")).cast(
                    "double"
                )
                / F.col("exact_total_cents"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("o_orderkey")
    )
