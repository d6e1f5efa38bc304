"""Deduplication queries over the ``documents`` table (extension surface,
SURVEY.md §2.11): exact, exact n-gram Jaccard, MinHash-LSH (verified), and
SimHash (no SQL equivalent → rows-only driver check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    contamination_overlap,
    exact_dedup,
    jaccard_pairs_from_docs,
    minhash_dedup_pairs,
    normalize_text,
    portable_token_bit_sql,
    simhash_pairs,
    simhash_signatures,
)
from .registry import register
from .tables import table

JACCARD_THRESHOLD = 0.5

# Shared oracle CTE: distinct 3-word shingles per document, mirroring
# functions.text.word_shingles (split on single space, 1-based windows).
_SHINGLE_CTE = """
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id)
"""

_EXACT_JACCARD_SQL = f"""
    WITH {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT x, y, n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = x
    JOIN sizes sb ON sb.id = y
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ORDER BY x, y
"""


@register(
    "dedup_exact",
    oracle="""
    WITH norm AS (
        SELECT source,
               array_to_string(string_split(lower(text), ' '), ' ') AS norm_text
        FROM documents
    )
    SELECT source,
           COUNT(*) AS docs,
           COUNT(DISTINCT norm_text) AS distinct_docs,
           COUNT(*) - COUNT(DISTINCT norm_text) AS dup_docs
    FROM norm
    GROUP BY source
    ORDER BY source
    """,
    description="exact dedup accounting per source: hash group-by on the "
    "normalized text (operators.dedup.exact_dedup)",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        normalize_text(docs)
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.countDistinct("_norm").alias("distinct_docs"),
            (F.count("*") - F.countDistinct("_norm")).alias("dup_docs"),
        )
        .orderBy("source")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_EXACT_JACCARD_SQL,
    description="exact all-pairs 3-gram Jaccard near-dup pairs at J ≥ 0.5 "
    "via the shared-shingle self-join "
    "(operators.dedup.jaccard_pairs_from_docs, fused profile plan)",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD).orderBy("x", "y")


@register(
    "decontaminate_corpus",
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(lower(text), ' ') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id AS id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    corp AS (SELECT id, shingle FROM sh WHERE source <> 'src0')
    SELECT c.id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sh,
           CAST(COUNT(b.shingle) AS BIGINT) AS overlap,
           COUNT(b.shingle) / COUNT(*) AS overlap_frac
    FROM corp c LEFT JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.id
    ORDER BY doc_id
    """,
    description="benchmark decontamination (operators.dedup."
    "contamination_overlap): per-document count/fraction of distinct "
    "3-gram shingles colliding with an evaluation set (src0 as the "
    "held-out benchmark) — the GPT-3-style n-gram decontamination pass; "
    "benchmark shingles broadcast, corpus tagged map-side, one "
    "per-document aggregation",
    tags=("dedup", "decontamination"),
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return (
        contamination_overlap(corpus, bench)
        .select(
            F.col("id").alias("doc_id"), "n_sh", "overlap", "overlap_frac"
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_minhash_lsh",
    oracle=_EXACT_JACCARD_SQL,
    description="MinHash(32)+LSH(16 bands) candidate generation with exact "
    "Jaccard verification — must reproduce the exact-pairs oracle at "
    "J ≥ 0.5 (operators.dedup.minhash_dedup_pairs); miss probability at "
    "J=0.9 is ~5e-12 and the planted near-dups all sit above 0.9",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD).orderBy("x", "y")


# SimHash oracle: the portable md5-hex bit stream (identical term-by-term
# in Spark SQL and DuckDB) feeds 64 sign-of-sum aggregates per document;
# the Hamming distance of a pair is then the count of disagreeing signs —
# no 64-bit signature assembly needed on the oracle side, which sidesteps
# DuckDB's signed-shift-overflow at bit 63.
_SIMHASH_BIT_SUMS = ",\n               ".join(
    f"SUM(CASE WHEN {portable_token_bit_sql('hx', b, '//')} = 1 "
    f"THEN 1 ELSE -1 END) AS s{b}"
    for b in range(64)
)
_SIMHASH_HAMMING = " + ".join(
    f"CASE WHEN (a.s{b} >= 0) <> (b.s{b} >= 0) THEN 1 ELSE 0 END"
    for b in range(64)
)

_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    h AS (SELECT id, md5(tok) AS hx FROM toks),
    sums AS (
        SELECT id, {_SIMHASH_BIT_SUMS}
        FROM h GROUP BY id
    ),
    pairs AS (
        SELECT a.id AS x, b.id AS y, {_SIMHASH_HAMMING} AS hamming
        FROM sums a JOIN sums b ON a.id < b.id
    )
    SELECT x, y, CAST(hamming AS INTEGER) AS hamming
    FROM pairs WHERE hamming <= 3 ORDER BY x, y
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    description="SimHash(64-bit) near-dup pairs at Hamming ≤ 3 with 16-bit "
    "chunk blocking (operators.dedup.simhash_*), run in portable-hash mode "
    "(md5-hex token bits) so the oracle reproduces the exact signatures; "
    "the oracle computes Hamming as all-pairs disagreeing-sign counts — "
    "blocking completeness at max_hamming ≤ chunks-1 is therefore "
    "externally verified, not just unit-tested",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs, portable=True)
    return simhash_pairs(sigs, max_hamming=3).orderBy("x", "y")


_WINNOW_K, _WINNOW_W = 32, 16
_WINNOW_MINLEN = _WINNOW_K + _WINNOW_W - 1


def _winnow_oracle() -> str:
    from ..operators.splits import portable_hex_value_sql

    fold = portable_hex_value_sql(f"substr(text, p, {_WINNOW_K})", 12, "VARCHAR")
    K, W, MINLEN = _WINNOW_K, _WINNOW_W, _WINNOW_MINLEN
    return f"""
    WITH d AS (SELECT doc_id, text, n_chars FROM documents
               WHERE length(text) >= {MINLEN}),
    kg AS (
      SELECT doc_id, p, {fold} AS h
      FROM d, LATERAL (SELECT unnest(generate_series(1, length(text) - {K} + 1)) AS p) gs(p)
    ),
    wins AS (SELECT doc_id, unnest(generate_series(1, length(text) - {MINLEN} + 1)) AS w FROM d),
    sel AS (
      SELECT doc_id, p, h FROM (
        SELECT k.doc_id, wins.w, k.p, k.h,
               ROW_NUMBER() OVER (PARTITION BY k.doc_id, wins.w
                                  ORDER BY k.h ASC, k.p DESC) AS rn
        FROM kg k JOIN wins ON wins.doc_id = k.doc_id
                           AND k.p BETWEEN wins.w AND wins.w + {W - 1}
      ) WHERE rn = 1
    ),
    fp AS (SELECT DISTINCT doc_id, p, h FROM sel),
    shared AS (SELECT h FROM fp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    sfp AS (SELECT fp.* FROM fp JOIN shared USING (h)),
    isl AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                    OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + {K}
                  THEN 1 ELSE 0 END AS brk
      FROM sfp),
    isl2 AS (SELECT doc_id, p,
                    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                                   ROWS UNBOUNDED PRECEDING) AS isl
             FROM isl),
    spans AS (SELECT doc_id, isl, MIN(p) AS s, MAX(p) + {K} AS e, COUNT(*) AS nf
              FROM isl2 GROUP BY doc_id, isl),
    per_doc AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS covered_chars,
                       CAST(SUM(nf) AS BIGINT) AS n_shared
                FROM spans GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY doc_id)
    SELECT d.doc_id, tot.n_fp, per_doc.n_shared, per_doc.covered_chars,
           (10000 * per_doc.covered_chars) // d.n_chars AS coverage_bp
    FROM per_doc JOIN tot USING (doc_id) JOIN d USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "substring_dup_coverage",
    oracle=_winnow_oracle(),
    description="Exact-substring dedup via winnowing fingerprints "
    "(operators.dedup.winnow_fingerprints / substring_dup_coverage; "
    "Schleimer-Wilkerson-Aiken SIGMOD'03): per document, every 32-char "
    "gram is hashed with the engine-portable 48-bit md5 fold and each "
    "16-gram window keeps its rightmost-minimum hash — content-defined "
    "selection, so two documents sharing a verbatim passage pick the "
    "same fingerprints at ANY alignment (guarantee: every exact match "
    ">= 47 chars shares a fingerprint; density ~2/(w+1)).  Fingerprints "
    "held by >= 2 docs merge into per-doc islands (gaps-and-islands on a "
    "doc-partitioned window) giving covered chars + basis-point coverage "
    "via exact integer division.  This is the deduplicate-text-datasets "
    "exact-substring signal MinHash misses, as a streaming per-doc "
    "computation instead of a global suffix array: the gram stream "
    "never shuffles — selection runs map-side via the Arrow winnow "
    "kernel (one md5 per gram, numpy rightmost-argmin; a pure-plan "
    "nested-HOF twin is pinned row-identical in tests, 25x slower from "
    "no-CSE lambda md5 re-evaluation) — and only the winnowed ~12% "
    "lands in the two shuffles (hash, then doc id); no pairwise join "
    "forms, so boilerplate cannot go quadratic",
    tags=("dedup", "text", "substring", "winnowing", "portable"),
)
def substring_dup_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_dup_coverage

    docs = table(spark, sf_dir, "documents")
    return substring_dup_coverage(docs, k=_WINNOW_K, w=_WINNOW_W).orderBy("doc_id")


@register(
    "fuzzy_name_matches",
    oracle="""
    WITH names AS (
        SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY p_name
    ),
    keys AS (
        SELECT DISTINCT name,
               unnest([string_split(name, ' ')[1],
                       string_split(name, ' ')[-1]]) AS bk
        FROM names
    ),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM keys a JOIN keys b ON a.bk = b.bk AND a.name < b.name
    ),
    flt AS (
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        FROM cand
        WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 2
    )
    SELECT f.name_a, f.name_b, f.dist, na.n AS n_a, nb.n AS n_b
    FROM flt f
    JOIN names na ON na.name = f.name_a
    JOIN names nb ON nb.name = f.name_b
    ORDER BY name_a, name_b
    """,
    description="entity-resolution fuzzy matching over part names "
    "(operators.dedup.blocked_levenshtein_pairs): collapse rows to the "
    "distinct-name vocabulary, token-block on first/last word, exact "
    "Levenshtein 1..2 only within blocks — the ER pipeline shape whose "
    "quadratic stage sees vocabulary size, never row count; blocking "
    "recall vs all-pairs is pinned at 100% on this corpus in "
    "tests/test_dedup_similarity.py",
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import blocked_levenshtein_pairs

    part = table(spark, sf_dir, "part")
    return blocked_levenshtein_pairs(part, "p_name").orderBy("name_a", "name_b")


CONTAINMENT_THRESHOLD = 0.7


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT x, y,
           ROUND(n_inter * 1.0 / sa.n_sh, 6) AS c_xy_r,
           ROUND(n_inter * 1.0 / sb.n_sh, 6) AS c_yx_r,
           ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard_r
    FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
    WHERE GREATEST(n_inter * 1.0 / sa.n_sh, n_inter * 1.0 / sb.n_sh)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY x, y
    """,
    description="asymmetric shingle-containment near-dup pairs "
    "(operators.dedup.containment_pairs): containment(A->B) = "
    "|sh(A) n sh(B)| / |sh(A)| >= 0.7 in either direction, with Jaccard "
    "alongside for contrast — the quote/excerpt/template signal a "
    "symmetric Jaccard threshold structurally misses (a short doc inside "
    "a long one has containment ~1, Jaccard ~0; planted-pair proof in "
    "tests/test_dedup_similarity.py).  Same shared-shingle equi-join "
    "skeleton as the Jaccard path, so its measured scale posture carries "
    "over",
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs, shingle_sets

    docs = table(spark, sf_dir, "documents")
    return (
        containment_pairs(shingle_sets(docs), CONTAINMENT_THRESHOLD)
        .select(
            "x",
            "y",
            F.round("c_xy", 6).alias("c_xy_r"),
            F.round("c_yx", 6).alias("c_yx_r"),
            F.round("jaccard", 6).alias("jaccard_r"),
        )
        .orderBy("x", "y")
    )


# Exact rational threshold for the prefix-filter join: 1/2 == the float
# JACCARD_THRESHOLD above, but num/den keeps the prefix-length and final
# filter in pure integer arithmetic on both engines.
_PF_NUM, _PF_DEN = 1, 2

_PREFIX_FILTER_SQL = f"""
    WITH {_SHINGLE_CTE},
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
        SELECT sh.id, sh.shingle, sizes.n_sh,
               ROW_NUMBER() OVER (
                   PARTITION BY sh.id ORDER BY freq.df, sh.shingle) AS rk
        FROM sh
        JOIN freq ON sh.shingle = freq.shingle
        JOIN sizes ON sh.id = sizes.id
    ),
    prefix AS (
        SELECT id, shingle FROM ranked
        WHERE rk <= n_sh
                    - ({_PF_NUM} * n_sh + {_PF_DEN - 1}) // {_PF_DEN} + 1
    ),
    cand AS (
        SELECT DISTINCT a.id AS x, b.id AS y
        FROM prefix a JOIN prefix b
          ON a.shingle = b.shingle AND a.id < b.id
    ),
    inter AS (
        SELECT c.x, c.y, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh a ON a.id = c.x
        JOIN sh b ON b.id = c.y AND b.shingle = a.shingle
        GROUP BY c.x, c.y
    )
    SELECT i.x, i.y, i.inter,
           CAST(sa.n_sh AS BIGINT) AS nx, CAST(sb.n_sh AS BIGINT) AS ny,
           ROUND(CAST(i.inter AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.inter), 4) AS jacc_r
    FROM inter i
    JOIN sizes sa ON sa.id = i.x
    JOIN sizes sb ON sb.id = i.y
    WHERE i.inter * {_PF_DEN} >= {_PF_NUM} * (sa.n_sh + sb.n_sh - i.inter)
    ORDER BY i.x, i.y
"""


@register(
    "jaccard_prefix_filter",
    oracle=_PREFIX_FILTER_SQL,
    description="exact all-pairs 3-gram Jaccard at J >= 1/2 via PREFIX "
    "FILTERING (Chaudhuri ICDE'06 / PPJoin WWW'08) — the classic exact "
    "set-similarity join beside the probabilistic MinHash-LSH path and "
    "the all-shared-shingle join: shingles sort by global rarity "
    "(document frequency asc, shingle asc — completeness holds for ANY "
    "total order, so the Spark side rides the hashed-shingle fast path "
    "with hash tie-breaks while the oracle orders strings: candidate "
    "sets are engine-local, the verified OUTPUT is order-invariant and "
    "compares exactly), candidates come ONLY from each "
    "set's rarest |s| - ceil(t|s|) + 1 prefix tokens (a qualifying "
    "pair must collide there — the frequent shingles that dominate the "
    "shared-shingle join's fan-out generate nothing), and exact "
    "verification runs on the candidate set alone.  The threshold is "
    "an exact rational, so prefix lengths and the final filter are "
    "pure integer arithmetic; same verified pairs as "
    "dedup_ngram_jaccard (completeness hypothesis-pinned for ANY "
    "input; measured candidate reduction pinned in "
    "tests/test_dedup_similarity.py).  Scale shape: df aggregate + "
    "per-doc rank window (id/shingle-keyed), prefix-only equi-join, "
    "candidate-bounded verification — nothing all-pairs",
    tags=("dedup", "similarity", "join", "window"),
)
def jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, _PF_NUM, _PF_DEN)
