"""Duplicate-cluster and event-sequence queries.

``dedup_clusters`` composes the exact Jaccard pair generator with the
iterative connected-components operator; its oracle is a DuckDB recursive
CTE computing the same min-reachable-id labeling — the one place the
driver checks an *iterative* Spark algorithm against recursive SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import quality_score
from ..operators.components import connected_components
from ..operators.dedup import jaccard_pairs_from_docs, persisted
from .dedup import _SHINGLE_CTE, JACCARD_THRESHOLD
from .registry import register
from .tables import table
from .text import _QUALITY_SQL


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id)
    SELECT component AS cluster_id,
           COUNT(*) AS cluster_size,
           MAX(id) AS max_doc_id
    FROM comp
    GROUP BY component
    ORDER BY cluster_id
    """,
    description="near-duplicate clusters: exact Jaccard pairs (J ≥ 0.5) → "
    "iterative min-label connected components "
    "(operators.components.connected_components); oracle is a recursive "
    "CTE computing the identical min-reachable-id labeling",
    tags=("dedup", "iterative", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    return (
        labels.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count("*").alias("cluster_size"), F.max("id").alias("max_doc_id"))
        .orderBy("cluster_id")
    )


@register(
    "dup_cluster_size_dist_star",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
    sizes_c AS (SELECT component, COUNT(*) AS cluster_size
                FROM comp GROUP BY component)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes_c GROUP BY cluster_size ORDER BY cluster_size
    """,
    description="duplicate-cluster size distribution via the "
    "large-star/small-star connected-components path "
    "(operators.components, algorithm='star' forced — the billion-edge "
    "variant whose per-iteration state is the contracting edge set, not "
    "a per-node label table): exact Jaccard pairs (J ≥ 0.5) → star "
    "alternation → per-size cluster/doc counts, the shape-of-duplication "
    "summary a corpus curator reads before choosing a canonical-keep "
    "policy.  The oracle's recursive CTE computes the identical "
    "min-reachable-id labeling, so a green row is external evidence for "
    "the star path specifically (dedup_clusters covers the auto dispatch; "
    "all three paths are additionally label-equality-tested in "
    "tests/test_components.py)",
    tags=("dedup", "iterative", "graph", "star"),
)
def dup_cluster_size_dist_star(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # bench's shared_scan tier passes a prebuilt (persisted) pair table
    # so the three cluster consumers can be measured against ONE pair
    # build — measurement only, semantics identical to building inline.
    if pairs is None:
        pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs, algorithm="star")
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "dedup_canonical_keep",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
    quality AS (SELECT doc_id, {_QUALITY_SQL} AS q FROM documents),
    ranked AS (
        SELECT c.component AS cluster_id, c.id,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY q.q DESC, c.id) AS rk,
               COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
        FROM comp c JOIN quality q ON q.doc_id = c.id
    )
    SELECT cluster_id, id AS keep_doc_id,
           CAST(cluster_size - 1 AS BIGINT) AS dropped
    FROM ranked WHERE rk = 1 ORDER BY cluster_id
    """,
    description="canonical-document selection: within each near-duplicate "
    "cluster (exact Jaccard pairs J ≥ 0.5 → connected components) keep "
    "the highest-quality document (functions.text.quality_score, "
    "doc_id tie-break) and account for the drops — the retention step an "
    "LLM corpus pipeline runs after duplicate clustering; the quality "
    "expression is mirrored term-by-term in SQL so the per-cluster "
    "ordering compares identical doubles in both engines",
    tags=("dedup", "iterative", "graph", "quality"),
)
def dedup_canonical_keep(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # bench's shared_scan tier passes a prebuilt (persisted) pair table
    # so the three cluster consumers can be measured against ONE pair
    # build — measurement only, semantics identical to building inline.
    if pairs is None:
        pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    q = docs.select(
        F.col("doc_id").alias("id"),
        quality_score(F.col("text"), F.col("n_chars")).alias("q"),
    )
    scored = labels.join(q, "id")
    w = Window.partitionBy("component").orderBy(F.col("q").desc(), F.col("id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("component")))
        .filter(F.col("rk") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("id").alias("keep_doc_id"),
            (F.col("cluster_size") - 1).cast("long").alias("dropped"),
        )
        .orderBy("cluster_id")
    )


@register(
    "dedup_cluster_density",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y, n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
    csize AS (
        SELECT component AS cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component
    ),
    cedge AS (
        SELECT c.component AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               ROUND(AVG(p.jaccard), 6) AS avg_jaccard
        FROM pairs p JOIN comp c ON c.id = p.x
        GROUP BY c.component
    )
    SELECT s.cluster_id, s.cluster_size, e.n_edges,
           CAST(2 * e.n_edges AS DOUBLE)
               / (s.cluster_size * (s.cluster_size - 1)) AS density,
           e.avg_jaccard
    FROM csize s JOIN cedge e ON e.cluster_id = s.cluster_id
    ORDER BY s.cluster_id
    """,
    description="near-duplicate cluster cohesion: per connected component "
    "of the exact-Jaccard graph (J ≥ 0.5), internal edge count, edge "
    "density 2E/(n·(n−1)) and mean pair similarity — density ≈ 1 means a "
    "tight clique (canonical-keep is safe), low density means a chained "
    "cluster where transitive merging may join unlike documents (the "
    "triangle census's per-cluster refinement).  Both endpoints of a pair "
    "share a component by construction, so edges attribute by x alone.  "
    "Scale shape: the pair set is bounded post-threshold and is computed "
    "once (eager checkpoint) feeding components, edge stats and sizes; "
    "density is an exact integer ratio, avg jaccard rounds at 6 dp",
    tags=("dedup", "graph", "diagnostics"),
)
def dedup_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    sizes = labels.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    edges = (
        pairs.join(labels.withColumnRenamed("id", "x"), "x")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )
    return (
        sizes.join(edges, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "n_edges",
            (
                (F.lit(2) * F.col("n_edges")).cast("double")
                / (F.col("cluster_size") * (F.col("cluster_size") - 1))
            ).alias("density"),
            "avg_jaccard",
        )
        .orderBy("cluster_id")
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id) AS prev
        FROM events
    )
    SELECT prev, event_type AS next, COUNT(*) AS n
    FROM seq
    WHERE prev IS NOT NULL
    GROUP BY prev, next
    ORDER BY prev, next
    """,
    description="event-sequence transition matrix: per-user lag over "
    "event-time order, counted per (prev, next) pair — the markov-chain "
    "input for behavioral modeling",
    tags=("event-time", "sequence"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev", "next")
    )


_EMB_THRESHOLD = 0.45


@register(
    "dedup_embedding",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS x, b.vec_id AS y
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[]))
              >= {_EMB_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id)
    SELECT component AS cluster_id,
           COUNT(*) AS cluster_size,
           MAX(id) AS max_vec_id
    FROM comp
    GROUP BY component
    ORDER BY cluster_id
    """,
    description="embedding-cosine near-duplicate clusters: exact cosine "
    "pairs at ≥ 0.45 (operators.similarity.cosine_pairs) → iterative "
    "min-label connected components — the semantic-dedup composition a "
    "training pipeline runs over embedding columns (pairs from the LSH/IVF "
    "index paths at scale, same downstream clustering); oracle is the "
    "recursive-CTE min-reachable-id labeling over list_cosine_similarity "
    "pairs",
    tags=("dedup", "similarity", "iterative", "graph"),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block_cosine_pairs, not the expression-fold cosine_pairs: same exact
    # pairs (equality asserted in tests), but the GEMM kernel is ~50×
    # faster and auto-falls-back to the distributed join above the
    # broadcast limit (operators.similarity.verify_pairs dispatch).
    from ..operators.similarity import block_cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    pairs = block_cosine_pairs(emb, threshold=_EMB_THRESHOLD)
    labels = connected_components(pairs.select("x", "y"))
    return (
        labels.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count("*").alias("cluster_size"), F.max("id").alias("max_vec_id"))
        .orderBy("cluster_id")
    )


@register(
    "dup_graph_triangles",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS x, b.vec_id AS y
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[]))
              >= {_EMB_THRESHOLD}
    ),
    deg AS (
        SELECT id, COUNT(*) AS d
        FROM (SELECT x AS id FROM pairs UNION ALL SELECT y AS id FROM pairs)
        GROUP BY id
    ),
    wedges AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w FROM deg),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM pairs e1
        JOIN pairs e2 ON e2.x = e1.y
        JOIN pairs e3 ON e3.x = e1.x AND e3.y = e2.y
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           tri.t AS n_triangles,
           wedges.w AS n_wedges,
           CASE WHEN wedges.w > 0 THEN 3.0 * tri.t / wedges.w
                ELSE 0.0 END AS clustering_coeff
    FROM tri CROSS JOIN wedges
    """,
    description="triangle census of the near-duplicate graph: edges are "
    "embedding-cosine pairs at the shared 0.45 threshold, triangles come "
    "from the canonical ordered self-join (x<y<z counted once), wedges "
    "from per-node degrees (d·(d−1)//2 — exact integer, the product of "
    "consecutive ints is even), and the global clustering coefficient "
    "3T/W tells a dedup pipeline whether near-dup neighborhoods are "
    "transitive (tight clusters → canonical-keep is safe) or chained "
    "(bridges → clustering merges unlike docs); at scale the standard "
    "degree-ordered forward-edge enumeration bounds the join fan-out",
    tags=("similarity", "graph", "diagnostics"),
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import block_cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    # The pair set is read three times by the triangle join, then by the
    # degree and edge counts: ``persisted`` until the 1-row census
    # checkpoints (localCheckpoint stores a single summary row).
    pairs = block_cosine_pairs(emb, threshold=_EMB_THRESHOLD).select("x", "y")
    with persisted(pairs) as pairs:
        e1 = pairs.select(F.col("x").alias("a"), F.col("y").alias("b"))
        e2 = pairs.select(F.col("x").alias("b2"), F.col("y").alias("c"))
        e3 = pairs.select(F.col("x").alias("a3"), F.col("y").alias("c3"))
        tri = (
            e1.join(e2, e1.b == e2.b2)
            .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
            .agg(F.count("*").alias("t"))
        )
        deg = (
            pairs.select(F.col("x").alias("id"))
            .unionAll(pairs.select(F.col("y").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("d"))
        )
        summary = deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
        )
        n_edges = pairs.agg(F.count("*").alias("n_edges"))
        out = (
            tri.crossJoin(F.broadcast(summary))
            .crossJoin(F.broadcast(n_edges))
            .select(
                "n_nodes",
                "n_edges",
                F.col("t").alias("n_triangles"),
                "n_wedges",
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("t") / F.col("n_wedges"),
                )
                .otherwise(F.lit(0.0))
                .alias("clustering_coeff"),
            )
        )
        return out.localCheckpoint(eager=True)


@register(
    "dup_graph_pagerank",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x AS u, y AS v FROM pairs
              UNION ALL SELECT y, x FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    ew AS (SELECT e.u, e.v, deg.d AS deg_u
           FROM edges e JOIN deg ON deg.u = e.u),
    r0 AS (SELECT u AS id, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    r1 AS (SELECT e.v AS id,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * SUM(r.pr / e.deg_u) AS pr
           FROM ew e JOIN r0 r ON r.id = e.u GROUP BY e.v),
    r2 AS (SELECT e.v AS id,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * SUM(r.pr / e.deg_u) AS pr
           FROM ew e JOIN r1 r ON r.id = e.u GROUP BY e.v),
    r3 AS (SELECT e.v AS id,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * SUM(r.pr / e.deg_u) AS pr
           FROM ew e JOIN r2 r ON r.id = e.u GROUP BY e.v)
    SELECT r3.id AS doc_id, deg.d AS degree, ROUND(r3.pr, 6) AS pr_r
    FROM r3 JOIN deg ON deg.u = r3.id
    ORDER BY doc_id
    """,
    description="fixed-iteration PageRank over the exact-Jaccard near-dup "
    "graph (operators.centrality.pagerank): 3 power-method iterations, "
    "damping 0.85 — duplication-hub centrality, the iterative-NUMERIC "
    "counterpart to the connected-components recursive-CTE check.  With "
    "the iteration count fixed the computation unrolls into per-iteration "
    "SQL CTEs, so even an iterative float algorithm gets an exact external "
    "oracle (rounded at 6 dp on both sides: grouped float sums are "
    "order-dependent in the last ulp); each Spark iteration is two "
    "shuffles on the node id, per-iteration state one row per node",
    tags=("graph", "pagerank", "iterative"),
)
def dup_graph_pagerank(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    from ..operators.centrality import pagerank

    docs = table(spark, sf_dir, "documents")
    # bench's shared_scan tier passes a prebuilt (persisted) pair table
    # so the three cluster consumers can be measured against ONE pair
    # build — measurement only, semantics identical to building inline.
    if pairs is None:
        pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    edges = pairs.select("x", "y")
    deg = (
        edges.selectExpr("x AS u", "y AS v")
        .unionAll(edges.selectExpr("y AS u", "x AS v"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    pr = pagerank(edges, damping=0.85, iterations=3)
    return (
        pr.join(deg, pr["id"] == deg["u"])
        .select(
            F.col("id").alias("doc_id"),
            "degree",
            F.round("pr", 6).alias("pr_r"),
        )
        .orderBy("doc_id")
    )


# 80/10/10 of the 65,536-bucket space — the same exact-integer thresholds
# train_val_test_split uses (queries/profiling.py), reused so the two
# split queries differ ONLY in what they hash (doc vs cluster).
_CL_TRAIN_HI = 52_429
_CL_VAL_HI = 58_982


def _cluster_split_oracle() -> str:
    from ..operators.splits import portable_bucket_sql

    b = portable_bucket_sql("COALESCE(c.component, d.doc_id)", "VARCHAR")
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id)
    SELECT CASE WHEN {b} < {_CL_TRAIN_HI} THEN 'train'
                WHEN {b} < {_CL_VAL_HI} THEN 'val' ELSE 'test' END AS split,
           d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT COALESCE(c.component, d.doc_id)) AS BIGINT)
               AS n_groups,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    GROUP BY split, d.source
    ORDER BY split, d.source
    """


@register(
    "cluster_aware_split",
    oracle=_cluster_split_oracle(),
    description="leakage-free train/val/test assignment: the 80/10/10 "
    "portable-md5 bucket decision is made on the NEAR-DUPLICATE CLUSTER "
    "id (min-label connected component of the exact-Jaccard J >= 0.5 "
    "graph; a doc outside every pair is its own group), so near-dups "
    "can never straddle train and test — the split-contamination failure "
    "train_val_test_split's per-doc hashing cannot prevent and every "
    "serious LLM corpus pipeline guards against (the decontamination "
    "argument applied to the corpus's own splits).  Membership is a "
    "pure function of the cluster key: stable across runs, partitioning, "
    "engines, and corpus growth.  Exactness: integer bucket thresholds, "
    "BIGINT counts; the recursive-CTE oracle recomputes the identical "
    "labeling.  Scale shape: the pair generator is the blocked/bounded "
    "jaccard_pairs_from_docs; labels are one row per CLUSTERED doc "
    "(dup fraction of the corpus, never all of it), left-joined back on "
    "doc_id; one map-side-combined aggregate emits the (split, source) "
    "grid — no window, no unbounded shuffle",
    tags=("dedup", "sampling", "splits", "graph"),
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import portable_bucket_sql

    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    joined = docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn("group_id", F.coalesce(F.col("component"), F.col("doc_id")))
    bucket = F.expr(portable_bucket_sql("group_id", "STRING"))
    split = (
        F.when(bucket < _CL_TRAIN_HI, "train")
        .when(bucket < _CL_VAL_HI, "val")
        .otherwise("test")
    )
    return (
        joined.groupBy(split.alias("split"), "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("group_id").cast("long").alias("n_groups"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


@register(
    "cluster_sampling_weights",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
        SELECT a.id AS x, b.id AS y, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT x, y
        FROM inter JOIN sizes sa ON sa.id = x JOIN sizes sb ON sb.id = y
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
    walk(id, lab) AS (
        SELECT x, x FROM edges
        UNION
        SELECT e.x, w.lab FROM edges e JOIN walk w ON e.y = w.id
    ),
    comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
    csize AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT d.doc_id,
           d.source,
           COALESCE(c.component, d.doc_id) AS group_id,
           COALESCE(s.cluster_size, 1) AS group_size,
           ROUND(1.0 / COALESCE(s.cluster_size, 1), 6) AS weight
    FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    LEFT JOIN csize s ON s.component = c.component
    ORDER BY d.doc_id
    """,
    description="duplication-corrected training-sample weights: every "
    "document weighs 1/|its near-duplicate cluster| (exact-Jaccard "
    "J >= 0.5 components; singletons weigh 1), so a sampler drawing by "
    "these weights sees each distinct CONTENT with equal total mass "
    "however many copies survived dedup — the soft alternative to "
    "hard canonical-keep (dedup_canonical_keep) that keeps every copy "
    "available while removing the duplication bias from the training "
    "mixture (the repetition-reweighting practice of large-corpus "
    "curation).  Exactness: group ids and sizes are BIGINT; the weight "
    "is one exact integer reciprocal rounded once at 6 dp in both "
    "engines.  Scale shape: identical to cluster_aware_split — bounded "
    "pair generator, labels one row per clustered doc, the per-cluster "
    "size aggregate is cluster-count-sized and joins back broadcastable; "
    "the per-doc output is the corpus size, written not collected at "
    "production scale",
    tags=("dedup", "sampling", "graph"),
)
def cluster_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    joined = (
        docs.select("doc_id", "source")
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(F.broadcast(sizes), "component", "left")
    )
    return joined.select(
        "doc_id",
        "source",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias(
            "group_size"
        ),
        F.round(F.lit(1.0) / F.coalesce(F.col("cluster_size"), F.lit(1)), 6).alias(
            "weight"
        ),
    ).orderBy("doc_id")
