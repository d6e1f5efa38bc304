"""Graph centrality over pair graphs — fixed-iteration PageRank.

The numeric-iterative counterpart to ``operators.components``'s
label-propagation iteration: where connected components converges a
DISCRETE labeling (checkable through a recursive-CTE oracle), PageRank
iterates a CONTINUOUS fixed-point.  With the iteration count fixed, the
computation is a finite composition of joins and grouped sums, so the
whole thing unrolls into plain SQL — giving the one thing iterative
numeric algorithms usually can't have here: an exact external oracle
(per-iteration CTEs in DuckDB, values rounded on both sides because
grouped float sums are order-dependent in the last ulp).

No GraphX / graphframes: the iteration is plain DataFrame joins, which
is exactly how it shards at scale — each step shuffles on the node id,
AQE handles skewed hub nodes, and the per-iteration state is one
(id, rank) row per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    pairs: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    src: str = "x",
    dst: str = "y",
    weight_col: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED pair graph.

    ``pairs``: distinct (src, dst) rows, one per undirected edge (the
    near-dup pair shape: x < y, no self-loops).  Nodes are the ids that
    appear in ``pairs`` — isolated documents are out of scope by
    construction, and since every node therefore has degree ≥ 1, the
    dangling-mass term of general PageRank vanishes (undirected edges
    are mirrored, so out-degree ≥ 1 everywhere).

    Each iteration: rank_v ← (1−d)/N + d·Σ_{u∈Γ(v)} rank_u / deg_u —
    two shuffles (the contribution join on the source id, the grouped
    sum on the destination id).  The per-node degree table and the
    degree-annotated edge set are MATERIALIZED once, through LAZY
    localCheckpoints: no job runs for them when this function is
    called; each materializes inside the first action that reads it —
    the degree table inside the node-count job below, the edge set
    inside the first iteration's contribution join at the first action
    on the result.  That first action must be a full scan (count,
    collect, a write — not ``first``/``limit``), or the checkpoint
    holds only the partitions it touched.  Every iteration then reads
    bounded materialized state instead of re-deriving the caller's pair
    plan; the unrolled iteration lineage on top of that state is
    shallow (two joins per round).

    N (the node count) is a driver scalar from one count job — the same
    bounded-materialization posture as ``train_ivf_centroids``; it
    parameterizes the teleport constant, never a collected dataset.

    ``weight_col`` names an edge-weight column on ``pairs`` (e.g. the
    pair's Jaccard similarity): contributions become
    rank_u · w_uv / Σ_x w_ux — stronger duplicate links carry more rank
    — and the unweighted form is the special case w ≡ 1.  The plan shape
    is unchanged: the "degree" aggregate sums weights instead of
    counting rows.

    The distinct-(x<y, no self-loop) shape is load-bearing for the
    Σ pr = 1 invariant the oracle comparison checks: a duplicate or
    already-mirrored edge double-counts degrees, and a self-loop breaks
    the no-dangling argument.  Self-loops are dropped defensively (a
    narrow filter — free), but duplicate detection needs a shuffle, so
    it sits behind ``validate=True``: one count job that raises
    ``ValueError`` naming the violation instead of silently skewing
    ranks (pinned in tests/test_components.py).

    Returns (id, pr) with Σ pr = 1 up to float error.
    """
    w = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ).alias("w")
    pairs = pairs.filter(F.col(src) != F.col(dst))
    if validate:
        key = [F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))]
        stats = pairs.select(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct(*key).alias("undirected"),
        ).first()
        if stats["rows"] != stats["undirected"]:
            raise ValueError(
                "pagerank: pairs must be distinct undirected edges; got "
                f"{stats['rows']} rows for {stats['undirected']} undirected "
                "edges (duplicate or mirrored pairs double-count degrees)"
            )
    edges = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), w
    ).unionAll(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"), w))
    deg = edges.groupBy("u").agg(F.sum("w").alias("deg"))
    # Materialize the per-node degree table and the degree-annotated edge
    # set ONCE (r18 optimization round, guide §2.4/§5): the unrolled plan
    # otherwise re-derives BOTH subtrees inside every iteration — the
    # caller's pair plan, the symmetrizing union, the degree aggregation
    # and the degree join all execute `iterations` times (plus once more
    # for the node count), which at production scale is `iterations + 1`
    # full passes over the edge set for state that never changes across
    # iterations.  deg is one row per node, edges_w two rows per pair;
    # both are the bounded per-iteration state the docstring already
    # commits to.  The node count then reads the materialized deg rows
    # instead of re-running the aggregation from the caller's plan.
    # Lazy checkpoints (r19, the components-loop trick): deg
    # materializes inside the node-count job that immediately follows
    # (count is a full scan — the first-action invariant), and edges_w
    # inside the first iteration's contribution join at the next action
    # on the result — one barrier saved each vs the r18 eager form.
    deg = deg.localCheckpoint(eager=False)
    n = deg.count()
    edges_w = edges.join(deg, "u").localCheckpoint(eager=False)
    teleport = (1.0 - damping) / n
    ranks = deg.select(F.col("u").alias("id"), (F.lit(1.0) / n).alias("pr"))
    for _ in range(iterations):
        contribs = (
            edges_w.join(ranks, edges_w["u"] == ranks["id"])
            .select(
                "v",
                (F.col("pr") * F.col("w") / F.col("deg")).alias("contrib"),
            )
            .groupBy("v")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = contribs.select(
            F.col("v").alias("id"),
            (F.lit(teleport) + F.lit(damping) * F.col("in_sum")).alias("pr"),
        )
    return ranks
