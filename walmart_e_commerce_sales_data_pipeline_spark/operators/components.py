"""Connected components over near-duplicate pairs — the iterative
algorithm that turns pairwise dedup output into duplicate *clusters*
(SURVEY.md §2.11: 'band→bucket-join→connected components or rep-pick').

Implementation: minimum-label propagation with pointer jumping, as a
driver-side loop of DataFrame joins.  Each iteration (a) every node adopts
the smallest label among itself and its neighbors, then (b) labels are
compressed through the label graph (label := label-of-label), which makes
the hop distance collapse geometrically — a path graph of diameter d
converges in O(log d) iterations instead of O(d).  Convergence is detected
by a changed-row count; an unconverged exit RAISES rather than silently
returning partial labels.  Each iteration is localCheckpointed so the
lineage doesn't grow unboundedly (the classic iterative-algorithm trap on
Spark).

Three paths, bounded-dispatch by edge count (or forced via ``algorithm``):

1. driver union-find (≤ ``small_edge_limit`` edges): exact, milliseconds,
   an explicit limited materialization.
2. pointer-jumping label propagation (the default distributed path):
   per-iteration state is one (id, component) row per NODE — O(V) — which
   is the right shape when the label table fits comfortably but the
   O(log d) halving on long chains matters.
3. large-star/small-star (≥ ``star_edge_limit`` edges, or
   ``algorithm="star"``): the Kiveris et al. "Connected Components in
   MapReduce and Beyond" alternation.  Per-iteration state is the EDGE
   set itself, which the alternation provably shrinks toward a star
   forest in O(log² n) rounds; no per-node label table is ever built
   until the final extraction, every emitted edge points at a strictly
   smaller id, and each round is plain groupBy-min + join — the
   billion-edge variant, because the working set contracts instead of
   carrying V rows through every iteration.

All three produce the identical min-label (id, component) output
(asserted pairwise in tests/test_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Above this many (undirected, deduped) edges the driver-side union-find
# is skipped and the distributed label-propagation loop runs.  Same
# bounded-dispatch posture as similarity.verify_pairs: the driver path is
# an explicit, limited materialization (≤ ~16 MB of edge tuples) chosen
# only after a cheap count of the checkpointed pair set — never an
# unconditional collect of something unbounded.
SMALL_EDGE_LIMIT = 500_000

# Above this many directed pairs the pointer-jumping loop (which carries a
# full per-node label table through every iteration) yields to
# large-star/small-star (whose per-iteration state is the contracting edge
# set).  Set from the measured round-13 crossover sweep (SCALE.md §16):
# on the shallow 8-node-cluster shape (the production dedup graph —
# millions of tiny components), warm-JVM walls cross between 3 M and 5 M
# undirected edges (PJ 16.0 s vs star 27.5 s at 3 M; PJ 49.8 s vs star
# 37.9 s at 5 M; star 1.65x ahead by 30 M with ~10 % less shuffle), so
# the limit sits at the bracket midpoint, 4 M undirected = 8 M directed.
# Known trade: on the adversarial deep-chain shape (diameter 10k) PJ
# stays ~1.5x faster even at 10 M edges — star dispatched there loses
# bounded wall, while PJ on large shallow graphs loses unboundedly as the
# label table grows; near-dup graphs are shallow by construction.
STAR_EDGE_LIMIT = 8_000_000


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact min-label components for a bounded edge set, computed with
    path-compressed union-find on the driver and returned as a DataFrame.

    Semantically identical to the converged iterative labeling (asserted
    in tests/test_components.py); at near-dup scale the post-threshold
    edge set is typically tiny relative to the corpus, and the driver
    pass replaces ~4 Spark jobs per loop iteration with milliseconds.
    """
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:  # path compression
            parent[a], a = root, parent[a]
        return root

    for row in edges.collect():
        x, y = row[0], row[1]
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    # min-label: after unioning toward the smaller root, every root IS the
    # component minimum, so find(id) is the final label.
    data = [(i, find(i)) for i in parent]
    id_type = edges.schema[0].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(data, schema)


def _star_forest(edges: DataFrame) -> tuple[bool, int]:
    """Exact star-forest check on an oriented edge set (x > y, distinct):
    one global aggregate over the 2E endpoint rows.

    Per node n, let nx = rows with x = n and tot = rows that touch n.  The
    set is a star forest iff no node has nx > 1 and no node has nx = 1
    with tot > 1, i.e. every left-side node sits in exactly one row.
    Then every row joins a leaf to a root that is nobody's leaf, and
    because x > y on every row, that root is its star's minimum: the rows
    ARE the (node, component-minimum) labels.  Returns (holds, rows).
    """
    ends = (
        edges.selectExpr("stack(2, x, 1, y, 0) AS (n, isx)")
        .groupBy("n")
        .agg(F.sum("isx").alias("nx"), F.count("*").alias("tot"))
    )
    row = ends.agg(
        F.count_if((F.col("nx") > 0) & (F.col("tot") > 1)).alias("bad"),
        F.sum("nx").alias("rows"),
    ).first()
    return row["bad"] == 0, row["rows"] or 0


def _star_components(
    oriented: DataFrame,
    max_iterations: int,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star alternation over an oriented edge set.

    ``oriented``: distinct (x, y) pairs with x > y, no self-loops.
    Returns the star-forest edges — every row is
    (node, component-minimum) with node > minimum; component roots do not
    appear on the left side.  Raises on non-convergence.

    One round = large-star then small-star:

    - large-star(u): with m = min(Γ(u) ∪ {u}), connect every STRICTLY
      LARGER neighbor v > u to m.  Output edges all satisfy x > y
      because m ≤ u < v.
    - small-star(u): on the large-star output grouped by the larger
      endpoint, with m = min of the (all-smaller) neighbors, connect u
      and every other neighbor to m.

    Both steps preserve connectivity (Kiveris et al.), so the loop
    returns as soon as ``_star_forest`` holds — on the input itself
    (``stats["iterations"] == 0``) or on a round's output.  The check is
    exact, so no round is spent reproducing a fixed point.
    """
    # Lazy checkpoints throughout the loop: the shuffle stages under each
    # checkpoint run when it is marked (AQE materializes query stages as
    # the RDD is built); only the final, block-storing stage waits, and it
    # runs inside the star-forest check's job that follows.
    # INVARIANT (do not break in a refactor): the FIRST action on each
    # lazily-checkpointed frame must be that full-scan check.  A
    # partition-partial first action (limit/first/isEmpty on the frame
    # itself) would materialize the checkpoint piecemeal across later
    # jobs and add a barrier per round.
    cur = oriented.localCheckpoint(eager=False)
    done, _ = _star_forest(cur)
    it = 0
    while not done:
        if it == max_iterations:
            raise RuntimeError(
                f"connected_components (star) did not converge in "
                f"{max_iterations} iterations"
            )
        it += 1
        # Symmetrize for large-star: each node must see its full
        # neighborhood.  union-of-two-selects is safe here (cur is a
        # checkpoint, not an arbitrary caller plan).
        sym = cur.union(
            cur.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        m = (
            sym.groupBy("x")
            .agg(F.min("y").alias("_mn"))
            .select("x", F.least("x", "_mn").alias("m"))
        )
        # Round shape kept from r18 after two measured r19 rejections
        # (VERDICT r18 item 9): (a) dropping the intermediate distinct
        # and clustering ls once by repartition("x") for the min
        # aggregate and the join to ride — 49 -> 52 jobs, 3.7 -> 4.3 s
        # at sf0.1 (the duplicate-bearing stream outweighs the saved
        # exchange); (b) repartition("x") + dropDuplicates so all three
        # consumers ride one exchange — 46 jobs but 3.7 -> 6.7 s (the
        # clustering forces the dedup and min aggregates into complete
        # mode, losing their map-side partials).  The map-side partial
        # aggregation the default shape keeps is worth more than the
        # exchange it costs, at sf0.1 and — by the §2.3
        # aggregate-before-shuffle rule — at 100 TB too.
        ls = (
            sym.join(m, "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
            .distinct()
        )
        mn2 = ls.groupBy("x").agg(F.min("y").alias("m"))
        joined = ls.join(mn2, "x")
        cur = (
            joined.select("x", F.col("m").alias("comp"))
            .union(
                joined.filter(F.col("y") != F.col("m")).select(
                    F.col("y").alias("x"), F.col("m").alias("comp")
                )
            )
            .distinct()
            .select("x", F.col("comp").alias("y"))
            .localCheckpoint(eager=False)
        )
        done, n_edges = _star_forest(cur)
        if stats is not None:
            stats.setdefault("rounds", []).append(
                {"iteration": it, "edges": n_edges}
            )
    if stats is not None:
        stats["iterations"] = it
    return cur


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 25,
    small_edge_limit: int = SMALL_EDGE_LIMIT,
    star_edge_limit: int = STAR_EDGE_LIMIT,
    algorithm: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Label each node reachable through ``pairs`` (columns x, y) with the
    minimum node id of its component.  Returns (id, component).

    ``algorithm``: ``"auto"`` (default) dispatches by edge count —
    union-find at or below ``small_edge_limit``, pointer jumping up to
    ``star_edge_limit``, large-star/small-star above.  ``"union_find"``,
    ``"pointer_jumping"`` or ``"star"`` force a path.  ``stats``, when a
    dict, receives per-round iteration/edge telemetry from the star path.

    Raises ``RuntimeError`` if the labeling has not converged after
    ``max_iterations`` (2^25-diameter components would be required).
    """
    if algorithm not in ("auto", "union_find", "pointer_jumping", "star"):
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # The caller's pair plan is evaluated exactly ONCE: ``raw`` is a lazy
    # checkpoint of it, and the first action on every path below is a
    # full scan that stores it (the dispatch count, the union-find
    # collect, or the first shuffle stage over it), so every later read
    # hits the stored blocks.  A checkpoint registers nothing with the
    # cache manager, so a pair plan that raises leaves no cached frame.
    raw = pairs.select("x", "y").localCheckpoint(eager=False)
    if algorithm == "auto":
        # Dispatch on the DIRECTED pair count: generators emit each
        # undirected edge once (x < y), so the symmetrized edge set is
        # exactly 2x the distinct pair count and `2 · n_pairs ≤ limit` is
        # a conservative bound even when the caller's pairs carry
        # duplicates.
        n_pairs = raw.count()
        if 2 * n_pairs <= small_edge_limit:
            algorithm = "union_find"
        elif 2 * n_pairs > star_edge_limit:
            algorithm = "star"
        else:
            algorithm = "pointer_jumping"
    if algorithm == "union_find":
        # Direction- and duplicate-insensitive: collects the raw pairs
        # with no symmetrize/distinct job at all.
        return _driver_union_find(raw)
    if algorithm == "star":
        # Orient each pair (bigger, smaller), drop self-loops, dedup.
        oriented = (
            raw.filter(F.col("x") != F.col("y"))
            .select(
                F.greatest("x", "y").alias("x"), F.least("x", "y").alias("y")
            )
            .distinct()
        )
        stars = _star_components(oriented, max_iterations, stats=stats)
        # Star forest → labels: every non-root appears exactly once on the
        # left; roots label themselves.  The node set comes from ``raw``
        # because nodes touched only by self-loops never enter the
        # oriented edge set.
        nodes = (
            raw.select(F.col("x").alias("id"))
            .union(raw.select(F.col("y").alias("id")))
            .distinct()
        )
        labels = stars.select(
            F.col("x").alias("id"), F.col("y").alias("_comp")
        )
        return nodes.join(labels, "id", "left").select(
            "id", F.coalesce("_comp", F.col("id")).alias("component")
        )
    # Distributed path: symmetrize (explode keeps both directions in one
    # pass over ``raw``) and dedup — the loop's join sizes are bounded by
    # the distinct edge set.  Checkpoints, not persists, hold the loop
    # state, so no exit path (converged, unconverged, or a raising pair
    # plan) leaves a cached frame behind.
    edges = (
        raw.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("x"), F.col("y").alias("y")),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("x").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.y == labels.id)
            .groupBy("x")
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = labels.join(
            neighbor_min, labels.id == neighbor_min.x, "left"
        ).select(
            "id",
            F.col("component").alias("_prev"),
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: follow the component's own label one step —
        # halves the remaining hop distance every iteration.  The change
        # flag rides along into the checkpoint so convergence detection is
        # a scan-with-early-exit over the materialized result instead of a
        # new-vs-old shuffle join + full count per iteration (measured
        # ~35% of the loop's wall time at sf0.1).
        lut = propagated.select(
            F.col("id").alias("lid"), F.col("component").alias("lcomp")
        )
        labels = (
            propagated.join(lut, propagated.component == lut.lid, "left")
            .select(
                "id",
                "_prev",
                F.least(
                    F.col("component"), F.coalesce("lcomp", F.col("component"))
                ).alias("component"),
            )
            .select(
                "id",
                "component",
                (F.col("component") != F.col("_prev")).alias("_chg"),
            )
            .localCheckpoint()  # truncate lineage per iteration
        )
        if labels.filter("_chg").isEmpty():
            return labels.select("id", "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )
