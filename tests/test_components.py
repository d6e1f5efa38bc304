"""Connected-components operator: correctness on adversarial shapes that
the duplicate-cluster data (tiny diameters) never exercises."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from walmart_e_commerce_sales_data_pipeline_spark.operators.components import (
    connected_components,
)


def test_long_chain_converges_via_pointer_jumping(spark):
    # a 201-node path needs O(log d) iterations with pointer jumping;
    # plain one-hop propagation would need 200 and previously returned
    # silently-wrong labels at the iteration cap
    chain = spark.createDataFrame([(i, i + 1) for i in range(200)], "x: long, y: long")
    labels = {r["id"]: r["component"] for r in connected_components(chain).collect()}
    assert len(labels) == 201
    assert all(v == 0 for v in labels.values())


def test_disjoint_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "x: long, y: long",
    )
    labels = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_empty_graph(spark):
    empty = spark.createDataFrame([], "x: long, y: long")
    assert connected_components(empty).count() == 0


def test_unconverged_raises(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "x: long, y: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # the convergence guard lives on the distributed path only
        connected_components(chain, max_iterations=2, small_edge_limit=0)


def test_driver_union_find_equals_distributed_loop(spark):
    """Both dispatch paths of connected_components must produce identical
    (id, component) labelings — the driver union-find is an optimization,
    never a semantic change (mirrors the verify_pairs dual-path test)."""
    import random

    from walmart_e_commerce_sales_data_pipeline_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(7)
    # several chains, a star, a cycle, singleton-free noise edges
    edges = (
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(100, 100 + i) for i in range(1, 8)]
        + [(200, 201), (201, 202), (202, 200)]
        + [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(30)]
    )
    pairs = spark.createDataFrame(edges, "x: long, y: long")
    fast = {
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    slow = {
        (r["id"], r["component"])
        for r in connected_components(pairs, small_edge_limit=0).collect()
    }
    assert fast == slow and fast


ALGORITHMS = ("auto", "union_find", "pointer_jumping", "star")


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_pairs_plan_evaluated_once(spark, algorithm):
    """connected_components must evaluate the caller's pair plan exactly
    once on every path, even when it is expensive and NOT
    persisted/checkpointed — the dispatch count, the symmetrization and
    the star path's node set all read one checkpoint of it, never the
    plan again."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    calls = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def counted(v):
        calls.add(1)
        return v

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "x: long, y: long"
    )
    expensive = base.select(counted("x").alias("x"), "y")
    labels = {
        (r["id"], r["component"])
        for r in connected_components(expensive, algorithm=algorithm).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert calls.value == base.count(), (
        f"pair plan evaluated {calls.value} times for {base.count()} rows"
    )


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_releases_caches_when_pair_plan_fails(spark, algorithm):
    """A pair plan that raises must leave nothing in the cache manager,
    on every path — and so must a successful call (mirrors the
    poisoned-UDF release test in test_dedup_similarity.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def boom(v):
        raise ValueError("synthetic pair-plan failure")

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()
    base = spark.createDataFrame([(1, 2), (2, 3)], "x: long, y: long")
    broken = base.select(boom("x").alias("x"), "y")
    with pytest.raises(Exception, match="synthetic pair-plan failure"):
        connected_components(broken, algorithm=algorithm).collect()
    assert cache_mgr.isEmpty(), "pair frame leaked on the error path"
    assert _label_sets(spark, base, algorithm=algorithm) == {(1, 1), (2, 1), (3, 1)}
    assert cache_mgr.isEmpty()


def _label_sets(spark, pairs, **kw):
    return {
        (r["id"], r["component"])
        for r in connected_components(pairs, **kw).collect()
    }


def test_star_equals_union_find_and_pointer_jumping(spark):
    """The large-star/small-star path must produce the identical min-label
    output as both existing paths on adversarial shapes (long chain for
    diameter, cycle, star hub, random noise with self-loops)."""
    import random

    rng = random.Random(11)
    edges = (
        [(i, i + 1) for i in range(60)]  # 61-node path, diameter 60
        + [(100, 100 + i) for i in range(1, 9)]  # star hub
        + [(200, 201), (201, 202), (202, 200)]  # cycle
        + [(300, 300)]  # pure self-loop: node must still be labeled
        + [(rng.randrange(400, 440), rng.randrange(400, 440)) for _ in range(40)]
    )
    pairs = spark.createDataFrame(edges, "x: long, y: long")
    uf = _label_sets(spark, pairs, algorithm="union_find")
    pj = _label_sets(spark, pairs, algorithm="pointer_jumping")
    star = _label_sets(spark, pairs, algorithm="star")
    assert uf == pj == star and star
    assert (300, 300) in star


def test_star_converges_in_logarithmic_rounds(spark):
    """A diameter-d path must converge in O(log d) large/small-star
    rounds, and the per-round edge telemetry must show the edge set
    contracting toward the star forest (the scale property the algorithm
    exists for)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "x: long, y: long"
    )
    stats: dict = {}
    labels = {
        r["id"]: r["component"]
        for r in connected_components(
            chain, algorithm="star", stats=stats
        ).collect()
    }
    assert len(labels) == 201 and all(v == 0 for v in labels.values())
    assert stats["iterations"] <= 12, stats  # log2(200) ~ 8 + slack
    # final round holds the star forest: one edge per non-root node
    assert stats["rounds"][-1]["edges"] == 200


def test_star_exits_on_an_input_star_forest(spark):
    """An input that already is a star forest — disjoint pairs (one
    duplicated, one mirrored), a hub star and a self-loop — returns
    before any large/small-star round; a two-edge chain, which is not
    one, needs a round."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 4)]
        + [(100, 100 + i) for i in range(1, 5)]
        + [(300, 300)],
        "x: long, y: long",
    )
    stats: dict = {}
    got = _label_sets(spark, pairs, algorithm="star", stats=stats)
    assert stats["iterations"] == 0 and "rounds" not in stats, stats
    assert got == {(1, 1), (2, 1), (3, 3), (4, 3), (300, 300)} | {
        (100 + i, 100) for i in range(5)
    }
    chain: dict = {}
    two_edges = spark.createDataFrame([(1, 2), (2, 3)], "x: long, y: long")
    assert _label_sets(spark, two_edges, algorithm="star", stats=chain) == {
        (1, 1), (2, 1), (3, 1)
    }
    assert chain["iterations"] >= 1


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=1, max_size=30
    ),
    n_dup=st.integers(0, 4),
    n_mirror=st.integers(0, 4),
    loops=st.lists(st.integers(0, 30), max_size=3),
)
def test_star_matches_union_find_on_random_graphs(
    spark, edges, n_dup, n_mirror, loops
):
    """For ANY small graph, with duplicate, mirrored and self-loop rows,
    the star path's labels equal union-find's: the star-forest exit is
    exact, wherever in the loop it fires."""
    rows = (
        edges
        + edges[:n_dup]
        + [(y, x) for x, y in edges[:n_mirror]]
        + [(v, v) for v in loops]
    )
    pairs = spark.createDataFrame(rows, "x: long, y: long")
    assert _label_sets(spark, pairs, algorithm="star") == _label_sets(
        spark, pairs, algorithm="union_find"
    )


def test_star_unconverged_raises(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "x: long, y: long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2, algorithm="star")


def test_star_empty_graph(spark):
    empty = spark.createDataFrame([], "x: long, y: long")
    assert connected_components(empty, algorithm="star").count() == 0


def test_unknown_algorithm_rejected(spark):
    pairs = spark.createDataFrame([(1, 2)], "x: long, y: long")
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(pairs, algorithm="graphx")


def test_pagerank_matches_driver_reference(spark):
    """The DataFrame PageRank loop must equal an independent dict-based
    power-method reference on a graph with hubs, chains, and a clique —
    per-node to 1e-12, and the mass must sum to 1 (no dangling term in an
    undirected graph)."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.centrality import (
        pagerank,
    )

    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (10, 12), (10, 13),    # star hub
        (20, 21), (20, 22), (21, 22),    # triangle
    ]
    got = {
        r["id"]: r["pr"]
        for r in pagerank(
            spark.createDataFrame(pairs, ["x", "y"]), iterations=3
        ).collect()
    }

    adj: dict = {}
    for x, y in pairs:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    n = len(adj)
    ranks = {v: 1.0 / n for v in adj}
    for _ in range(3):
        ranks = {
            v: 0.15 / n + 0.85 * sum(ranks[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    assert set(got) == set(ranks)
    assert all(abs(got[v] - ranks[v]) < 1e-12 for v in ranks)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the star hub out-centralities its leaves; clique members tie
    assert got[10] > got[11] == got[12] == got[13]
    assert abs(got[20] - got[21]) < 1e-12


def test_pagerank_drops_self_loops_and_validates_edge_shape(spark):
    """The distinct-(x<y) edge contract is load-bearing for sum(pr)=1:
    self-loops are dropped defensively (narrow filter, always on), and
    validate=True turns duplicate / already-mirrored pairs into a
    ValueError instead of silently double-counted degrees."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.centrality import (
        pagerank,
    )

    clean = spark.createDataFrame([(1, 2), (2, 3)], ["x", "y"])
    base = {r["id"]: r["pr"] for r in pagerank(clean, iterations=3).collect()}

    with_loop = spark.createDataFrame([(1, 2), (2, 3), (2, 2)], ["x", "y"])
    looped = {
        r["id"]: r["pr"]
        for r in pagerank(with_loop, iterations=3, validate=True).collect()
    }
    assert looped == base  # self-loop filtered before degrees

    for bad in ([(1, 2), (2, 3), (1, 2)], [(1, 2), (2, 3), (2, 1)]):
        df = spark.createDataFrame(bad, ["x", "y"])
        with pytest.raises(ValueError, match="distinct undirected"):
            pagerank(df, iterations=1, validate=True)
        # default path stays cheap: no validation job, ranks still emitted
        assert pagerank(df, iterations=1).count() == 3


def test_weighted_pagerank_matches_driver_reference(spark):
    """Edge-weighted PageRank (contribution rank_u * w_uv / sum_w(u)) vs
    an independent dict reference, and the w==1 case must degenerate to
    the unweighted operator exactly."""
    from walmart_e_commerce_sales_data_pipeline_spark.operators.centrality import (
        pagerank,
    )

    pairs = [(1, 2, 0.9), (2, 3, 0.1), (1, 3, 0.5), (3, 4, 1.0)]
    df = spark.createDataFrame(pairs, ["x", "y", "jac"])
    got = {
        r["id"]: r["pr"]
        for r in pagerank(df, iterations=3, weight_col="jac").collect()
    }

    adj: dict = {}
    for x, y, w in pairs:
        adj.setdefault(x, {})[y] = w
        adj.setdefault(y, {})[x] = w
    n = len(adj)
    ranks = {v: 1.0 / n for v in adj}
    for _ in range(3):
        ranks = {
            v: 0.15 / n
            + 0.85
            * sum(
                ranks[u] * adj[u][v] / sum(adj[u].values()) for u in adj[v]
            )
            for v in adj
        }
    assert all(abs(got[v] - ranks[v]) < 1e-9 for v in ranks)

    unit = {
        r["id"]: r["pr"]
        for r in pagerank(
            df.selectExpr("x", "y", "CAST(1.0 AS DOUBLE) AS one"),
            iterations=3,
            weight_col="one",
        ).collect()
    }
    plain = {
        r["id"]: r["pr"] for r in pagerank(df, iterations=3).collect()
    }
    assert unit == plain
