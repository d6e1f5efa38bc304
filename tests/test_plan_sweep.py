"""Full-registry plan sweep: the scale-killer guard.

SCALE.md §1 audited every registered query's physical plan for
nested-loop shapes by hand (rounds 6-8).  This test mechanizes that
audit so it re-runs on every suite run: building the physical plan of
ALL registered queries and failing if a BroadcastNestedLoopJoin or
CartesianProduct appears outside the whitelisted sites — i.e., a future
edit that silently degrades an equi-join into an all-pairs scan can no
longer land green.

Plan building is driver-side for most queries, but NOT side-effect-free
for all of them (ADVICE r18): queries that materialize intermediates at
DataFrame-construction time (eager checkpoints / persist+count) run
real — bounded, sf0.01 — Spark jobs during the sweep, and their
returned plan hides everything upstream of the materialization behind a
Scan ExistingRDD / InMemoryTableScan.  For the queries in AUDIT_FORMS
the sweep also builds a fully-lazy interior form: the default builder
runs with ``persist`` and ``localCheckpoint`` patched to the identity
(``lazy_audit_frames``), so the complete join graph reaches this audit;
the returned default form is audited as well (it is what downstream
consumers see).  Queries whose materialization is control-flow-bound
(driver count dispatch, convergence loops, driver-side reads: the
dedup_clusters family, dup_graph_pagerank's degree scalar,
embedding_top_pc's bounded Gram read, the bounded cell reads of the
survival queries, the length, monthly-revenue and score statistics and
spearman_rank_corr, a join-free aggregate) cannot be audited lazily
end-to-end —
their interiors are covered by the operator-level plan assertions in
test_plans.py/test_dispatch.py and the committed plans/r*/ dumps, and
the shared pair-build interior they all ride (jaccard_pairs_from_docs)
keeps its BNLJ-free shape pinned by the jaccard_prefix_filter interior
audit below plus the brute-force whitelist entries.  The survival
queries' subject build is audited on the lazy cell aggregate they read
(``test_survival_cell_aggregate_is_keyed``), and so are the other cell
aggregates (``test_length_cell_aggregate_is_keyed``,
``test_month_score_and_rank_cell_aggregates_are_keyed``).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF001
from walmart_e_commerce_sales_data_pipeline_spark import queries as q
from walmart_e_commerce_sales_data_pipeline_spark.plans import (
    formatted_plan,
    single_partition_funnels,
    unpartitioned_windows,
)

# Every allowed nested-loop site, with why it cannot blow up at scale.
# A BNLJ is only acceptable when one side is KNOWN bounded: a 1-row
# aggregate, a fixed dimension grid, or a deliberately-brute baseline
# whose production path is the LSH/IVF variant.
BNLJ_WHITELIST = {
    # 1-row global-aggregate broadcasts (scalar-subquery shape): the
    # build side is a single row of corpus/group statistics.
    "bigram_pmi",
    # bigram_lm_quality (round 18): crosses broadcast the 1-row vocab
    # total onto the term stream — the scalar-broadcast class.
    "bigram_lm_quality",
    "bm25_doc_retrieval",
    "doc_unigram_logprob",
    "dormant_customer_balance",
    "important_supplier_share",
    "key_skew_profile",
    "kmv_sketch_union",
    "ngram_distribution_profile",
    "orders_rfm_segments",
    "source_unigram_divergence",
    "time_series_gap_fill",
    # deliberate CROSS JOIN semantics over two bounded dimensions.
    "join_cross",
    # brute-force exact baselines, kept as the oracle-shaped reference
    # implementations; the production paths are similarity_lsh /
    # similarity_topk_ivf (bucketed / cell-joined, plan-asserted in
    # test_plans.py).
    "similarity_pairs",
    "similarity_topk",
    # retrieve-then-rerank: stage 1 is the same deliberately-brute
    # retriever shape as similarity_topk (exact-oracle baseline); at
    # corpus scale the pool comes from ivf_topk's cell equi-join instead
    # (rerank_topk docstring) and stage 2 — the only new machinery — is
    # a bounded candidates×queries frame either way.
    "retrieve_rerank_topk",
    # rrf_hybrid_retrieval: the same two 1-row broadcasts as its parents —
    # bm25_scores' corpus-stats row and the single probe vector.
    "rrf_hybrid_retrieval",
    # kmv_jaccard_langs: the lang-pair list is a `a.lang < b.lang` cross
    # over the DISTINCT language dimension (a config-sized set, like
    # join_cross's bounded dimensions); every frame the loop touches is
    # k-row signature state, never corpus rows.
    "kmv_jaccard_langs",
    # cms_join_size_estimate: same 1-row output-assembly crosses as
    # cms_selfjoin_size; the data path is two bounded sketch aggregates,
    # their 1,024-row estimator equi-join, and one exact hash equi-join.
    "cms_join_size_estimate",
    # cms_selfjoin_size: the output row assembles a 1-row exact aggregate
    # crossed with the 1-row sketch-estimate aggregate — the scalar
    # broadcast class (same as bloom_semijoin_stats' five 1-row counts).
    "cms_selfjoin_size",
    # kmv_set_difference: same plan skeleton and same justification as
    # kmv_jaccard_langs — the only nested loop is the `lang_a < lang_b`
    # pair cross over the 5-row distinct language dimension; all
    # downstream frames are k=64-row signatures.
    "kmv_set_difference",
    # mg_heavy_hitters (round 15): the two crosses broadcast a 1-row
    # threshold aggregate (the (k+1)-th largest count from a TakeOrdered
    # top-33) and the 1-row stream total onto the per-item counts — the
    # scalar-broadcast class.
    "mg_heavy_hitters",
    # countsketch_f2 (round 15): the single cross joins the 1-row exact
    # F2 aggregate with the 1-row median-of-5-row-sums sketch estimate —
    # two scalar frames, output is one row.
    "countsketch_f2",
    # time_decayed_engagement (round 15): one cross broadcasts the 1-row
    # anchor date (MAX event date) onto the stream before the keyed
    # aggregate — the scalar-broadcast class.
    "time_decayed_engagement",
    # countsketch_join_size (round 15): same 1-row output-assembly
    # crosses as cms_join_size_estimate — two relation counts, the exact
    # join count, and the 1-row median-of-5 estimate; the data path is
    # two bounded signed-sketch aggregates, their 1,280-row estimator
    # equi-join, and one exact hash equi-join.
    "countsketch_join_size",
    # events_forward_decay (round 15): one cross broadcasts the 1-row
    # anchor (days since the landmark) onto the per-user merged cells —
    # the scalar-broadcast class, same shape as time_decayed_engagement.
    "events_forward_decay",
    # priority_sample_subsetsum (round 15): three crosses broadcast the
    # 1-row tau threshold (from a TakeOrdered top-65), the 1-row HT
    # estimate over the 64-row sample, and the 1-row exact total onto
    # the 64-row sample frame — every nested-loop side is a scalar or
    # the k=64-row sample, never orders rows.
    "priority_sample_subsetsum",
    # benford_digit_profile (round 15): one cross broadcasts the 1-row
    # grand total onto the 9-row digit dimension — scalar-broadcast onto
    # a fixed dimension grid (the join_cross class).
    "benford_digit_profile",
    # revenue_gini_lorenz (round 15): the 1-row totals frame crosses onto
    # the 10-row decile dimension and the output rows (scalar-broadcast),
    # and the decile range-join probes the tied-group table with a
    # BROADCAST 10-row build side — every nested-loop side is a scalar
    # or the fixed decile grid, never customers.
    "revenue_gini_lorenz",
    # conversion_ab_ztest (round 17): one cross broadcasts the 1-row
    # pooled (n1, x1, n2, x2, z) pivot onto the two cohort rows — the
    # scalar-broadcast class.
    "conversion_ab_ztest",
    # basket_association_rules (round 15): one cross broadcasts the
    # 1-row basket-count total onto the 10-row result — the
    # scalar-broadcast class; the pair generator itself is a keyed
    # basket self-join with SF-invariant fan-out.
    "basket_association_rules",
    # training_negative_samples (round 15): one cross broadcasts the
    # 1-row part-keyspace size onto the customer dimension before the
    # bounded 8-draw explode — the scalar-broadcast class; candidate
    # validation and history rejection are keyed joins.
    "training_negative_samples",
    # bloom_semijoin_stats: the output row assembles five 1-row count
    # aggregates by cross join; the data path (bit-set build, probe,
    # semi-joins) is all hash/equi against the <= 4,096-row filter.
    "bloom_semijoin_stats",
}


# Every allowed unpartitioned-window site (the r8 verdict's other
# scale-killer class: a Window with an empty partition spec funnels its
# ENTIRE input through one task — Spark's "No Partition Defined for Window
# operation" warning).  Acceptable only when the window's input is provably
# bounded, independent of data scale.  Why each entry is bounded:
# - kmv_sketch_union: both rank windows sit above Partial+Final
#   WindowGroupLimit nodes that cap the input to the sketch size k — the
#   plan never moves more than k rows into the window task (plan-asserted
#   below in test_kmv_windows_are_group_limited).
# - ngram_distribution_profile: the Zipf head window ranks a post-limit
#   TakeOrderedAndProject result (≤ 100 rows); the Gini cumulative sum runs
#   over the counts-of-counts table, ≤ √(2N) rows by construction
#   (d distinct count values satisfy d(d+1)/2 ≤ N).
# - bm25_doc_retrieval: rank window above orderBy().limit(10).
# - window_running_total / null_ordering / window_frames_suite: windows
#   over the (year, month) monthly aggregate — calendar-bounded input.
# - mixture_sampling_plan: full-frame sum over the per-source doc-count
#   table — one row per corpus source, a config-sized set.
UNPARTITIONED_WINDOW_WHITELIST = {
    # - pareto_frontier_parts: the prefix-max window runs over the $1
    #   price-bucket SUMMARY table — bounded by the price domain
    #   (p_retailprice ~[900, 2100] under the TPC-H pricing formula at any
    #   SF ⇒ <= ~1,201 rows), never the parts; the corpus-sized running
    #   max is bucket-partitioned (queries/skyline.py docstring).
    "pareto_frontier_parts",
    # - rrf_hybrid_retrieval: all three rank windows sit above
    #   orderBy().limit(20) pools (TakeOrderedAndProject) or their ≤ 40-row
    #   fusion join — same bounded shape as bm25_doc_retrieval's.
    "rrf_hybrid_retrieval",
    # - priority_sample_subsetsum (round 15): every window (rank, tau,
    #   HT-estimate sum) runs over the TakeOrderedAndProject top-65 frame
    #   — bounded by the limit regardless of data scale; the design point
    #   is exactly that selection is the ONLY corpus-sized stage.
    "priority_sample_subsetsum",
    # - revenue_gini_lorenz (round 15): the prefix-sum window ranks the
    #   $500-bucket SUMMARY table — domain-bounded at ~14.7k rows at ANY
    #   scale factor (TPC-H orders-per-customer and price range are
    #   scale-invariant); the corpus-sized intra-bucket running sums are
    #   bucket-PARTITIONED.
    "revenue_gini_lorenz",
    # - heaps_law_fit (round 16): the OLS accumulation windows run over
    #   the per-source shard table — one row per corpus source, a
    #   config-sized set (the mixture_sampling_plan class).
    "heaps_law_fit",
    # - zipf_slope_fit (round 16): the rank-prefix and OLS accumulation
    #   windows run over the counts-of-counts table — <= sqrt(2N) rows
    #   by construction (ngram_distribution_profile's bound); the
    #   corpus-sized work is the two stacked hash aggregates below it.
    "zipf_slope_fit",
    "kmv_sketch_union",
    "ngram_distribution_profile",
    "bm25_doc_retrieval",
    "window_running_total",
    "null_ordering",
    "window_frames_suite",
    "mixture_sampling_plan",
}


# Every allowed Exchange-SinglePartition site (the r9 verdict's third
# scale-killer class: rows funneled through ONE task by a single-partition
# shuffle whose child does not bound them).  The detector already treats
# partial aggregates and WindowGroupLimit/LocalLimit children as bounded —
# kmv_sketch_union and bm25_doc_retrieval pass without whitelisting because
# their exchanges sit above WindowGroupLimit caps.  The residue is the
# whitelisted-unpartitioned-window queries whose window input is a FINAL
# aggregate the detector cannot size, but whose cardinality is bounded by
# construction:
# - window_running_total / null_ordering / window_frames_suite: the
#   (year, month) monthly aggregate — calendar-bounded.
# - mixture_sampling_plan: the per-source doc-count table — one row per
#   corpus source, a config-sized set.
# - ngram_distribution_profile: the counts-of-counts table — ≤ √(2N) rows
#   by construction (d distinct count values satisfy d(d+1)/2 ≤ N).
SINGLE_PARTITION_WHITELIST = {
    # - pareto_frontier_parts: the single-partition exchange feeds the
    #   bucket-summary prefix-max window — a FINAL aggregate over the $1
    #   price buckets, domain-bounded at <= ~1,201 rows (see the
    #   unpartitioned-window entry above).
    "pareto_frontier_parts",
    # - revenue_gini_lorenz (round 15): the exchange feeds the prefix-sum
    #   window over the $500-bucket SUMMARY aggregate — domain-bounded at
    #   ~14.7k rows at ANY scale factor (TPC-H orders-per-customer and
    #   price range are scale-invariant, so max customer revenue — hence
    #   the bucket count — does not grow with SF); the corpus-sized rank
    #   work runs in the bucket-PARTITIONED window beside it.
    "revenue_gini_lorenz",
    "window_running_total",
    "null_ordering",
    "window_frames_suite",
    "mixture_sampling_plan",
    "ngram_distribution_profile",
    # - heaps_law_fit (round 16): the exchange feeds the OLS windows
    #   over the per-source FINAL aggregate — config-bounded (one row
    #   per corpus source).
    "heaps_law_fit",
    # - zipf_slope_fit (round 16): the exchange feeds the rank-prefix /
    #   OLS windows over the counts-of-counts FINAL aggregate —
    #   <= sqrt(2N) rows by construction (same bound as
    #   ngram_distribution_profile).
    "zipf_slope_fit",
}


# Queries with a construction-time persist or localCheckpoint whose
# interior plan the sweep audits through ``lazy_audit_frames`` (and it
# still audits the returned default form).
AUDIT_FORMS = (
    "jaccard_prefix_filter",
    "kmv_jaccard_langs",
    "kmv_set_difference",
    "events_hourly_bloom_returns",
)


def lazy_audit_frames(spark, names) -> tuple[dict, dict[str, list[str]]]:
    """Build each named query with ``persist`` and ``localCheckpoint``
    patched to the identity, so its plan keeps the whole interior.

    The patch goes on the classic class, ``type(spark.range(0))``:
    it overrides both methods, so patching ``pyspark.sql.DataFrame``
    would leave every checkpoint in place.  Returns the frames and, per
    query, the patched calls its build made."""
    cls = type(spark.range(0))
    frames: dict = {}
    calls: dict[str, list[str]] = {}

    def identity(log: list[str], meth: str):
        def call(self, *args, **kwargs):
            log.append(meth)
            return self

        return call

    with pytest.MonkeyPatch.context() as mp:
        for name in names:
            calls[name] = []
            for meth in ("persist", "localCheckpoint"):
                mp.setattr(cls, meth, identity(calls[name], meth))
            frames[name] = q.REGISTRY[name].fn(spark, SF001)
    return frames, calls


def test_no_unbounded_nested_loop_joins_or_window_funnels_anywhere(spark):
    offenders: dict[str, str] = {}
    unused_whitelist = set(BNLJ_WHITELIST)
    unused_win_whitelist = set(UNPARTITIONED_WINDOW_WHITELIST)
    unused_sp_whitelist = set(SINGLE_PARTITION_WHITELIST)
    audit_frames, audit_calls = lazy_audit_frames(spark, AUDIT_FORMS)
    # keep AUDIT_FORMS honest: every entry must materialize something
    # while it builds, and the patch must leave no materialized leaf in
    # the audited plan (a patch that silently misses shows up here).
    idle = [name for name, log in audit_calls.items() if not log]
    assert not idle, (
        f"stale AUDIT_FORMS entries (no persist/localCheckpoint): {idle}"
    )
    for name, df in audit_frames.items():
        plan = formatted_plan(df)
        for leaf in ("ExistingRDD", "InMemoryRelation"):
            assert leaf not in plan, f"{name}: audit plan still reads {leaf}"
    for name, entry in q.REGISTRY.items():
        df = entry.fn(spark, SF001)
        plan = formatted_plan(df)
        if name in audit_frames:
            # lazy interior form: the full join graph, upstream of any
            # persist/checkpoint, joins the same audit
            plan = plan + "\n" + formatted_plan(audit_frames[name])
        has_nlj = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        if has_nlj:
            if name in BNLJ_WHITELIST:
                unused_whitelist.discard(name)
            else:
                offenders[name] = "nested-loop join outside the whitelist"
        wins = unpartitioned_windows(df)
        if name in audit_frames:
            wins = wins + unpartitioned_windows(audit_frames[name])
        if wins:
            if name in UNPARTITIONED_WINDOW_WHITELIST:
                unused_win_whitelist.discard(name)
            else:
                offenders[name] = f"unpartitioned window funnel: {wins[0][:120]}"
        funnels = single_partition_funnels(df)
        if name in audit_frames:
            funnels = funnels + single_partition_funnels(audit_frames[name])
        if funnels:
            if name in SINGLE_PARTITION_WHITELIST:
                unused_sp_whitelist.discard(name)
            else:
                offenders[name] = f"single-partition funnel: {funnels[0][:120]}"
    assert not offenders, offenders
    # keep the whitelists honest: entries whose queries no longer plan the
    # guarded shape should be removed, not accumulate.
    assert not unused_whitelist, (
        f"stale whitelist entries (no BNLJ in plan anymore): {unused_whitelist}"
    )
    assert not unused_win_whitelist, (
        "stale window-whitelist entries (no unpartitioned window in plan "
        f"anymore): {unused_win_whitelist}"
    )
    assert not unused_sp_whitelist, (
        "stale single-partition-whitelist entries (no unbounded "
        f"SinglePartition exchange in plan anymore): {unused_sp_whitelist}"
    )


def test_survival_cell_aggregate_is_keyed(spark):
    """The survival queries return a sort over a driver-built readout;
    the subject build sits behind their one bounded read.  Audit the lazy
    cell aggregate that read collects, for each query's keys: keyed
    aggregates and keyed joins, the only nested loop the broadcast of the
    1-row anchor timestamp, no unpartitioned window and no
    single-partition funnel."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.events import (
        _survival_cells,
    )

    for keys in ((), ("cohort",), ("stratum", "cohort")):
        df = _survival_cells(spark, SF001, keys)
        plan = formatted_plan(df)
        tree = plan.split("\n\n")[0]
        nlj = [ln for ln in tree.splitlines() if "NestedLoopJoin" in ln]
        assert len(nlj) == 1 and "Cross BuildRight" in nlj[0], (keys, tree)
        assert "CartesianProduct" not in plan, keys
        assert "Functions [1]: [max(ts" in plan, keys  # the anchor aggregate
        assert not unpartitioned_windows(df), keys
        assert not single_partition_funnels(df), keys


def test_length_cell_aggregate_is_keyed(spark):
    """The four document-length statistics return a driver-built
    readout; their one bounded read collects the lazy (source, n_chars)
    aggregate.  Audit it: one keyed hash aggregate over the documents
    scan, no nested loop, no unpartitioned window and no
    single-partition funnel."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        _length_agg,
    )

    df = _length_agg(spark, SF001)
    plan = formatted_plan(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Keys [2]: [source" in plan and "n_chars" in plan, plan
    assert "hashpartitioning(source" in plan, plan
    assert not unpartitioned_windows(df)
    assert not single_partition_funnels(df)


def test_month_score_and_rank_cell_aggregates_are_keyed(spark):
    """The monthly-revenue, score and Spearman statistics return a
    driver-built readout; each one bounded read collects a lazy cell
    aggregate.  Audit the three: one keyed hash aggregate over the scan,
    no nested loop, no unpartitioned window and no single-partition
    funnel."""
    from walmart_e_commerce_sales_data_pipeline_spark.queries.analysis import (
        _rank_agg,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.diagnostics import (
        _month_agg,
        _score_agg,
    )

    for agg, keys in (
        (_month_agg, "Keys [1]: [ym"),
        (_score_agg, "Keys [1]: [score"),
        (_rank_agg, "Keys [2]: [l_quantity"),
    ):
        df = agg(spark, SF001)
        plan = formatted_plan(df)
        assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
        assert plan.count("Exchange (") == 1 and keys in plan, plan
        assert not unpartitioned_windows(df), keys
        assert not single_partition_funnels(df), keys


def test_window_detector_flags_injected_funnel(spark):
    """The detector actually fires on the shape it guards — a deliberately
    unpartitioned ranking window over an unbounded scan — and stays quiet
    on the partitioned twin AND on the partitionBy-without-orderBy form
    (which formatted explain also prints as two argument groups)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF001}/orders.parquet")
    bad = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert unpartitioned_windows(bad), "injected funnel not detected"
    good = df.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderkey")
        ),
    )
    assert not unpartitioned_windows(good)
    part_only = df.withColumn(
        "t", F.sum("o_totalprice").over(Window.partitionBy("o_custkey"))
    )
    assert not unpartitioned_windows(part_only)


def test_prefix_filter_interior_keeps_broadcasts_and_keyed_joins(spark):
    """VERDICT r18 items 2+3: the prefix filter's returned frame is a
    checkpointed pair set (Scan ExistingRDD tail), so its interior —
    the candidate/positional/verification join graph whose persist-form
    statistics keep the size joins broadcast — must be audited through
    the lazy form (``lazy_audit_frames``).  Pins: no nested loop anywhere
    in the interior, the per-doc rank window stays id-PARTITIONED, and
    the size/frequency joins plan as BroadcastHashJoin (the shingle
    stream's statistics are visible to the planner; a stats-less
    rewrite degrading them to SortMergeJoin was measured 2.5 -> 4.3 s
    at sf0.1 in r18)."""
    frames, _ = lazy_audit_frames(spark, ["jaccard_prefix_filter"])
    df = frames["jaccard_prefix_filter"]
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert not unpartitioned_windows(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_kmv_windows_are_group_limited(spark):
    """The justification for kmv_sketch_union's whitelist entry: its rank
    windows must keep their WindowGroupLimit caps (Partial on the map side,
    Final after the exchange), so at most k rows ever reach the single
    window task.  If a rewrite drops the rank predicate Spark can no longer
    push the limit and this stops holding."""
    plan = formatted_plan(q.REGISTRY["kmv_sketch_union"].fn(spark, SF001))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_single_partition_detector_flags_injected_funnels(spark):
    """The r9 task-6 self-test: the detector fires on repartition(1) over
    lineitem and on coalesce(1), stays quiet on a keyed repartition, on a
    global aggregate (partial-agg child bounds the exchange input to one
    row per task), and on a top-k orderBy().limit() (TakeOrderedAndProject
    plans no exchange at all)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF001}/lineitem.parquet")

    bad = li.repartition(1)
    assert single_partition_funnels(bad), "repartition(1) not detected"

    bad2 = li.coalesce(1)
    assert single_partition_funnels(bad2), "coalesce(1) not detected"

    keyed = li.repartition(8, "l_orderkey")
    assert not single_partition_funnels(keyed)

    global_agg = li.agg(F.sum("l_quantity").alias("s"))
    assert not single_partition_funnels(global_agg)

    topk = li.orderBy(F.col("l_extendedprice").desc()).limit(5)
    assert not single_partition_funnels(topk)
