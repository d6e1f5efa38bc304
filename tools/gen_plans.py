#!/usr/bin/env python
"""Regenerate PLANS.md — physical plans of the flagship queries.

Usage: python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

COMMENT = {
    "pricing_summary": "filter pushed to scan; 7/11 columns read; partial+final HashAggregate",
    "regional_revenue": "all four joins broadcast at this toy scale (every side fits); "
    "at production scale lineitem<->orders becomes the one sort-merge shuffle while the "
    "three dimension joins stay broadcast — the explicit broadcast() hints pin the dims",
    "shipping_priority_top10": "filters pushed into all three scans; TakeOrderedAndProject "
    "caps the sort at k=10",
    "window_topk_orders": "single shuffle on the window partition key; rank filter applied "
    "before the final sort",
    "top10_expensive_items": "no full sort: TakeOrderedAndProject with per-partition k-row state",
    "dedup_minhash_lsh": "the returned pair set is localCheckpointed (every "
    "intermediate cache released before return — round 6), so the visible plan is "
    "the final sort over the materialized pairs; the banded pipeline behind it "
    "(persisted shingles -> signatures -> (band, hash) bucket join -> exact verify) "
    "lives in operators/dedup.py",
    "events_sessionization": "one shuffle on user_id shared by both window functions and the "
    "session aggregation",
    "promo_revenue_share": "part dim broadcast; conditional agg folds into the same "
    "partial+final HashAggregate as the plain sum",
    "top_supplier_revenue": "one shuffle (revenue agg on l_suppkey); the 1-row MAX and the "
    "supplier dim both broadcast back",
    "similarity_topk_ivf": "cell assignment is pure codegen expressions over literal "
    "centroids; the probe join shuffles on the cell id only",
    "profile_documents": "all per-column stats in ONE scan: partial+final HashAggregate, "
    "stack unpivot after the final agg",
    "substring_dup_coverage": "winnowing selection is map-side only (Arrow kernel: one "
    "md5 per gram + numpy rightmost-argmin; the pure-plan HOF twin is pinned equal in "
    "tests); only the ~12% fingerprint stream shuffles — once on the 48-bit hash for "
    "the shared-hash groupBy, once on doc_id, with the island window and the per-doc "
    "aggregate sharing that second exchange",
    "retrieve_rerank_topk": "stage-1 BNLJ builds the QUERY side (explicit broadcast — "
    "corpus streams; Spark's size heuristic would invert it); the coarse 10-candidate "
    "pool is WindowGroupLimit Partial BEFORE the exchange, so the shuffle moves at most "
    "10 rows per (query, input partition); the exact-cosine rerank projects only pool "
    "rows, after the coarse_rank filter",
    "fuzzy_name_matches": "vocabulary collapse first (partial+final HashAggregate), so "
    "the self-join sees distinct names only; blocking-key equi-join (shuffle on the "
    "token, never a cross join); Levenshtein runs after the candidate distinct; both "
    "support join-backs broadcast",
    "dup_graph_pagerank": "the iterative-numeric plan shape: three unrolled power-method "
    "iterations, each a (contribution join on the source id, grouped sum on the "
    "destination id) pair — every shuffle keys on the node id and per-iteration state "
    "is one (id, rank) row per node.  The pre-execution tree below repeats the shared "
    "edges/degree subtree per iteration; at runtime AQE collapses those into "
    "ReusedExchange stages (5 reuse nodes in the executed plan), so the edge set "
    "shuffles once, not three times",
    "histogram_quantile_sketch": "two single-shuffle passes: per-group bounds (3-row "
    "broadcast back), then the bucket aggregate whose partial side collapses every "
    "partition to <= 128 rows per group BEFORE the exchange — the network moves sketch "
    "cells, never values; the cumulative/readout windows are partitioned by group over "
    "<= 128-row state, and the exact branch reuses the distributed percentile ladder.  "
    "sketch_only=True drops the exact ladder entirely — the production tier bench.py "
    "times alongside (bench_details.json sketch_only_queries)",
    "kmv_jaccard_langs": "one shingle-distinct shuffle feeds BOTH branches; signatures "
    "are WindowGroupLimit-capped to k=64 rows per lang, so the pair union/rank/overlap "
    "stages touch only 10 pairs x <= 128 signature rows (the whitelisted lang-pair "
    "nested loop is over the 5-row DISTINCT language dimension); the exact-Jaccard "
    "self-join fans out per shingle by at most the language count.  sketch_only=True "
    "drops the exact branch — the signature-only production tier bench.py times "
    "alongside",
    "kmv_set_difference": "same plan skeleton as kmv_jaccard_langs: one shingle-distinct "
    "shuffle feeds the signature AND exact branches; signatures are WindowGroupLimit-capped "
    "to k=64 rows per lang; the difference estimator reads only the union-signature "
    "membership flags (pairs x <= 128 rows), and the exact n_a_only/n_b_only come from the "
    "same bounded-multiplicity shingle self-join the Jaccard query carries.  "
    "sketch_only=True keeps only the signature algebra — the production tier bench.py "
    "times alongside",
    "events_hourly_bloom_returns": "the filter aggregation's key domain is (hour, pos) — "
    "the partial aggregate caps every partition at <= 4,096 set-bit rows per hour "
    "regardless of user cardinality (the streaming twin's state-size claim, "
    "batch-visible); the probe is a (hour, pos) equi-join against that bounded set; the "
    "exact return branch is an (hour+1, user)-keyed self-join of distinct hour-user pairs",
    "events_hourly_hll": "the register aggregation's key domain is (hour, bucket) — "
    "the partial aggregate caps every partition at <= 256 register rows per hour "
    "regardless of user cardinality (the streaming twin's state-size claim, "
    "batch-visible; registers are MAX aggregates, streaming-safe by construction); "
    "the exact branch is one per-hour distinct aggregate",
    "cms_selfjoin_size": "the sketch side map-side-combines every partition to "
    "<= 1,024 counter cells before the exchange (F2 of any fact table from 4 KB of "
    "mergeable state); the exact branch is one per-key aggregate feeding a 1-row sum; "
    "the output assembles via whitelisted 1-row broadcasts",
    "events_daily_hll_rollup": "both register aggregations are time-bucket-bounded — "
    "<= 256 cells per hour, then <= 256 per day after the elementwise-max merge; the "
    "exact branch is one per-day distinct aggregate; nothing touches raw events twice",
    "events_sliding_hll": "the 4x window explode feeds a (window, bucket)-bounded "
    "partial aggregate — <= 4 x 256 register rows per 6-hour slide regardless of user "
    "cardinality (the overlap factor is the ONLY state multiplier); the exact branch "
    "is one per-window distinct aggregate over the same explode",
    "cms_join_size_estimate": "each relation's sketch map-side-combines to <= 1,024 "
    "cells; the estimator join touches two 1,024-row frames; the exact branch is one "
    "hash equi-join; 1-row broadcasts assemble the output (whitelisted)",
    "rrf_hybrid_retrieval": "each pool is a TakeOrderedAndProject global top-20 (k-row "
    "per-partition state, no full sort) ranked by a window over the 20 survivors; the "
    "fusion full-outer join touches two 20-row frames; the 1-row BM25 corpus stats and "
    "the probe vector broadcast",
    "events_hourly_cms": "the sketch aggregation's key domain is (hour, r, b) — the "
    "partial aggregate caps every partition's output at depth*width cells per hour "
    "regardless of user/event cardinality (the streaming twin's state-size claim, "
    "batch-visible); the top-user rank window is hour-partitioned; the probe join is "
    "a (hour, r, b) equi-join",
    "embedding_top_pc": "the Gram accumulation is the only Spark stage — posexplode^2 "
    "streams through a partial HashAggregate that caps every partition's output at "
    "d^2=4,096 cells; the Gram is read once under that bound (limit 4,097, a wider "
    "corpus raises), the power steps, trace and Rayleigh terms run on the driver in "
    "exact Python integers, so the visible plan is the sort of the d-row readout.  "
    "sketch_only=True runs the same read and loop in plain double arithmetic (no int8 "
    "quantization / sign-split rescaling — the integer regime exists for oracle "
    "replayability); bench.py times both tiers",
    "events_time_weighted_value": "one shuffle on user_id shared by the lead window "
    "and the aggregation; weights are exact integer microseconds x integer cents, so "
    "the only float is the final ratio projection",
    "revenue_decline_streaks": "the heavy work is the same (nation, month) rollup as "
    "revenue_trend_slope — partial aggregate to calendar-bounded cells; the lag/island/"
    "streak windows all key on nation and move <= months-per-nation rows",
    "bloom_semijoin_stats": "the bit set is a <= 4,096-row broadcast however many keys "
    "feed it; probe verdicts come from a distinct-key left-semi against it; the exact "
    "branch is a plain key semi-join; five 1-row aggregates assemble the output row "
    "(whitelisted 1-row cross joins)",
    "events_hourly_value_quantiles": "the histogram aggregation's key domain is "
    "(hour, bucket) — partial aggregate caps every partition at 64 cells per hour "
    "(the streaming twin's state claim, batch-visible); cumulative/readout windows "
    "are hour-partitioned over <= 64-row state; the exact branch is the per-hour "
    "percentile ladder",
    "referential_integrity_audit": "orphan checks are LEFT joins + null-probe CASE sums "
    "folded into ONE conditional aggregate per fact table (never an anti-join per "
    "check); the PK check is a per-key partial aggregate; all six branches reduce to "
    "1-row frames before the union",
    "revenue_trend_slope": "two stacked hash aggregates (monthly rollup keyed on "
    "(nation, month), then per-nation sufficient stats) behind one shuffle join "
    "(orders-customer) and a broadcast nation dim; the OLS combine is a projection",
    "market_share_by_year": "7-relation tree: every dimension (nation twice, under "
    "different roles) broadcasts — zero fact-side join shuffle; the only exchanges are "
    "the partial/final aggregate and the per-year share window",
    "text_repetition": "fully map-side per-doc stats (round 8): total/distinct shingle "
    "counts from size()/array_distinct() in one projection — the only shuffle is the "
    "tiny per-source aggregate; the token-count pre-filter replaces the post-hoc "
    "size()-predicate that Catalyst pushed below the spreading repartition (SCALE.md §4)",
    "local_supplier_volume": "Q5 tree: supplier/customer/nation/region broadcast; the "
    "cross-dimension nation equality is a post-join filter on two broadcast sides; date "
    "+ region predicates pushed to their scans",
    "customer_order_histogram": "Q13: the priority exclusion lives in the LEFT join's ON "
    "clause — pushed into the orders scan, while the customer side stays unfiltered so "
    "zero-order customers survive with count 0",
    "vocab_top_ngrams": "tokens materialize into a column before shingling (no CSE inside "
    "HOF lambdas); global top-20 is TakeOrderedAndProject, never a full sort",
    "latest_record_compaction": "SCD-1 compaction as ONE max(struct) aggregation — "
    "SortAggregate (struct max is not hash-aggregable) but still partial+final: the "
    "shuffle carries one row per key per partition, where the row_number window would "
    "shuffle every input row",
    "bm25_doc_retrieval": "token explode shuffles once on (doc_id, token); the probe-term "
    "df table and 1-row corpus stats broadcast; the global top-10 is "
    "TakeOrderedAndProject feeding a 10-row ranking window",
    "source_unigram_divergence": "one shuffle to (source, token) counts; token marginals "
    "and the corpus total broadcast onto the vocab x source grid; the zero-count cells "
    "come from a broadcast left join, never a shuffle",
    "events_hourly_anomaly": "single events scan to (type, hour) counts; per-type "
    "moments (3 longs each) broadcast back onto the hourly series; the z-score is pure "
    "codegen arithmetic over exact integer sums",
    "common_shingle_fraction": "document frequency as a window COUNT over the shingle "
    "partition — ONE shuffle on the shingle key replaces the df-aggregate + join-back "
    "(which would shuffle the shingle table twice); per-doc aggregation follows",
    "vocab_oov_rate": "vocabulary = global top-10 TakeOrderedAndProject over the "
    "token-frequency aggregate, broadcast to tag the token stream map-side; only the "
    "two token aggregations shuffle",
    "prefix_dup_groups": "prefix computed map-side from the scan (no explode); one hash "
    "aggregation on the prefix key — shuffle volume is one short string per document",
    "dormant_customer_balance": "Q22 composition: the 1-row balance average broadcasts "
    "(BroadcastNestedLoopJoin on a single row is the cheap degenerate case); the NOT "
    "EXISTS is a LEFT ANTI hash join keyed on custkey with the date predicate pushed "
    "into the orders scan",
    "dedup_cluster_density": "the eagerly-checkpointed pair set feeds components, "
    "per-cluster sizes and edge stats; the component labels are a driver-resolved "
    "local relation that broadcasts into both joins",
    "text_token_entropy": "H = ln n − Σc·ln c/n turns the per-token probability fold "
    "into two plain aggregates over (doc_id, token) counts — both map-side-combinable, "
    "no windows, no broadcast state",
    "doc_unigram_logprob": "the Zipf-bounded corpus unigram model and its 1-row total "
    "broadcast onto the per-doc token counts; one shuffle on (doc_id, token), one "
    "per-doc aggregate",
    "kmv_distinct_sketch": "the rank-≤-k filter plans as WindowGroupLimit — "
    "per-partition k-row group limits before the single per-source window sort; the "
    "48-bit md5 fold is pure codegen string/arithmetic expressions",
    "hll_distinct_sketch": "the register array is two map-side-combinable hash "
    "aggregates — (source, bucket) max(rho) then a ≤256-rows-per-group fold — over "
    "the same codegen md5 fold as KMV; the exact-count branch reuses the distinct "
    "shingle exchange",
    "weighted_sample_aes": "the A-ES key ln(u)/w is a pure map-side codegen "
    "expression (no RNG, no exchange to build it); the per-source top-3 plans as "
    "WindowGroupLimit per-partition group limits before the single window sort",
    "bilateral_trade_volume": "Q7: both nation roles broadcast; the disjunctive "
    "nation-pair predicate is a post-join residual over the two broadcast dims while "
    "orders/customer/supplier join key-local",
    "product_profit_by_nation_year": "Q9 shape: part (LIKE-filtered at the scan), "
    "supplier and nation broadcast into the lineitem-orders join; one "
    "partial-aggregated shuffle on (nation, year)",
    "returned_item_customers": "Q10: returnflag filter pushed to the lineitem scan; "
    "global top-20 after the grouped aggregation is TakeOrderedAndProject, never a "
    "full sort",
    "priority_shipping_split": "Q12 shape: both CASE branches fold into one "
    "partial+final aggregate over the fact-fact join; the shipdate ≥ orderdate "
    "residual evaluates inside the join",
    "brand_supplier_counts": "Q16 shape: the NOT IN subquery plans as a broadcast "
    "null-aware anti join; COUNT(DISTINCT) is the two-level expand aggregate, partial "
    "on (brand, band, suppkey)",
    "price_percentiles": "distributed histogram ladder (round 8): value-histogram "
    "groupBy, per-group running count window, equi-join against the tiny target-rank "
    "table + residual bracket filter — bounded memory per executor where the "
    "percentile() builtin buffers the whole group",
    "sliding_chunk_windows": "overlap chunking is pure per-row work (late round 8): "
    "scan -> project -> Generate(explode(sequence)) -> project; the only Exchange is "
    "the presentation sort's range partitioning — no hash shuffle at any corpus size",
    "bigram_pmi": "collocation mining (late round 8): one shuffle for bigram counts; "
    "the unigram-count table is vocab-bounded and broadcast onto BOTH join sides; "
    "top-25 via TakeOrderedAndProject after rounding the PMI (deterministic ranking)",
    "kmv_sketch_union": "KMV set operations (late round 8): the shared distinct-shingle "
    "and distinct-hash subtrees dedupe via ReusedExchange (no persists); rank filters "
    "rewrite to WindowGroupLimit so no partition's full hash set sorts in one place; "
    "the merge consumes sketch rows only (<= k per side)",
    "scd2_user_state_history": "SCD-2 history build (late round 8): lag-detects-change, "
    "running-sum island id, per-island aggregate, lead() validity bounds — every stage "
    "partitions by user_id, so ONE natural-key exchange feeds all four",
    "state_as_of_label_time": "point-in-time join (late round 8): the interval join rides "
    "the user_id equi key as a hash join with [valid_from, valid_to) containment as a "
    "residual — never a nested loop; labels and history shuffle once on the same key",
    "warc_curation_by_day": "round 10: partition-per-segment WARC scan (Python data "
    "source) -> pure-projection extract -> md5-keyed dedup aggregate within (source, "
    "day) -> (window, source)-keyed rollup; two keyed exchanges, both on hash keys, "
    "never full texts twice; identical logical plan runs as the streaming twin",
    "label_centroid_similarity": "round 10: posexplode to (label, dim) with map-side "
    "combine into |labels|xD centroids; the pairwise centroid join is broadcast-scale "
    "on the dim key (config-sized input), so nothing quadratic in row count plans",
    "event_interarrival_profile": "round 10: (event_type, day)-partitioned lag window "
    "(no partition grows with stream lifetime) -> integer ns gaps -> exact-percentile "
    "histogram ladder keyed on event_type + a count/max aggregate joined at the end; "
    "the ladder's windows all carry the group key, so nothing funnels one task",
    "dup_cluster_size_dist_star": "round 11: exact Jaccard pairs -> "
    "large-star/small-star connected components (forced; per-round state is the "
    "contracting edge set, 2 rounds on shallow dup graphs) -> per-size cluster "
    "counts; the labeling converges BEFORE this plan is built, so the recorded "
    "plan reads the checkpointed star forest — the loop's per-round plans are "
    "groupBy-min + key join + distinct, all on the edge key",
    "merge_upsert_orders": "round 11: MERGE round trip — changeset keys "
    "broadcast-anti-join the scratch base, union, write-audit-swap, read back, "
    "per-status aggregate; the recorded plan is the post-merge read (scan -> "
    "partial+final hash aggregate), the rewrite is the one-time table-rewrite "
    "floor any format pays without row-level deletes",
    "mad_outlier_rate": "round 11: two DEPENDENT exact-percentile ladder passes "
    "(median, then median of absolute deviations), each fed back via a "
    "|groups|-row broadcast — the winsorization shape nested one level deeper; "
    "every ladder window carries the group key.  sketch_only=True swaps both exact "
    "ladders for percentile_approx sketches (one aggregate pass each) — the "
    "production tier bench.py times alongside",
    "concurrent_sessions_profile": "round 11: sweep-line interval concurrency — "
    "per-user sessionization windows, then +-1 boundary deltas with a "
    "day-partitioned running sum; replaces the quadratic range self-join with "
    "one sort + prefix sum, and no window is unpartitioned",
    "pii_redaction_stats": "round 11: the PII scrub — chained regexp_replace "
    "(email -> phone -> ip) entirely inside whole-stage codegen, zero Python, "
    "one shuffle (the per-source aggregate); counts ride the same projection",
    "multi_touch_attribution": 'round 14 wave 2: exact penny-allocation attribution — one user-keyed equi-join (24 h range predicate rides as the join filter, no time cross-join), one purchase-partitioned rank window, user-keyed aggregates; every shuffle keyed on user or purchase id',
    "revenue_theilsen_slope": 'round 14 wave 2: Theil-Sen — the fact scan collapses to the calendar-bounded monthly rollup BEFORE the pairwise self-join, so the explosion is C(n_months,2) per nation; both windows nation-partitioned; the median is rank-selected, no quantile builtin',
    "similarity_inverted_index": 'round 14 wave 2: sparse posting-list ANN — per-vector top-8 sparsification windows partition by vec id; candidate generation is a dim equi-join + hash aggregate (SortMergeJoin/shuffled hash on dim — the posting-list intersection), never an all-pairs nested loop; top-k per probe is a rank window above the pair aggregate',
    "cube_distinct_hll": 'round 14 wave 2: the only corpus-sized stage is the fine-grain register HashAggregate (key domain types x 7 x 256); the Expand for grouping sets runs over register-table-sized frames on both the sketch and the exact branch',
    "pareto_frontier_parts": 'round 14 wave 2: linear skyline — bucket-partitioned running max (RANGE frame to -1 on integer cents), equal-price groupBy, and ONE domain-bounded unpartitioned window over the <= ~1,201-row $1-bucket summary (whitelisted in test_plan_sweep.py); the quadratic NOT-EXISTS lives only in the oracle',
    "bootstrap_ci_revenue": 'round 14 wave 3: Poisson bootstrap — the x32 replicate fan-out is a map-side explode (no resampling shuffle); one (nation, replicate)-keyed aggregate carrying two BIGINTs per group, then a nation-partitioned rank window over 32 rows per nation; the multiplicity ladder is a pure integer CASE inside codegen',
    "incremental_rollup_maintenance": 'round 14 wave 3: retraction-stream IVM — one delta-sized signed aggregate + one rollup-sized full-outer merge; every frame past the first aggregates is calendar-bounded (~84 month rows), so per-batch cost is O(delta) regardless of base history',
    "revenue_seasonality_regression": 'round 14 wave 4: Cramer-solved two-regressor OLS — the same two stacked hash aggregates as revenue_trend_slope (monthly rollup, then per-nation sufficient statistics); the 3x3 determinants are pure projection arithmetic over the nation-sized stats frame',
    "corr_matrix_lineitem": 'round 14 wave 4: one map-side-combining aggregate to a 1-row frame (15 cells: BIGINT sums + DECIMAL(38,0) squared/cross sums — the sf1 soak caught BIGINT overflowing at sf0.1); the 6-row matrix explodes from that single row, no second scan',
    "jaccard_prefix_filter": "round 14/15: exact set-similarity join — "
    "shingle distinct, df aggregate, per-doc rank window (keyed), the "
    "prefix-entry equi-join now aggregated per pair to the FIRST shared "
    "prefix token's positions for the PPJoin positional filter (round 15: "
    "candidates 1,126 -> 32 at sf0.001), then the candidate-bounded "
    "verification join; nothing all-pairs anywhere",
    "events_hourly_kmv": "round 15: streaming-KMV batch readout — one keyed "
    "aggregate to <= 64 MIN cells per hour (the streaming operator's own "
    "plan), a per-hour readout over <= 64-row frames, one distinct "
    "aggregate for the exact branch; state bound IS the plan shape",
    "mg_heavy_hitters": "round 15: Misra-Gries summary — one hash aggregate "
    "over the occurrence stream, TakeOrderedAndProject top-33 for the "
    "threshold (no global sort), two 1-row broadcasts (threshold + total), "
    "final filter+project; summary <= k rows",
    "countsketch_user_freq": "round 15: signed Count-Sketch — explode to "
    "5 (r,b,sign) cells per row, map-side-combining SUM to <= 1,280 signed "
    "cells, broadcast cells onto the bounded user-dimension probes, "
    "median-of-5 via sort_array on a per-user collect_list (keyed, "
    "5 elements)",
    "priority_sample_subsetsum": "round 15 wave 2: ONE "
    "TakeOrderedAndProject(65) subtree (per-partition top-65, never a "
    "global sort) feeds rank/tau/HT-estimate as whole-frame windows over "
    "the materialized 65-row frame; the exact branch is one "
    "map-side-combined SUM with the hash expression pruned",
    "revenue_gini_lorenz": "round 15 wave 3: global rank zone-decomposed "
    "— two keyed aggregates, intra-bucket running sums in a "
    "bucket-PARTITIONED window, the prefix sum over the SF-invariant "
    "~14.7k-row bucket summary (the one single-task stage), a 10-row "
    "broadcast decile range-join; no per-customer global sort anywhere",
    "survival_time_to_purchase": "round 15 wave 3: Kaplan-Meier — three "
    "keyed aggregates (first-view, first-qualifying-purchase, per-day "
    "counts) + one keyed left join build the day-cell table, read once "
    "under a 65,536-cell bound (limit 65,537, more raises); the risk-set "
    "and product-limit fold runs on the driver, so the visible plan is "
    "the sort of the per-day readout",
    "basket_association_rules": "round 15 wave 4: baskets collect with "
    "ONE keyed aggregate, p1<p2 combinations explode MAP-SIDE from the "
    "sorted array (codegen transform/slice/flatten), the (p1,p2) count "
    "is the only pair-sized exchange, top-10 by TakeOrderedAndProject, "
    "and the 10-row result broadcasts against the streaming "
    "part-frequency dim",
    "revenue_cusum_changepoint": "round 15 wave 4: one monthly keyed "
    "aggregate; index/prefix/peak windows on the <= ~84-row calendar "
    "table; the changepoint argmax is pure-BIGINT cross-multiplied "
    "arithmetic",
    "quality_score_auc": "round 15 wave 4: one keyed aggregate per "
    "distinct score; the midrank prefix sum runs on the domain-bounded "
    "distinct-score table — never a per-event sort",
    "revenue_autocorrelation": "round 15 wave 5: one monthly keyed "
    "aggregate; six LAG windows + the lag-stacked ratio all on the "
    "<= ~84-row calendar table; sufficient statistics in DECIMAL(38,0)",
    "revenue_seasonal_decomposition": "round 15 wave 6: one monthly "
    "keyed aggregate; LAG/LEAD/rolling 2x12-MA windows and the 12-row "
    "seasonal join all on the <= ~84-row calendar table; trend24 and "
    "seasonal numerators pure BIGINT",
    "market_concentration_hhi": "round 15 wave 6: one (nation, "
    "supplier)-keyed aggregate behind a broadcast supplier dim, one "
    "nation rollup with DECIMAL(38,0) squared-share cells, a broadcast "
    "25-row nation join — no window, no self-join",
    "cluster_aware_split": "round 18: bounded jaccard pair generator + "
    "iterative components feed a left join back onto documents; the "
    "split decision is one codegen md5 expression and the output is a "
    "single map-side-combined (split, source) aggregate",
    "cluster_sampling_weights": "round 18: same pair/components shape; "
    "the cluster-size aggregate is cluster-count-sized and broadcasts "
    "back onto the per-doc projection — no window",
    "bigram_lm_quality": "round 18: one shuffle for corpus bigram "
    "counts, one for the instance join on (w1, w2); vocab-bounded "
    "unigram counts and the 1-row vocab total broadcast; the logprob "
    "fold window is doc-PARTITIONED",
    "spearman_rank_corr": "round 18: midrank prefix windows over the "
    "50-value quantity and 11-value discount DOMAIN tables, broadcast "
    "back onto ONE map-side-combined sufficient-statistics pass; 1-row "
    "output",
    "ngram_novelty_rate": "round 18: trigram instances shuffle once on "
    "the shingle for the min-doc aggregate and once for the instance "
    "join back (the standard dedup shingle shape), then one map-side-"
    "combined per-doc rollup; no window, no collect",
    "source_length_kruskal": "round 18: midrank prefix window over the "
    "length-DOMAIN count table broadcasts onto the (source x length) "
    "cell table; the H fold is an ordered window over the per-source "
    "rank sums (one row per source); 1-row output",
    "events_hourly_countsketch": "round 18: the signed (hour, r, b) "
    "cell aggregate is bounded at depth*width per hour; the top-user "
    "rank window is hour-PARTITIONED; the probe join is a "
    "(hour, r, b)-keyed equi-join — the eighth streaming family's "
    "batch readout",
    "score_lift_deciles": "round 18: one per-score hash aggregate, "
    "then every window (score-DESC cumulative, decile gains) and the "
    "10-row k-grid range join run on the DOMAIN-bounded distinct-score "
    "table; 10-row output",
    "source_length_levene": "round 18: one (source, length) hash "
    "aggregate; the median scan windows are source-PARTITIONED over "
    "the domain-bounded cell table; the per-source median frame "
    "broadcasts back; the F fold is an ordered window over one row "
    "per source; 1-row output",
}


def main() -> None:
    from walmart_e_commerce_sales_data_pipeline_spark import queries as q
    from walmart_e_commerce_sales_data_pipeline_spark.plans import formatted_plan
    from walmart_e_commerce_sales_data_pipeline_spark.session import get_spark

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md"), "w") as f:
        f.write("# PLANS — physical plans of the flagship queries (sf0.01, AQE on)\n\n")
        f.write("Regenerate with `python tools/gen_plans.py` after plan-affecting changes.\n")
        f.write(
            "Each plan is the *pre-execution* formatted plan; AQE may further "
            "coalesce partitions or convert join strategies at runtime.\n\n"
        )
        for name, comment in COMMENT.items():
            df = q.REGISTRY[name].fn(spark, SF_DIR)
            plan = formatted_plan(df)
            tree = plan.split("\n\n(1)")[0]
            scans = "\n".join(
                line
                for line in plan.splitlines()
                if "PushedFilters" in line or "ReadSchema" in line
            )
            f.write(f"## {name}\n\n*{comment}*\n\n```\n{tree}\n{scans}\n```\n\n")
    spark.stop()
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
