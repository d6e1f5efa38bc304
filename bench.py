#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query wall time excludes Spark session startup (BASELINE.md bench
posture).  Also times the reference-parity Walmart ETL end-to-end on the
reference's own bundled data for a like-for-like comparison with the
measured pandas baseline (0.623 s end-to-end).  Full per-query detail
goes to the ``bench_details.json`` sidecar next to this script, which
each run overwrites.

Those two environment variables are the only settings.  The trust gates
below are constants: every wall is stamped trusted only when
host-health probes around it were quiet on three signals (32-way
shuffle throughput, single-core speed, parquet scan path).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REFERENCE_DIR = "/root/reference"

# Parallel gate: min-of-N of the 32-way shuffle calibration (~0.33 s on
# a quiet box).  The start of the run waits, up to CAL_GATE_ATTEMPTS
# times CAL_GATE_SLEEP_SEC apart, until this gate AND the single-thread
# gate clear.  If the box never goes quiet the sweep still runs (an
# artifact marked untrusted beats no artifact), stamped
# "calibration_trusted": false.
CAL_GATE_SEC = 0.33
# Single-thread gate: serial-path queries (presentation sorts,
# driver-side materialization, the ETL e2e) drift on single-core speed,
# which the parallel signal does not watch.  Quiet floor ~0.27-0.31 s.
CAL_ST_GATE_SEC = 0.40
CAL_GATE_ATTEMPTS = 8
CAL_GATE_SLEEP_SEC = 45.0
# The end calibration and each probe cannot retry until quiet (a later
# sample says nothing about the window that just closed), so their one
# shot takes min-of-5: a 1-2 s blip rarely straddles all five samples,
# while a sustained load fails every one.
END_CAL_RUNS = 5
PROBE_RUNS = 5
# A probe runs before every PROBE_EVERY_N headline queries and once
# after the last, so a wave arriving mid-sweep untrusts exactly the
# segments it straddled.
PROBE_EVERY_N = 10
# Probe and end parallel threshold: max(CAL_GATE_SEC, 1.3 * this run's
# trusted start calibration).  An absolute 0.33 gate refused whole
# sweeps on a few-percent ambient drift; 1.3x still refuses the measured
# 1.6-4x waves.
PROBE_PAR_REL_BAND = 1.3
# Scan-path gate: a host phase can slow the parquet scan path 1.5-3x
# while both synthetic calibrations read quiet.  0.30 s is calibrated on
# the default sf0.1 dir (quiet probe floor 0.09-0.20 s, start scan
# 0.19-0.23 s); the scan workload grows with the documents table, so at
# another SF dir the scan signal marks walls untrusted whenever that
# dir's scan is slower than 0.30 s, or than 1.5x its own start scan.
SCAN_GATE_SEC = 0.30
# Wider than the parallel band: the quiet scan floor spreads ~2.3x
# across sweeps against ~1.2x for the parallel signal.
SCAN_REL_BAND = 1.5
# Per-segment retry: quiet-wait attempts per refused segment, and the
# wall budget for all retries (a typical sweep is ~4 min plus probes;
# 600 s re-measures 4-6 segments).
SEG_RETRY_WAIT_ATTEMPTS = 3
SEG_RETRY_BUDGET_SEC = 600.0
N_RUNS = 3  # min of 3 per query: the first run pays JVM class-loading/codegen


def band_sec(anchor: float, anchor_trusted: bool, gate: float, band: float) -> float:
    """A relative trust threshold: ``max(gate, band * anchor)`` when the
    anchoring start calibration itself cleared ``gate``, else ``gate``
    (an untrusted anchor says nothing about the quiet floor).  The max()
    floor means the band is never stricter than the absolute gate."""
    if not anchor_trusted:
        return gate
    return max(gate, band * anchor)


def probe_verdict(
    par_min: float,
    st_min: float,
    scan_min: float,
    par_band: float,
    scan_band: float,
    st_gate: float = CAL_ST_GATE_SEC,
) -> bool:
    """TRIPLE-signal trust for a probe or the end calibration: 32-way
    shuffle throughput vs the relative parallel band, single-core speed
    vs the absolute st gate, AND the parquet scan path vs the relative
    scan band.  Any one signal over its threshold refuses — each watches
    a host resource the other two have been measured blind to (SCALE.md
    §§11, 37)."""
    return par_min <= par_band and st_min <= st_gate and scan_min <= scan_band


def per_query_trusted(
    names: list[str],
    probe_trusted: list[bool],
    every_n: int = PROBE_EVERY_N,
) -> dict[str, bool]:
    """Per-query trust verdicts from the interleaved probe verdicts.

    ``probe_trusted[s]`` is the verdict of the probe taken just BEFORE
    the s-th segment of ``every_n`` queries (``probe_trusted[0]``
    precedes the sweep) and ``probe_trusted[s+1]`` just after it, so
    query p in segment ``p // every_n`` is trusted iff both its
    bracketing probes passed ``probe_verdict``."""
    n_segments = max(1, -(-len(names) // every_n)) if names else 0
    assert len(probe_trusted) >= n_segments + 1 or not names, (
        f"{len(probe_trusted)} probes cannot bracket {n_segments} segments"
    )
    out: dict[str, bool] = {}
    for p, name in enumerate(names):
        s = p // every_n
        out[name] = bool(probe_trusted[s]) and bool(probe_trusted[s + 1])
    return out


def untrusted_segments(
    n_queries: int,
    probe_trusted: list[bool],
    every_n: int = PROBE_EVERY_N,
) -> list[int]:
    """Segment indices whose walls the interleaved probes REFUSED — a
    segment is untrusted unless BOTH its bracketing probes cleared the
    gates.  These are the segments the per-segment retry re-measures in
    the next quiet window."""
    if not n_queries:
        return []
    n_segments = -(-n_queries // every_n)
    return [
        s
        for s in range(n_segments)
        if not (probe_trusted[s] and probe_trusted[s + 1])
    ]


def retry_spliceable(probe_pre: dict | None, probe_post: dict | None) -> bool:
    """A retried segment's walls may be spliced into the sidecar's
    trusted set iff BOTH retry probes bracketing it cleared the gates —
    the identical trust criterion the first-pass walls face, so a
    spliced wall carries exactly the same evidence as a first-pass
    trusted wall."""
    return bool(
        probe_pre
        and probe_pre.get("trusted")
        and probe_post
        and probe_post.get("trusted")
    )


def apply_segment_splice(
    timings: dict,
    all_runs: dict,
    runtime: dict,
    query_trusted: dict,
    walls: dict,
    rruns: dict,
    rmetrics: dict,
    loadavgs: dict,
    rloads: dict,
) -> list[str]:
    """Splice a trusted retry's walls into the sidecar maps in place:
    each retried query's wall/runs/metrics and loadavg replace the
    refused first-pass values (a spliced wall paired with its
    first-pass loadavg would mispair the wave context with the
    quiet-window measurement) and its trust verdict flips to True.
    Returns the spliced names; callers gate it on retry_spliceable."""
    spliced = []
    for name, w in walls.items():
        timings[name] = w
        all_runs[name] = rruns[name]
        if name in rmetrics:
            runtime[name] = rmetrics[name]
        loadavgs[name] = rloads[name]
        query_trusted[name] = True
        spliced.append(name)
    return spliced


def wait_for_quiet_machine(
    calibrate,
    gate: float = CAL_GATE_SEC,
    attempts: int = CAL_GATE_ATTEMPTS,
    sleep_sec: float = CAL_GATE_SLEEP_SEC,
    sleep=time.sleep,
    st_gate: float = CAL_ST_GATE_SEC,
):
    """Re-run ``calibrate`` until both of its signals clear their gates,
    sleeping ``sleep_sec`` between attempts, at most ``attempts`` times.

    ``calibrate`` returns a ``(parallel_runs, single_thread_runs)``
    tuple; an attempt is quiet only when ``min(parallel) <= gate`` AND
    ``min(single_thread) <= st_gate``.  Returns ``(runs, trusted,
    history)``: the last tuple, whether the gates were met, and every
    attempt for the sidecar.  The sleep is injectable so the refusal
    path is unit-testable without a loaded machine."""
    history: list = []
    for i in range(max(1, attempts)):
        out = calibrate()
        history.append(out)
        par, st = out
        if min(par) <= gate and min(st) <= st_gate:
            return out, True, history
        if i < attempts - 1:
            sleep(sleep_sec)
    return history[-1], False, history


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def _loadavg() -> float:
    # 1-minute load average next to each wall makes attribution of an
    # ambient co-tenant wave mechanical instead of forensic.
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _sample(workload, n_runs: int) -> list[float]:
    """Wall seconds of ``n_runs`` back-to-back calls of ``workload``."""
    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        workload()
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


# Queries with a sketch_only= production tier (VERDICT r13 item 6): the
# default (headline) path carries an exact-truth branch for the oracle;
# sketch_only=True is the branch a production run keeps.  bench records
# both walls in bench_details.json (sketch_only_queries).
SKETCH_ONLY_TIER = [
    "histogram_quantile_sketch",
    "kmv_jaccard_langs",
    "kmv_set_difference",
    "mad_outlier_rate",
    "embedding_top_pc",
    # VERDICT r14 item 8: the two remaining exact-branch-dominated
    # queries — production keeps the counter matrix / the sketch-only
    # estimates; the exact truth exists for the oracle.
    "cms_heavy_hitters",
    "kmv_sketch_union",
]

# Headline set: one representative per operator family (scan+agg, star join,
# every-join-type, windows, sessionization, LSH dedup, vector LSH, text).
HEADLINE = [
    "pricing_summary",
    "scalar_means",
    "join_customer_orders",
    "regional_revenue",
    "join_left_outer",
    "window_topk_orders",
    "window_running_total",
    "top10_expensive_items",
    "distinct_counts",
    "rollup_customer_geo",
    "monthly_avg_value",
    "events_hourly_window",
    "events_sessionization",
    "events_session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "substring_dup_coverage",
    "fuzzy_name_matches",
    "dup_graph_pagerank",
    "dedup_containment",
    "cms_heavy_hitters",
    "histogram_quantile_sketch",
    "kmv_jaccard_langs",
    "kmv_set_difference",
    "events_hourly_cms",
    "embedding_top_pc",
    "events_time_weighted_value",
    "revenue_decline_streaks",
    "bloom_semijoin_stats",
    "events_hourly_bloom_returns",
    "events_hourly_hll",
    "cms_selfjoin_size",
    "events_daily_hll_rollup",
    "events_sliding_hll",
    "cms_join_size_estimate",
    "events_hourly_value_quantiles",
    "rrf_hybrid_retrieval",
    "referential_integrity_audit",
    "revenue_trend_slope",
    "similarity_pairs_blocked",
    "similarity_topk",
    "text_quality_buckets",
    "doc_fingerprint",
    "text_bpe_tokens",
    "profile_documents",
    "similarity_topk_ivf",
    "retrieve_rerank_topk",
    "promo_revenue_share",
    "top_supplier_revenue",
    "grouped_zscore_histogram",
    "asof_join_latest_order",
    "range_join_close_events",
    "window_frames_suite",
    "market_share_by_year",
    "text_repetition",
    "pack_context_segments",
    "decontaminate_corpus",
    "dedup_canonical_keep",
    "mixture_sampling_plan",
    "quantize_embeddings",
    "local_supplier_volume",
    "vocab_top_ngrams",
    "customer_order_histogram",
    "time_series_gap_fill",
    "cdc_chunk_stats",
    # round 6 additions (queries/curation.py)
    "bm25_doc_retrieval",
    "source_unigram_divergence",
    "events_hourly_anomaly",
    "events_rolling_engagement",
    "disjunctive_predicate_revenue",
    # round 7 additions (queries/curation.py, relational3.py)
    "common_shingle_fraction",
    "vocab_oov_rate",
    "prefix_dup_groups",
    "dormant_customer_balance",
    # round 8 additions (queries/clusters.py, curation.py)
    "dedup_cluster_density",
    "text_token_entropy",
    "doc_unigram_logprob",
    "kmv_distinct_sketch",
    # round 8 TPC-H completions (queries/relational5.py)
    "bilateral_trade_volume",
    "product_profit_by_nation_year",
    "returned_item_customers",
    "priority_shipping_split",
    "brand_supplier_counts",
    "order_priority_checking",
    "important_supplier_share",
    "small_quantity_order_revenue",
    "excess_shipping_suppliers",
    # late round 8 additions (queries/analysis.py)
    "kmv_sketch_union",
    "sliding_chunk_windows",
    "bigram_pmi",
    "dup_graph_degree_hist",
    "winsorized_price_stats",
    "ngram_distribution_profile",
    "cross_source_dup_matrix",
    "scd2_user_state_history",
    "state_as_of_label_time",
    # round 9/10 additions (queries/corpus.py, similarity.py, events.py):
    # the WARC wire-format round trip, its incremental per-day rollup
    # twin, the label-centroid drift map, and the event inter-arrival
    # percentile profile
    "warc_roundtrip_curation",
    "warc_curation_by_day",
    "label_centroid_similarity",
    "event_interarrival_profile",
    # round 11 additions (queries/clusters.py, lakehouse.py, analysis.py,
    # events.py): the star-path duplicate-cluster size distribution, the
    # MERGE-upsert round trip (scratch copy is write-once, so min-of-3
    # measures merge+read, not base seeding), the two-pass MAD outlier
    # profile, and the sweep-line session-concurrency profile
    "dup_cluster_size_dist_star",
    "merge_upsert_orders",
    "mad_outlier_rate",
    "concurrent_sessions_profile",
    # round 11 (queries/text.py): the PII-redaction scrub stage
    "pii_redaction_stats",
    # round 11 (queries/curation.py): the HLL register-array twin of the
    # KMV sketch, over the identical portable-hash shingle stream
    "hll_distinct_sketch",
    # round 11 (queries/profiling.py): deterministic weight-proportional
    # sampling (Efraimidis-Spirakis A-ES over the portable hash)
    "weighted_sample_aes",
    # round 14 wave 2: exact penny-allocation attribution, Theil-Sen
    # robust trend, sparse inverted-index ANN, sketch-merged HLL cube
    # margins, and the linear 2-D skyline
    "multi_touch_attribution",
    "revenue_theilsen_slope",
    "similarity_inverted_index",
    "cube_distinct_hll",
    "pareto_frontier_parts",
    # round 14 wave 3: Poisson-bootstrap CI bands and retraction-stream
    # incremental view maintenance
    "bootstrap_ci_revenue",
    "incremental_rollup_maintenance",
    "jaccard_prefix_filter",
    # round 14 wave 4: Cramer-solved seasonal regression and the
    # one-pass Pearson correlation matrix
    "revenue_seasonality_regression",
    "corr_matrix_lineitem",
    # round 15: the streaming-KMV batch readout (fifth sketch family),
    # the Misra-Gries deterministic heavy-hitter summary, and the
    # signed Count-Sketch pair (unbiased frequency + AMS F2)
    "events_hourly_kmv",
    "mg_heavy_hitters",
    "countsketch_user_freq",
    "countsketch_f2",
    # round 15: dyadic-exact landmark-decay engagement counter
    "time_decayed_engagement",
    # round 15 wave 2: the forward-decay (streaming-maintainable) readout,
    # the signed AMS two-relation join-size estimator, DLT priority
    # sampling with its HT subset-sum estimator, and the Benford screen
    "events_forward_decay",
    "countsketch_join_size",
    "priority_sample_subsetsum",
    "benford_digit_profile",
    # round 15 wave 3: the zone-decomposed exact Gini/Lorenz profile and
    # the Kaplan-Meier time-to-conversion curve
    "revenue_gini_lorenz",
    "survival_time_to_purchase",
    # round 15 wave 4: market-basket lift, the BIGINT-exact CUSUM
    # changepoint scan, and the Mann-Whitney ROC-AUC
    "basket_association_rules",
    "revenue_cusum_changepoint",
    "quality_score_auc",
    # round 15 wave 5: Chao1/Good-Turing vocabulary coverage and the
    # exact-integer Box-Jenkins ACF profile
    "vocab_coverage_estimators",
    "revenue_autocorrelation",
    # round 15 wave 6: classical seasonal decomposition and the HHI
    # concentration screen
    "revenue_seasonal_decomposition",
    "market_concentration_hhi",
    # round 15 wave 7: deterministic negative sampling for training pairs
    "training_negative_samples",
    # round 16: per-cohort KM + log-rank, the Zipf/Heaps corpus-profiling
    # pair, the sixth streaming family's batch readout, and the
    # Mann-Kendall trend test
    "survival_km_logrank",
    "zipf_slope_fit",
    "heaps_law_fit",
    "events_hourly_mg",
    "revenue_mann_kendall",
    "source_token_diversity",
    "survival_logrank_stratified",
    # round 17: the exact-ECDF Kolmogorov-Smirnov one-vs-rest drift
    # screen and the two-proportion A/B z-test with Wilson intervals
    "source_ks_drift",
    "conversion_ab_ztest",
    # round 17: the seventh streaming family's batch readout (per-hour
    # A-ES weighted sample) and the chi-squared independence screen
    "events_hourly_sample_aes",
    "event_dow_independence",
    # round 17: the binned PSI drift screen beside the exact-ECDF KS
    "source_psi_drift",
    # round 18: the cluster-keyed split (leakage-free 80/10/10) and the
    # inverse-cluster-size training weights — both ride the shared
    # exact-Jaccard pair generator + components composition
    "cluster_aware_split",
    "cluster_sampling_weights",
    # round 18: the perplexity-proxy LM quality filter and the
    # rank-correlation (Spearman) member of the correlation family
    "bigram_lm_quality",
    "spearman_rank_corr",
    # round 18: per-doc n-gram novelty under ingestion order
    "ngram_novelty_rate",
    # round 18: k-sample rank test (Kruskal-Wallis) across sources
    "source_length_kruskal",
    # round 18: classifier-eval layer (per-class P/R/F1) over lang-id
    "lang_id_precision_recall",
    # round 18: the eighth streaming sketch family's batch readout
    "events_hourly_countsketch",
    # round 18: decile gains/lift ranking evaluation
    "score_lift_deciles",
    # round 18: Brown-Forsythe variance-homogeneity across sources
    "source_length_levene",
]


STDOUT_LINE_LIMIT = 1900  # tail readers of stdout keep only ~2000 bytes


def result_line(
    head: dict,
    timings: dict,
    err_names: list,
    ivf_pruned,
    sf_val,
    limit: int = STDOUT_LINE_LIMIT,
) -> str:
    """The one stdout JSON line, in the richest of three tiers that fits
    in ``limit`` bytes: full-precision walls with ``ivf_pruned``; walls
    rounded to 10 ms; and, as the registry keeps growing, only the ten
    slowest queries.  Every tier carries all of ``head``; the full
    per-query map always lives in the sidecar."""
    err = {"errors": err_names} if err_names else {}

    def line(queries: dict, **extra) -> str:
        return json.dumps(
            {
                **head,
                "queries": queries,
                **err,
                **extra,
                "sf": sf_val,
                "details": "bench_details.json",
            },
            separators=(",", ":"),
        )

    payload = line(timings, ivf_pruned=ivf_pruned)
    if len(payload) > limit:
        payload = line({n: round(t, 2) for n, t in timings.items()})
    if len(payload) > limit:
        slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        payload = line({n: round(t, 2) for n, t in slowest})
    return payload


def main() -> None:
    from walmart_e_commerce_sales_data_pipeline_spark import queries as q
    from walmart_e_commerce_sales_data_pipeline_spark.plans import (
        execution_count,
        metrics_since,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the executor pool / codegen before the timed runs.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Three host-health workloads, each timed min-of-N.  Wall deltas on
    # sub-second queries are dominated by ambient machine state (r7: +98 %
    # on quantize_embeddings with byte-identical shuffle and rows), and the
    # three resources drift independently on a shared box.
    def _par() -> None:
        # 32-way shuffle throughput: pure compute + one shuffle, no I/O.
        (
            spark.range(20_000_000)
            .selectExpr("id % 97 AS k", "id * 2654435761 % 1000003 AS v")
            .groupBy("k")
            .agg({"v": "avg"})
            .collect()
        )

    def _st() -> None:
        # Single-core speed: serial critical paths (presentation sorts,
        # driver-side Row materialization, single-partition result
        # stages) track it, not aggregate throughput.
        acc = 0
        for i in range(5_000_000):
            acc += i * i

    def _scan() -> None:
        # Parquet scan/scheduling path (file I/O, page cache, memory
        # bandwidth), which spark.range() compute never touches.
        (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("sum(n_chars)", "count(*)")
            .collect()
        )

    def _calibrate() -> tuple[list[float], list[float]]:
        return _sample(_par, 3), _sample(_st, 3)

    (cal_runs, cal_st_runs), cal_start_trusted, cal_history = wait_for_quiet_machine(
        _calibrate
    )
    calibration = min(cal_runs)
    calibration_st = min(cal_st_runs)
    # The start scan is not waited on: a degraded scan phase persists for
    # whole sweeps, so it must be stamped, not waited out.
    cal_scan_runs = _sample(_scan, 3)
    # Both relative bands anchor to this run's own start calibration.
    probe_band = round(
        band_sec(calibration, cal_start_trusted, CAL_GATE_SEC, PROBE_PAR_REL_BAND), 3
    )
    scan_anchor = min(cal_scan_runs)
    scan_start_trusted = scan_anchor <= SCAN_GATE_SEC
    scan_band = round(
        band_sec(scan_anchor, scan_start_trusted, SCAN_GATE_SEC, SCAN_REL_BAND), 3
    )

    def _probe(par_band: float) -> dict:
        # One untimed settle run absorbs the bench's own residue (JVM GC,
        # task teardown) from the query burst just before: without it a
        # probe on an idle box read 0.374 s minutes after a 0.279 s start.
        settle = _sample(_par, 1)[0]
        par = _sample(_par, PROBE_RUNS)
        st = _sample(_st, PROBE_RUNS)
        scan = _sample(_scan, 3)
        return {
            "settle_run": settle,
            "par_runs": par,
            "par_min": min(par),
            "st_runs": st,
            "st_min": min(st),
            "scan_runs": scan,
            "scan_min": min(scan),
            "loadavg_1m": _loadavg(),
            "par_band_sec": par_band,
            # the scan band stays anchored to the run's start scan, also
            # in a retry: the gate exists to refuse a drifted scan
            # phase, so a retry must not re-baseline to it
            "scan_band_sec": scan_band,
            "scan_trusted": min(scan) <= scan_band,
            "trusted": probe_verdict(
                min(par), min(st), min(scan), par_band, scan_band
            ),
        }

    def _time_query(fn, **kwargs) -> tuple[list[float], dict]:
        """N_RUNS cache-cold runs of ``fn(spark, SF_DIR, **kwargs)``:
        their walls (callers keep the min), and the last run's
        shuffle/spill metrics with its row count (wall-clock can stay
        flat at sf0.1 while shuffle volume doubles; result drift is a
        correctness smell the wall can't see)."""
        runs: list[float] = []
        for _ in range(N_RUNS):
            # operators that persist intermediates must not let run 2
            # reuse run 1's cached state, nor one query another's
            spark.catalog.clearCache()
            mark = execution_count(spark)
            t0 = time.perf_counter()
            rows = fn(spark, SF_DIR, **kwargs).collect()
            runs.append(round(time.perf_counter() - t0, 3))
        return runs, {**metrics_since(spark, mark), "rows": len(rows)}

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    runtime: dict[str, dict[str, int]] = {}
    all_runs: dict[str, list[float]] = {}
    loadavgs: dict[str, float] = {}
    probes: list[dict] = []
    for idx, name in enumerate(HEADLINE):
        if idx % PROBE_EVERY_N == 0:
            probes.append({"at_query": idx, **_probe(probe_band)})
        loadavgs[name] = _loadavg()
        try:
            all_runs[name], runtime[name] = _time_query(q.REGISTRY[name].fn)
        except Exception as exc:  # noqa: BLE001 — isolation: one broken
            # query must not zero out the whole round's bench evidence
            # (round 5 lost 41 of 42 measurements to one AnalysisException).
            errors[name] = _error(exc)
            continue
        timings[name] = min(all_runs[name])

    # closing bracket for the final segment
    probes.append({"at_query": len(HEADLINE), **_probe(probe_band)})
    query_trusted = per_query_trusted(
        list(HEADLINE), [p["trusted"] for p in probes]
    )
    all_probes_trusted = all(p["trusted"] for p in probes)
    # First-pass state preserved verbatim: the spliced sidecar must still
    # show what the original sweep measured and refused.
    first_pass_queries = dict(timings)
    first_pass_runs = {n: list(r) for n, r in all_runs.items()}
    query_trusted_first_pass = dict(query_trusted)

    # Per-segment retry: instead of re-running the whole sweep, each
    # refused segment is re-measured alone in the next quiet window,
    # bracketed by two fresh probes, and its walls are spliced in ONLY
    # when both probes cleared (retry_spliceable).  Both raw sweeps stay
    # in the sidecar (first_pass_queries / segment_retries).
    def _retry_segment(s: int, retry_pass: int) -> bool:
        """Re-measure one refused segment; returns True iff its walls
        were spliced (both fresh bracketing probes trusted)."""
        seg_names = [
            n
            for n in HEADLINE[s * PROBE_EVERY_N : (s + 1) * PROBE_EVERY_N]
            if n not in errors
        ]
        if not seg_names:
            return True
        (rcal, _rst), rquiet, rhist = wait_for_quiet_machine(
            _calibrate, attempts=SEG_RETRY_WAIT_ATTEMPTS
        )
        if not rquiet:
            segment_retries.append(
                {
                    "segment": s,
                    "pass": retry_pass,
                    "quiet_wait_trusted": False,
                    "wait_history": rhist,
                }
            )
            return False
        # the retry window anchors its own parallel band — the start
        # calibration says nothing about machine state this much later
        rband = round(band_sec(min(rcal), True, CAL_GATE_SEC, PROBE_PAR_REL_BAND), 3)
        pre = _probe(rband)
        walls: dict[str, float] = {}
        rruns: dict[str, list[float]] = {}
        rmetrics: dict[str, dict] = {}
        rloads: dict[str, float] = {}
        post = None
        if pre["trusted"]:
            for name in seg_names:
                rloads[name] = _loadavg()
                try:
                    rruns[name], rmetrics[name] = _time_query(q.REGISTRY[name].fn)
                except Exception as exc:  # noqa: BLE001
                    errors[f"{name}[retry]"] = _error(exc)
                    continue
                walls[name] = min(rruns[name])
            post = _probe(rband)
        ok = retry_spliceable(pre, post)
        segment_retries.append(
            {
                "segment": s,
                "pass": retry_pass,
                "queries": seg_names,
                "quiet_wait_trusted": rquiet,
                "retry_par_band_sec": rband,
                "probe_pre": pre,
                "probe_post": post,
                "walls": walls,
                "runs": rruns,
                # retry-time loadavg per re-measured query, also spliced
                # into the main loadavg map
                "loadavgs": rloads,
                "spliced": bool(ok and walls),
            }
        )
        if ok:
            spliced_via_retry.extend(
                apply_segment_splice(
                    timings, all_runs, runtime, query_trusted,
                    walls, rruns, rmetrics, loadavgs, rloads,
                )
            )
        return bool(ok)

    segment_retries: list[dict] = []
    spliced_via_retry: list[str] = []
    retry_deadline = time.monotonic() + SEG_RETRY_BUDGET_SEC
    # Up to two passes: a wave that refuses a segment's FIRST retry
    # usually passes within minutes — a second pass over the
    # still-refused segments inside the same budget recovers them
    # without re-running anything already trusted.
    pending = untrusted_segments(len(HEADLINE), [p["trusted"] for p in probes])
    if pending and not cal_start_trusted:
        # the box never went quiet for the START gate — per-segment
        # quiet-waits would spin against the same load; record the skip
        # instead of burning the budget
        segment_retries.append(
            {"skipped": "start-calibration-never-quiet", "segments": pending}
        )
        pending = []
    for retry_pass in range(2):
        if not pending:
            break
        still_refused: list[int] = []
        for s in pending:
            if time.monotonic() > retry_deadline:
                segment_retries.append(
                    {"segment": s, "pass": retry_pass, "skipped": "budget"}
                )
                continue
            if _retry_segment(s, retry_pass):
                continue
            still_refused.append(s)
        pending = still_refused
    untrusted_queries = sorted(
        n for n, ok in query_trusted.items() if not ok and n in timings
    )

    # Production-tier twin measurements: the sketch-only branch a
    # production run keeps (see SKETCH_ONLY_TIER).  Measurement only:
    # nothing here feeds `total`.
    sketch_only_timings: dict[str, float] = {}
    sketch_only_runs: dict[str, list[float]] = {}
    for name in SKETCH_ONLY_TIER:
        try:
            sketch_only_runs[name], _ = _time_query(
                q.REGISTRY[name].fn, sketch_only=True
            )
        except Exception as exc:  # noqa: BLE001
            errors[f"{name}[sketch_only]"] = _error(exc)
            continue
        sketch_only_timings[name] = min(sketch_only_runs[name])

    # Shared-scan tier for the dup-cluster trio (VERDICT r15 item 8 —
    # measurement only): dup_cluster_size_dist_star, dedup_canonical_keep
    # and dup_graph_pagerank each rebuild the same exact-Jaccard pair
    # table in their headline walls.  A production pipeline materializes
    # the pair table once and runs all three consumers against it; this
    # sweep records that cost split — one pair build (persisted +
    # counted) and each consumer's wall on the cached pairs.  Nothing
    # here feeds `total`; the headline walls above are unchanged.
    SHARED_SCAN_TRIO = [
        "dup_cluster_size_dist_star",
        "dedup_canonical_keep",
        "dup_graph_pagerank",
    ]
    shared_scan: dict[str, object] = {}
    shared_pairs = None
    try:
        from walmart_e_commerce_sales_data_pipeline_spark.operators.dedup import (
            jaccard_pairs_from_docs,
        )
        from walmart_e_commerce_sales_data_pipeline_spark.queries.dedup import (
            JACCARD_THRESHOLD,
        )

        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        t0 = time.perf_counter()
        shared_pairs = jaccard_pairs_from_docs(docs, JACCARD_THRESHOLD).persist()
        n_pairs = shared_pairs.count()
        shared_scan["pairs_build_sec"] = round(time.perf_counter() - t0, 3)
        shared_scan["n_pairs"] = n_pairs
        walls: dict[str, float] = {}
        for name in SHARED_SCAN_TRIO:
            fn = q.REGISTRY[name].fn
            # no clearCache between runs: the pairs stay persisted
            walls[name] = min(
                _sample(lambda: fn(spark, SF_DIR, pairs=shared_pairs).collect(), N_RUNS)
            )
        shared_scan["queries"] = walls
        shared_scan["trio_total_sec"] = round(
            shared_scan["pairs_build_sec"] + sum(walls.values()), 3
        )
    except Exception as exc:  # noqa: BLE001
        errors["shared_scan"] = _error(exc)
    finally:
        # a failed consumer must not leave the pair table pinned in
        # executor memory through the remaining timing tiers
        if shared_pairs is not None:
            shared_pairs.unpersist()

    # Reference-parity ETL on the reference's own bundled data (matches the
    # BASELINE.md measurement boundary: extract→transform→agg→load→validate).
    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import main as etl_main

    try:
        loadavgs["walmart_etl_e2e"] = _loadavg()
        runs = []
        for _ in range(N_RUNS):
            with tempfile.TemporaryDirectory() as out:
                t0 = time.perf_counter()
                etl_main(
                    spark,
                    f"{REFERENCE_DIR}/grocery_sales.csv",
                    f"{REFERENCE_DIR}/extra_data.parquet",
                    output_dir=out,
                )
                runs.append(round(time.perf_counter() - t0, 3))
        timings["walmart_etl_e2e"] = min(runs)
        all_runs["walmart_etl_e2e"] = runs
    except Exception as exc:  # noqa: BLE001
        errors["walmart_etl_e2e"] = _error(exc)

    # IVF pruning win (bench-only: at nprobe < n_cells the result is
    # approximate, so it can't share the registered query's exact oracle —
    # this quantifies the ANN speedup the design claims in SCALE.md §7).
    # Same corpus/params as similarity_topk_ivf, probing 2 of 8 cells.
    from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.queries.similarity import (
        TOPK_K,
        TOPK_QUERY_LIMIT,
        _IVF_CELLS,
    )
    from pyspark.sql import functions as F

    try:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
        cents = train_ivf_centroids(emb, n_cells=_IVF_CELLS, sample=1024)
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            ivf_topk(emb, qs, cents, k=TOPK_K, nprobe=2).collect()
            best = min(best, time.perf_counter() - t0)
        # Scanned fraction from the cell histograms (exact candidate count /
        # the brute-force candidate count), without re-running the topk join.
        from walmart_e_commerce_sales_data_pipeline_spark.operators.similarity import (
            _with_cells,
        )

        cell_sizes = {
            r["cell"]: r["n"]
            for r in _with_cells(emb, cents, "vec_id", "embedding", "i", "v", 1)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        probed = (
            _with_cells(qs, cents, "vec_id", "embedding", "i", "v", 2)
            .select("i", "cell")
            .collect()
        )
        n_corpus = emb.count()
        candidates = sum(cell_sizes.get(p["cell"], 0) for p in probed)
        ivf_pruned = {
            "sec": round(best, 3),
            "exact_sec": timings.get("similarity_topk_ivf"),
            "nprobe": 2,
            "n_cells": _IVF_CELLS,
            "scanned_frac": round(candidates / (len(set(p["i"] for p in probed)) * n_corpus), 3),
        }
    except Exception as exc:  # noqa: BLE001
        ivf_pruned = {"err": f"{type(exc).__name__}: {exc}"[:200]}

    # End calibration AFTER the measurements: the start/end pair bounds
    # the machine state the walls were taken under (measured: cal 0.32
    # at start, 1-min load 13.8 mid-run).  Like a probe it cannot retry,
    # so it takes min-of-5 and the probes' verdict, with no settle run.
    cal_end_runs = _sample(_par, END_CAL_RUNS)
    cal_st_end_runs = _sample(_st, END_CAL_RUNS)
    cal_scan_end_runs = _sample(_scan, END_CAL_RUNS)
    scan_end_trusted = min(cal_scan_end_runs) <= scan_band
    cal_end_trusted = probe_verdict(
        min(cal_end_runs),
        min(cal_st_end_runs),
        min(cal_scan_end_runs),
        probe_band,
        scan_band,
    )
    # The run-level flag covers the whole window: both endpoints and
    # every interleaved probe quiet.  A partially-noisy run still names
    # its clean queries via query_trusted.
    cal_trusted = (
        cal_start_trusted
        and scan_start_trusted
        and cal_end_trusted
        and all_probes_trusted
    )

    total = round(sum(timings.values()), 3)
    # Coverage marker: when a query errors it drops out of `total`, which
    # would otherwise read as a speedup vs rounds that measured more
    # queries.  n_measured makes cross-round totals comparable-or-visibly-
    # incomparable.
    n_measured = len(timings)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full-precision detail (per-query shuffle/spill telemetry) goes to a
    # sidecar file: the driver captures only a ~2000-byte stdout tail, so
    # the stdout line must stay under ~1.9 KB to be parseable.
    details_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_details.json")
    with open(details_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "n_measured": n_measured,
                "calibration_sec": calibration,
                "calibration_trusted": cal_trusted,
                "calibration_start_trusted": cal_start_trusted,
                "calibration_end_trusted": cal_end_trusted,
                "all_probes_trusted": all_probes_trusted,
                "probe_every_n": PROBE_EVERY_N,
                "interleaved_st_probes": probes,
                "query_trusted": query_trusted,
                "query_trusted_first_pass": query_trusted_first_pass,
                "untrusted_queries": untrusted_queries,
                "first_pass_queries": first_pass_queries,
                "first_pass_runs": first_pass_runs,
                "segment_retries": segment_retries,
                "spliced_via_retry": sorted(spliced_via_retry),
                "n_trusted": sum(
                    1 for n, ok in query_trusted.items() if ok and n in timings
                ),
                "calibration_gate_sec": CAL_GATE_SEC,
                "calibration_st_gate_sec": CAL_ST_GATE_SEC,
                "probe_par_band_sec": probe_band,
                "probe_par_rel_band": PROBE_PAR_REL_BAND,
                "calibration_gate_attempts": len(cal_history),
                "calibration_gate_history": cal_history,
                "calibration_runs": cal_runs,
                "calibration_end_sec": min(cal_end_runs),
                "calibration_end_runs": cal_end_runs,
                "calibration_st_sec": calibration_st,
                "calibration_st_runs": cal_st_runs,
                "calibration_st_end_sec": min(cal_st_end_runs),
                "calibration_st_end_runs": cal_st_end_runs,
                "calibration_scan_sec": min(cal_scan_runs),
                "calibration_scan_runs": cal_scan_runs,
                "calibration_scan_end_sec": min(cal_scan_end_runs),
                "calibration_scan_end_runs": cal_scan_end_runs,
                "scan_gate_sec": SCAN_GATE_SEC,
                "scan_rel_band": SCAN_REL_BAND,
                "scan_band_sec": scan_band,
                "scan_start_trusted": scan_start_trusted,
                "scan_end_trusted": scan_end_trusted,
                "queries": timings,
                "runs": all_runs,
                "sketch_only_queries": sketch_only_timings,
                "sketch_only_runs": sketch_only_runs,
                "shared_scan": shared_scan,
                "loadavg_1m": loadavgs,
                "errors": errors,
                "runtime_metrics": runtime,
                "ivf_pruned": ivf_pruned,
                "sf": sf_val,
                "cpus": int(CPUS),
                "default_parallelism": spark.sparkContext.defaultParallelism,
            },
            fh,
            indent=1,
        )
    # Stdout line: errors appear as names only (full messages live in the
    # sidecar) so one long exception can't blow the tail-capture budget.
    # Error-key convention (r17 ADVICE): a plain "name" key is a
    # first-pass failure (the query has NO wall in `queries`);
    # "name[retry]" means the FIRST pass measured a wall (still present
    # in `queries`, trust per query_trusted) and only the per-segment
    # re-measurement failed; "name[sketch_only]" scopes to the
    # production-tier twin sweep.
    payload = result_line(
        {
            "metric": "headline_query_wall_clock_total",
            "value": total,
            "unit": "sec",
            "n_measured": n_measured,
            "calibration_sec": calibration,
            "calibration_trusted": cal_trusted,
            "n_untrusted": len(untrusted_queries),
            "n_retried": len(spliced_via_retry),
            "cpus": int(CPUS),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        },
        timings,
        sorted(errors),
        ivf_pruned,
        sf_val,
    )
    # Emit the JSON as the very last stdout bytes: stop Spark first so JVM
    # shutdown chatter can't land after (or inside) the line the harness
    # tails, then print compact + flush.
    spark.stop()
    print(payload, flush=True)


if __name__ == "__main__":
    import logging

    logging.getLogger("py4j").setLevel(logging.ERROR)
    main()
