"""Calibration trust gate on the official bench artifact (VERDICT r11
item 2): BENCH_r{N}.json must never be an unmarked loaded run.

``bench.wait_for_quiet_machine`` is a pure function with an injectable
sleep, so the retry/refusal behavior is pinned here without needing a
loaded (or quiet) machine.  ``bench.probe_verdict`` is the one verdict
the interleaved probes and the end calibration share.  No Spark session
involved.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import CAL_GATE_SEC, wait_for_quiet_machine  # noqa: E402

# Signals inside their gates (single-thread 0.40 s, scan 0.30 s), for
# checks that vary only the other signals.
QUIET_ST = [0.28, 0.29, 0.30]
QUIET_SCAN = 0.13


def test_quiet_first_try_returns_immediately():
    calls, sleeps = [], []
    (par, _), trusted, history = wait_for_quiet_machine(
        lambda: calls.append(1) or ([0.30, 0.31, 0.32], QUIET_ST),
        gate=0.33,
        attempts=8,
        sleep_sec=45,
        sleep=sleeps.append,
    )
    assert trusted is True
    assert par == [0.30, 0.31, 0.32]
    assert history == [(par, QUIET_ST)]
    assert len(calls) == 1 and sleeps == []  # no wasted wait on a quiet box


def test_loaded_then_quiet_retries_until_gate_met():
    waves = iter([[0.55, 0.60, 0.58], [0.48, 0.52, 0.50], [0.29, 0.31, 0.30]])
    sleeps = []
    (par, _), trusted, history = wait_for_quiet_machine(
        lambda: (next(waves), QUIET_ST),
        gate=0.33,
        attempts=8,
        sleep_sec=45,
        sleep=sleeps.append,
    )
    assert trusted is True
    assert min(par) == 0.29
    assert len(history) == 3  # two loaded attempts + the quiet one
    assert sleeps == [45, 45]  # slept between attempts, not after success


def test_never_quiet_exhausts_budget_and_reports_untrusted():
    """The refusal path: a box that never goes quiet still yields an
    artifact, but trusted=False — the flag BENCH_r{N}.json carries as
    ``calibration_trusted`` so the loaded status is explicit."""
    n, sleeps = [0], []
    def loaded():
        n[0] += 1
        return [0.55, 0.60, 0.58], QUIET_ST

    (par, _), trusted, history = wait_for_quiet_machine(
        loaded, gate=0.33, attempts=4, sleep_sec=10, sleep=sleeps.append
    )
    assert trusted is False
    assert n[0] == 4 and len(history) == 4
    assert sleeps == [10, 10, 10]  # no sleep after the final attempt
    assert par == [0.55, 0.60, 0.58]


def test_gate_uses_min_of_runs_not_mean():
    """One quiet run among noisy ones is enough: min-of-3 is the repo's
    standing measurement rule and the gate must use the same statistic."""
    _, trusted, _ = wait_for_quiet_machine(
        lambda: ([0.90, 0.31, 0.88], [0.85, 0.39, 0.90]),
        gate=0.33,
        attempts=1,
        sleep=lambda s: None,
    )
    assert trusted is True


def test_default_gate_matches_documented_threshold():
    """SCALE.md / the memory workflow trust calibration ≲ 0.33 s; the
    executable default must agree with the documented discipline."""
    assert abs(CAL_GATE_SEC - 0.33) < 1e-9

def test_single_thread_gate_blocks_serially_loaded_box():
    """r12 item 7: an attempt where the 32-way calibration passes but the
    single-thread loop is slow (serial-path load the parallel signal
    can't see) must NOT count as quiet."""
    waves = iter(
        [
            ([0.30, 0.31, 0.32], [0.85, 0.90, 0.88]),  # parallel quiet, serial loaded
            ([0.29, 0.30, 0.31], [0.28, 0.30, 0.29]),  # both quiet
        ]
    )
    sleeps = []
    (par, st), trusted, history = wait_for_quiet_machine(
        lambda: next(waves),
        gate=0.33,
        attempts=8,
        sleep_sec=45,
        sleep=sleeps.append,
        st_gate=0.40,
    )
    assert trusted is True
    assert min(par) == 0.29 and min(st) == 0.28
    assert len(history) == 2 and sleeps == [45]


def test_tuple_mode_exhaustion_returns_last_pair_untrusted():
    out, trusted, history = wait_for_quiet_machine(
        lambda: ([0.30, 0.31, 0.32], [0.85, 0.90, 0.88]),
        gate=0.33,
        attempts=3,
        sleep_sec=1,
        sleep=lambda s: None,
        st_gate=0.40,
    )
    assert trusted is False
    assert isinstance(out, tuple) and len(history) == 3


def test_default_st_gate_matches_documented_threshold():
    """Quiet-box single-thread calibration is ~0.27-0.31 s; the executable
    default must agree with the documented 0.40 headroom."""
    from bench import CAL_ST_GATE_SEC

    assert abs(CAL_ST_GATE_SEC - 0.40) < 1e-9


def test_end_calibration_min_of_five_absorbs_transient_wave():
    """VERDICT r13 item 3: the end gate cannot retry (re-running later says
    nothing about the closed window), so its one shot takes five samples.
    A transient ambient blip that inflates four of five runs must not
    untrust the sweep as long as ONE sample clears the unchanged gate.
    bench.main judges the end samples' mins with ``probe_verdict``."""
    from bench import END_CAL_RUNS, SCAN_GATE_SEC, probe_verdict

    assert END_CAL_RUNS == 5
    # the r13 failure shape: 1-3 ms over the gate on a light wave — with
    # five samples one quiet run slips through
    assert probe_verdict(
        min([0.333, 0.331, 0.329, 0.332, 0.334]),
        min([0.28, 0.29, 0.30, 0.28, 0.29]),
        QUIET_SCAN,
        0.33,
        SCAN_GATE_SEC,
        st_gate=0.40,
    )


def test_end_calibration_refuses_sustained_load():
    """The refusal path: a sustained load fails ALL five samples on either
    signal — the gate value is unchanged, so min-of-5 cannot loosen it."""
    from bench import SCAN_GATE_SEC, probe_verdict

    quiet_st = [0.28, 0.29, 0.30, 0.28, 0.29]
    assert not probe_verdict(
        min([0.55, 0.58, 0.61, 0.57, 0.56]),
        min(quiet_st),
        QUIET_SCAN,
        0.33,
        SCAN_GATE_SEC,
        st_gate=0.40,
    )
    # serial-only load is equally refused (r12 item 7 carried forward)
    assert not probe_verdict(
        min([0.30, 0.31, 0.29, 0.30, 0.31]),
        min([0.85, 0.88, 0.90, 0.86, 0.87]),
        QUIET_SCAN,
        0.33,
        SCAN_GATE_SEC,
        st_gate=0.40,
    )


def test_end_calibration_uses_min_not_mean():
    from bench import SCAN_GATE_SEC, probe_verdict

    assert probe_verdict(
        min([0.90, 0.88, 0.31, 0.89, 0.91]),
        min([0.39, 0.85, 0.90, 0.88, 0.86]),
        QUIET_SCAN,
        0.33,
        SCAN_GATE_SEC,
        st_gate=0.40,
    )


def test_per_query_trust_brackets_each_segment():
    """VERDICT r14 item 1: a query's wall is trusted only when BOTH
    interleaved probes bracketing its 10-query segment cleared the
    gates — a mid-sweep wave marks exactly the queries it straddled,
    not the whole run and not nothing."""
    from bench import per_query_trusted

    names = [f"q{i}" for i in range(25)]  # 3 segments of 10/10/5
    # the probe BETWEEN segments 1 and 2 fails: it brackets both, so
    # queries 10-24 lose trust while segment 0 (queries 0-9, bracketed
    # by the two quiet probes) keeps it
    got = per_query_trusted(names, [True, True, False, True], every_n=10)
    assert all(got[f"q{i}"] is True for i in range(10))
    assert all(got[f"q{i}"] is False for i in range(10, 25))


def test_per_query_trust_all_quiet_and_all_loaded():
    from bench import per_query_trusted

    names = [f"q{i}" for i in range(12)]
    quiet = per_query_trusted(names, [True, True, True], every_n=10)
    assert all(quiet.values()) and len(quiet) == 12
    loaded = per_query_trusted(names, [False, False, False], every_n=10)
    assert not any(loaded.values())


def test_per_query_trust_requires_enough_probes():
    """The probe list must bracket every segment — a short list is a
    harness bug, not a trust verdict, and fails loudly."""
    import pytest

    from bench import per_query_trusted

    with pytest.raises(AssertionError):
        per_query_trusted([f"q{i}" for i in range(25)], [True, True], every_n=10)


def test_probe_verdict_requires_both_signals():
    """The first dual-gated r15 run: a parallel-throughput wave inflated
    32-thread queries 3-6x while the single-thread probe stayed inside
    its 0.40 gate (0.334/0.356) — the parallel signal (gate 0.33) read
    over at that moment.  Each probe therefore takes BOTH signals, same
    gate values as the endpoints; either signal over its gate fails the
    probe.  Checked on ``probe_verdict`` itself, with the parallel band
    at the absolute gate and a quiet scan."""
    from bench import CAL_GATE_SEC, SCAN_GATE_SEC, probe_verdict

    def verdict(par_min, st_min):
        return probe_verdict(par_min, st_min, QUIET_SCAN, CAL_GATE_SEC, SCAN_GATE_SEC)

    assert verdict(0.29, 0.30) is True
    # the measured r15 wave shape: serial inside its gate, parallel over
    assert verdict(0.334, 0.356) is False
    assert verdict(0.30, 0.55) is False
    assert verdict(0.55, 0.30) is False


def test_run_level_flag_requires_all_probes_quiet():
    """The r14 blind spot closed: quiet endpoints + one loaded interior
    probe must NOT stamp the run trusted.  Mirrors bench.main's
    composition: start AND end AND all interleaved probes."""
    from bench import CAL_ST_GATE_SEC, SCAN_GATE_SEC, probe_verdict

    start_trusted = True
    end_trusted = probe_verdict(
        min([0.30, 0.31, 0.29, 0.30, 0.31]),
        min([0.28, 0.29, 0.30, 0.28, 0.29]),
        QUIET_SCAN,
        CAL_GATE_SEC,
        SCAN_GATE_SEC,
    )
    probes = [
        {"min": 0.28, "trusted": 0.28 <= CAL_ST_GATE_SEC},
        {"min": 0.95, "trusted": 0.95 <= CAL_ST_GATE_SEC},  # mid-run wave
        {"min": 0.29, "trusted": 0.29 <= CAL_ST_GATE_SEC},
    ]
    all_probes = all(p["trusted"] for p in probes)
    assert end_trusted and start_trusted and not all_probes
    assert (start_trusted and end_trusted and all_probes) is False


def test_par_band_anchored_to_trusted_start_floored_by_absolute_gate():
    """VERDICT r15 item 2 (judge sign-off granted): the parallel probe
    signal is judged against a RELATIVE band — 1.3x the run's own trusted
    start calibration — floored by the unchanged absolute gate so the
    policy is never STRICTER than the r11 rule, and falling back to the
    absolute gate when the start never went quiet (anchor unreliable)."""
    from bench import CAL_GATE_SEC, PROBE_PAR_REL_BAND, band_sec

    assert PROBE_PAR_REL_BAND == 1.3
    # r15's actual anchor: start calibration 0.288 -> band 0.3744
    assert abs(band_sec(0.288, True, CAL_GATE_SEC, PROBE_PAR_REL_BAND) - 0.3744) < 1e-9
    # a fast box (anchor 0.20 -> 1.3x = 0.26) keeps the absolute floor
    assert band_sec(0.20, True, CAL_GATE_SEC, PROBE_PAR_REL_BAND) == CAL_GATE_SEC
    # untrusted start: the anchor says nothing, absolute gate applies
    assert band_sec(0.55, False, CAL_GATE_SEC, PROBE_PAR_REL_BAND) == CAL_GATE_SEC


def test_relative_band_accepts_the_r15_ambient_floor():
    """The over-refusal this policy fixes: r15 stamped 136/137 walls
    untrusted on interior parallel probes reading 0.31-0.57 vs the fixed
    0.33 gate, on a run whose walls matched the judge's idle re-timings.
    The near-anchor ambient-floor probes (e.g. 0.343 at anchor 0.288,
    1.19x) are now trusted; the single-thread signal stays absolute."""
    from bench import CAL_ST_GATE_SEC, PROBE_PAR_REL_BAND, band_sec

    band = band_sec(0.288, True, CAL_GATE_SEC, PROBE_PAR_REL_BAND)

    def verdict(par_min, st_min):
        return par_min <= band and st_min <= CAL_ST_GATE_SEC

    # measured r15 probes that the absolute policy refused: par over the
    # 0.33 gate by a few percent, serial quiet — ambient floor, not a wave
    assert verdict(0.343, 0.209) is True
    assert verdict(0.306, 0.202) is True
    # serial load is still refused on the unchanged absolute st gate
    assert verdict(0.30, 0.55) is False


def test_relative_band_still_refuses_r14_shape_waves():
    """Sign-off condition: the r14 wave data must still be refused.  The
    r14 degradation inflated 32-thread queries ~4x (judge's idle
    re-timings: dedup_canonical_keep 10.18 -> 2.58, mad_outlier_rate
    ~4.77 vs 3.80); a parallel probe during such a wave reads several
    multiples of the anchor — far outside the 1.3x band.  r15's own
    measured mid-sweep waves (par_min 0.456/0.572 at anchor 0.288, i.e.
    1.58x/1.99x) are refused too."""
    from bench import CAL_ST_GATE_SEC, PROBE_PAR_REL_BAND, band_sec

    band = band_sec(0.288, True, CAL_GATE_SEC, PROBE_PAR_REL_BAND)

    def verdict(par_min, st_min):
        return par_min <= band and st_min <= CAL_ST_GATE_SEC

    assert verdict(1.2, 0.25) is False  # r14-style 4x parallel wave
    assert verdict(0.456, 0.224) is False  # measured r15 wave probe
    assert verdict(0.572, 0.219) is False  # measured r15 wave probe


def test_end_calibration_accepts_probe_band_gate():
    """The end gate shares the probes' no-retry argument, so bench.main
    passes it the same run-anchored parallel band; the st side stays on
    the absolute gate."""
    from bench import PROBE_PAR_REL_BAND, SCAN_GATE_SEC, band_sec, probe_verdict

    band = band_sec(0.288, True, CAL_GATE_SEC, PROBE_PAR_REL_BAND)
    # the r15 shape that over-refused: end par min 0.345 (ambient floor),
    # serial quiet — now trusted under the band
    assert probe_verdict(
        min([0.40, 0.38, 0.345, 0.39, 0.41]),
        min([0.28, 0.29, 0.30, 0.28, 0.29]),
        QUIET_SCAN,
        band,
        SCAN_GATE_SEC,
    )
    # a sustained end-of-run wave still fails all five samples
    assert not probe_verdict(
        min([0.55, 0.58, 0.61, 0.57, 0.56]),
        min([0.28, 0.29, 0.30, 0.28, 0.29]),
        QUIET_SCAN,
        band,
        SCAN_GATE_SEC,
    )


# --- per-segment retry targeting + splice criterion (VERDICT r16 item 2) ---


def test_untrusted_segments_targets_only_refused_brackets():
    from bench import untrusted_segments

    # 25 queries, every_n=10 -> 3 segments bracketed by 4 probes
    assert untrusted_segments(25, [True, True, True, True], 10) == []
    # one bad interior probe poisons BOTH segments it brackets
    assert untrusted_segments(25, [True, False, True, True], 10) == [0, 1]
    # a bad closing probe poisons only the final segment
    assert untrusted_segments(25, [True, True, True, False], 10) == [2]
    # everything refused
    assert untrusted_segments(25, [False, False, False, False], 10) == [0, 1, 2]
    # no queries: nothing to retry
    assert untrusted_segments(0, [], 10) == []


def test_retry_splice_requires_both_bracketing_probes():
    from bench import retry_spliceable

    quiet = {"trusted": True}
    loaded = {"trusted": False}
    assert retry_spliceable(quiet, quiet)
    # a wave arriving DURING the retried segment fails the post probe —
    # the retry walls must not be spliced
    assert not retry_spliceable(quiet, loaded)
    # pre-probe refused: the segment was never re-timed (post is None)
    assert not retry_spliceable(loaded, None)
    assert not retry_spliceable(None, quiet)


def test_retry_trust_criterion_matches_first_pass():
    """A spliced wall carries the same evidence as a first-pass trusted
    wall: both require two quiet dual-signal probes around the timed
    queries.  Equivalence shown on the pure functions."""
    from bench import per_query_trusted, retry_spliceable

    # first pass: segment 0 of 10 queries trusted iff probes 0 and 1 quiet
    names = [f"q{i}" for i in range(10)]
    fp = per_query_trusted(names, [True, True], every_n=10)
    assert all(fp.values())
    assert retry_spliceable({"trusted": True}, {"trusted": True})
    fp_refused = per_query_trusted(names, [True, False], every_n=10)
    assert not any(fp_refused.values())
    assert not retry_spliceable({"trusted": True}, {"trusted": False})


def test_apply_segment_splice_replaces_refused_walls_in_place():
    from bench import apply_segment_splice

    timings = {"q1": 9.0, "q2": 8.0, "q3": 1.0}
    all_runs = {"q1": [9.0, 9.5], "q2": [8.0, 8.2], "q3": [1.0, 1.1]}
    runtime = {"q1": {"shuffle": 10}, "q2": {"shuffle": 20}, "q3": {"shuffle": 30}}
    trusted = {"q1": False, "q2": False, "q3": True}
    spliced = apply_segment_splice(
        timings, all_runs, runtime, trusted,
        walls={"q1": 2.0, "q2": 2.5},
        rruns={"q1": [2.0, 2.3], "q2": [2.5, 2.6]},
        rmetrics={"q1": {"shuffle": 10}},  # q2's metrics failed to capture
        loadavgs={"q1": 9.5, "q2": 9.1, "q3": 0.3},
        rloads={"q1": 0.4, "q2": 0.5},
    )
    assert sorted(spliced) == ["q1", "q2"]
    assert timings == {"q1": 2.0, "q2": 2.5, "q3": 1.0}
    assert all_runs["q1"] == [2.0, 2.3]
    assert trusted == {"q1": True, "q2": True, "q3": True}
    # missing retry metrics keep the first-pass metrics rather than KeyError
    assert runtime["q2"] == {"shuffle": 20}
    # untouched queries keep their state
    assert runtime["q3"] == {"shuffle": 30} and all_runs["q3"] == [1.0, 1.1]


def test_scan_band_anchored_to_trusted_start_floored_by_absolute_gate():
    """r18 scan gate (VERDICT r17 item 4): same relative-band method as
    the parallel gate — max(absolute, band * trusted anchor), absolute
    fallback when the start scan itself never cleared the gate."""
    from bench import SCAN_GATE_SEC, SCAN_REL_BAND, band_sec

    assert SCAN_GATE_SEC == 0.30 and SCAN_REL_BAND == 1.5
    # quiet r17 anchors (start scan min 0.185-0.233): band floored by abs
    assert band_sec(0.185, True, SCAN_GATE_SEC, SCAN_REL_BAND) == 0.30
    assert band_sec(0.211, True, SCAN_GATE_SEC, SCAN_REL_BAND) == max(0.30, 1.5 * 0.211)
    # untrusted anchor: conservative absolute fallback
    assert band_sec(0.9, False, SCAN_GATE_SEC, SCAN_REL_BAND) == 0.30
    # never stricter than the absolute rule
    for anchor in (0.05, 0.15, 0.25, 0.40):
        assert band_sec(anchor, True, SCAN_GATE_SEC, SCAN_REL_BAND) >= SCAN_GATE_SEC


def test_probe_verdict_triple_signal_catches_r17_scan_phase():
    """The r17 degraded phase's exact shape: parallel and single-thread
    calibrations quiet (0.306/0.224 — matching the r16 sidecar) while
    byte-identical queries inflated 2-3x on the scan path.  The
    dual-signal verdict accepted that probe; the r18 triple-signal
    verdict must refuse it on the scan signal alone."""
    from bench import (
        CAL_ST_GATE_SEC,
        SCAN_GATE_SEC,
        SCAN_REL_BAND,
        band_sec,
        probe_verdict,
    )

    # quiet anchors
    par_band = 0.398
    scan_band = band_sec(0.211, True, SCAN_GATE_SEC, SCAN_REL_BAND)
    # quiet probe (r17 committed-sidecar floor): all three inside
    assert probe_verdict(0.306, 0.224, 0.13, par_band, scan_band) is True
    # the r17 phase: par/st quiet, scan 2-3x the 0.10-0.20 quiet floor
    assert probe_verdict(0.306, 0.224, 0.45, par_band, scan_band) is False
    # dual-signal refusals still refuse (scan adds, never removes)
    assert probe_verdict(0.55, 0.224, 0.13, par_band, scan_band) is False
    assert probe_verdict(0.306, 0.55, 0.13, par_band, scan_band) is False
    # st gate stays absolute
    assert (
        probe_verdict(0.306, CAL_ST_GATE_SEC + 0.01, 0.13, par_band, scan_band)
        is False
    )


def test_quiet_r17_sidecar_probes_pass_the_new_scan_band():
    """Regression guard against over-refusal (the r15 band saga): every
    probe scan_min in the four committed r17 sf0.1 sidecars (0.086-0.196)
    must pass the r18 band under its own run's start anchor, so turning
    the gate on cannot have refused any wall the r17 policy trusted."""
    from bench import SCAN_GATE_SEC, SCAN_REL_BAND, band_sec, probe_verdict

    runs = {  # start scan min -> probe scan_mins (committed sidecars)
        0.211: [0.17, 0.155, 0.154, 0.147, 0.147, 0.148, 0.113, 0.185,
                0.116, 0.102, 0.132, 0.167, 0.123, 0.179, 0.111, 0.123],
        0.185: [0.177, 0.125, 0.122, 0.095, 0.106, 0.1, 0.099, 0.099,
                0.096, 0.105, 0.104, 0.092, 0.117, 0.116, 0.091, 0.097],
        0.220: [0.17, 0.128, 0.115, 0.095, 0.117, 0.105, 0.139, 0.109,
                0.196, 0.191, 0.175, 0.116, 0.133, 0.093, 0.092, 0.11],
        0.205: [0.155, 0.136, 0.133, 0.129, 0.107, 0.127, 0.114, 0.106,
                0.105, 0.11, 0.126, 0.091, 0.086, 0.114, 0.09, 0.099],
    }
    for anchor, mins in runs.items():
        band = band_sec(anchor, anchor <= 0.30, SCAN_GATE_SEC, SCAN_REL_BAND)
        for m in mins:
            assert probe_verdict(0.1, 0.1, m, 0.398, band), (anchor, m)


def test_apply_segment_splice_updates_retry_loadavg():
    """r17 ADVICE: a spliced wall must carry its retry-time loadavg, not
    the first-pass wave sample a reader would mispair it with."""
    from bench import apply_segment_splice

    timings = {"q1": 9.0, "q2": 8.0}
    all_runs = {"q1": [9.0], "q2": [8.0]}
    runtime = {"q1": {}, "q2": {}}
    trusted = {"q1": False, "q2": False}
    loadavgs = {"q1": 14.2, "q2": 13.9}  # first-pass wave context
    spliced = apply_segment_splice(
        timings, all_runs, runtime, trusted,
        walls={"q1": 2.0},
        rruns={"q1": [2.0]},
        rmetrics={},
        loadavgs=loadavgs,
        rloads={"q1": 0.4},
    )
    assert spliced == ["q1"]
    assert loadavgs == {"q1": 0.4, "q2": 13.9}


def test_result_line_keeps_parallelism_in_every_tier():
    """VERDICT r19 item 2: the stdout line must show the core count and
    the session's parallelism however far it has to shrink — the full
    tier, the 10 ms-rounded tier and the ten-slowest tier alike."""
    import json

    from bench import result_line

    head = {"metric": "m", "value": 1.0, "cpus": 8, "default_parallelism": 8}
    timings = {f"query_with_a_long_name_{i:03d}": 1.0 + i / 997 for i in range(40)}
    full = result_line(head, timings, [], {"q": 1}, 0.1, limit=10**6)
    slim = result_line(head, timings, [], {"q": 1}, 0.1, limit=len(full) - 1)
    slowest = result_line(head, timings, ["q[retry]"], {"q": 1}, 0.1, limit=400)
    tiers = [json.loads(line) for line in (full, slim, slowest)]
    assert "ivf_pruned" in tiers[0] and "ivf_pruned" not in tiers[1]
    assert len(tiers[1]["queries"]) == 40 and len(tiers[2]["queries"]) == 10
    assert tiers[2]["errors"] == ["q[retry]"]
    for tier in tiers:
        assert tier["cpus"] == 8 and tier["default_parallelism"] == 8


def _env_reads(tree: ast.AST) -> list[str]:
    """Names of the environment variables a module reads through
    ``os.environ.get``, ``os.environ[...]`` or ``os.getenv``."""

    def is_environ(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    names = []
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and is_environ(f.value)) or (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            key = node.slice
        if key is not None:
            assert isinstance(key, ast.Constant), ast.dump(key)
            names.append(key.value)
    return names


def test_bench_reads_only_deployment_env_vars():
    """The trust gates are constants: the only settings bench.py takes
    from the environment are the SF dir and the core count."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    assert sorted(set(_env_reads(tree))) == ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"]
    # the walker sees every spelling of a read
    probe = ast.parse(
        "import os\n"
        "os.environ.get('A', '1')\n"
        "os.environ['B']\n"
        "os.getenv('C')\n"
    )
    assert _env_reads(probe) == ["A", "B", "C"]
