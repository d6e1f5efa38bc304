"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload once at the tiny scale (sf0.001 tables, a 20,000-row
ETL; one warm-up pass and the fewest measured ones) in one Spark session and
checks that:

- every end-to-end and per-layer metric named in ``BENCHMARK.json`` prints
  with its unit, and no op fails;
- every span lies inside its parent (or, for an op's one root span, inside
  the op's own timed interval) and belongs to its parent's op, and span
  self times are non-negative and sum to the independently timed op wall;
- a corrupted expected result is counted as failed.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import sys

import run


def _check_metrics(result: dict, specs: list[dict], where: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = [f"{where}: {result['failed']} failed ops"] if result["failed"] else []
    if got != want:
        errors.append(f"{where}: metrics {sorted(set(got) ^ set(want))} differ "
                      "from BENCHMARK.json or have other units")
    return errors


# The root span of an op opens after, and closes before, the runner's own
# clock reads around the op; between them lie only the tracer's two status
# store reads, so the op's self times sum to a little less than its wall.
WALL_SLACK_S = 0.01


def _check_spans(report: dict, where: str) -> list[str]:
    """Spans nest inside their parents and their op; self times are
    non-negative and sum to the op wall the runner timed on its own."""
    spans, ops = report["spans"], {r["id"]: r for r in report["op_layers"]}
    errors, roots = [], {}
    for i, s in enumerate(spans):
        if s["parent"] is None:
            roots[s["op"]] = roots.get(s["op"], 0) + 1
            op = ops.get(s["op"], {"t0": 0, "t1": -1})
            outer, lo, hi = f"op {s['op']}", op["t0"], op["t1"]
        else:
            p = spans[s["parent"]]
            outer, lo, hi = f"span {p['name']}", p["start"], p["end"]
            if p["op"] != s["op"]:
                errors.append(f"{where}: span {i} ({s['name']}) is in op {s['op']}, "
                              f"its parent in op {p['op']}")
        if not lo <= s["start"] <= s["end"] <= hi:
            errors.append(f"{where}: span {i} ({s['name']}) lies outside {outer}")
    for rec in report["op_layers"]:
        if roots.get(rec["id"]) != 1:
            errors.append(f"{where}: op {rec['id']} has {roots.get(rec['id'], 0)} root spans")
        if rec["min_self_s"] < 0:
            errors.append(f"{where}: op {rec['id']} has a negative self time")
        slack = rec["wall"] - rec["self_s_sum"]
        if not 0 <= slack <= max(WALL_SLACK_S, 0.01 * rec["wall"]):
            errors.append(f"{where}: op {rec['id']} self times sum to "
                          f"{rec['self_s_sum']:.6f} s, wall is {rec['wall']:.6f} s")
    return errors


def main() -> int:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    run._prepare_env()
    errors = []
    try:
        for wl in run.WORKLOADS:
            result, _ = run.run_workload(wl, 1, 0, False, "tiny")
            errors += _check_metrics(result, spec["end_to_end"], f"{wl} trace 0")
            result, report = run.run_workload(wl, 1, 0, True, "tiny")
            errors += _check_metrics(result, spec["per_layer"], f"{wl} trace 1")
            errors += _check_spans(report, wl)
        for wl, op in (("etl_pipeline", "etl"), ("curation_mix", run.CURATION[0])):
            result, _ = run.run_workload(wl, 1, 0, False, "tiny", corrupt=op)
            if result["correct"] or result["failed"] < 1:
                errors.append(f"{wl}: a corrupted expected result of {op} passed")
    finally:
        run.stop_spark()
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
