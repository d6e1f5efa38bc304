"""Benchmark runner for the walmart-spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  It generates the workload's inputs from
``--seed`` (cached per seed under ``perfbench/_work``), computes every
expected result with DuckDB, starts Spark through the engine's
``session.get_spark`` as ``local[4]`` with 4 shuffle partitions, and runs
the workload as a closed loop with one client:

- ``etl_pipeline``: one op is ``pipeline.main`` over a generated
  store-sales CSV and extra-data parquet, writing to a fresh directory;
  an iteration is ``ETL_CALLS`` such calls;
- ``curation_mix``: one op is a registered query's build
  (``queries.REGISTRY[name].fn``) plus its ``collect()``.

Spark keeps the engine's own defaults apart from the master and the shuffle
partitions (the driver heap stays at ``get_spark``'s setting).  One
iteration is one pass over the workload's ops in an order shuffled
from the seed; ``spark.catalog.clearCache()`` runs before every op.  The
first pass is an untimed warm-up: ``setup_s`` is the time from
``get_spark`` to its end.  Then passes repeat until ``--seconds`` have
been measured and at least ``MIN_PASSES`` untraced passes have run.
Every op's result is checked against its DuckDB oracle outside the timed
interval; a raise or a mismatch counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the measured passes come in whole groups of untraced,
traced, traced, untraced (``MIN_PASSES`` does not apply), and the last line
carries the per-layer metrics of the traced passes (per-iteration sums,
median over traced passes) plus the tracing overhead.  The line before it
is the run context: cores, parallelism, versions, load, sample counts and
the op-latency tail at the highest percentile with ten samples beyond it
(with the 9 to 15 op samples of a run that is p0 to p33, too few to gate
on).  The per-op records and spans go to ``perfbench/_work/reports``.
``run_workload(..., scale="tiny")`` (sf0.001 tables, a 20,000-row ETL) is
the self-test's size; see ``selftest.py``.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import pickle
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from tracing import Tracer  # noqa: E402

CORES = 4
CURATION = [
    "dup_cluster_size_dist_star", "dup_graph_pagerank", "jaccard_prefix_filter",
    "substring_dup_coverage", "dedup_minhash_lsh",
]
WORKLOADS = ("etl_pipeline", "curation_mix")
# pipeline.main calls per ETL iteration: more single-call samples per run,
# and an iteration that is not the same number as one op.
ETL_CALLS = 3
SCALES = {
    "full": {"sf": 0.01, "etl_rows": 200_000},
    "tiny": {"sf": 0.001, "etl_rows": 20_000},
}
TAIL_SAMPLES = 10
# A median over fewer passes would hinge on whether one pass ends just
# before or just after --seconds.  Op walls also keep falling for the first
# ten or so ops while the JVM warms up, and with two passes of the curation
# mix the op median jumped between the five queries' latency clusters.
MIN_PASSES = 3


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _inputs(kind: str, seed: int, size, make) -> Path:
    """Generate inputs once per (kind, size, seed); drop other seeds' copies."""
    data = WORK / "data"
    target = data / f"{kind}-{size}-seed{seed}"
    if data.exists():
        for d in data.iterdir():
            if d != target and d.name.startswith(f"{kind}-"):
                shutil.rmtree(d, ignore_errors=True)
    if not (target / "_DONE").exists():
        shutil.rmtree(target, ignore_errors=True)
        _in_child(make, str(target))
        (target / "_DONE").touch()
    return target


# The result goes to a file, not stdout: native code in the child (DuckDB's
# progress bar) writes to fd 1.
_CHILD = (
    "import pickle, sys; out = sys.argv[1]; sys.path[:0] = sys.argv[2:]; "
    "fn, args = pickle.load(sys.stdin.buffer); "
    "pickle.dump(fn(*args), open(out, 'wb'))"
)


def _in_child(fn, *args):
    """Run ``fn(*args)`` in a child interpreter and wait for it, so input
    generation and DuckDB never count toward this process's peak RSS."""
    with tempfile.TemporaryDirectory(dir=WORK / "tmp") as d:
        out = os.path.join(d, "result.pickle")
        subprocess.run(
            [sys.executable, "-c", _CHILD, out, str(HERE), str(ROOT)],
            input=pickle.dumps((fn, args)), stdout=subprocess.DEVNULL, check=True)
        with open(out, "rb") as fh:
            return pickle.load(fh)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least TAIL_SAMPLES samples beyond it;
    0 (the fastest op) when a run has no more than TAIL_SAMPLES samples."""
    return max(0, math.floor(100 * (n - TAIL_SAMPLES) / n)) if n else 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path) for f in files if f.startswith("part-")
    )


class Workload:
    """Inputs, expected results and the op callables of one workload."""

    def __init__(self, name: str, seed: int, scale: dict):
        self.name = name
        if name == "etl_pipeline":
            rows = scale["etl_rows"]
            d = _inputs("etl", seed, rows, functools.partial(
                datagen.etl_inputs, seed=seed, rows=rows))
            self.csv, self.parquet = str(d / "grocery_sales.csv"), str(d / "extra_data.parquet")
            self.input_bytes = os.path.getsize(self.csv) + os.path.getsize(self.parquet)
            self.ops = ["etl"] * ETL_CALLS
            self.expected = {"etl": _in_child(oracle.etl_expectations, self.csv, self.parquet)}
        else:
            from walmart_e_commerce_sales_data_pipeline_spark.queries import REGISTRY

            sf = scale["sf"]
            d = _inputs("tpch", seed, sf, functools.partial(
                datagen.tpch_tables, seed=seed, sf=sf))
            self.sf_dir = str(d)
            self.ops = CURATION
            self.expected = _in_child(
                oracle.query_expectations, self.sf_dir,
                {n: REGISTRY[n].oracle for n in self.ops})

    def order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.ops, len(self.ops))

    def run_op(self, spark, name: str, tracer) -> dict:
        """Run one op; the timed interval excludes clearCache and the check."""
        span = tracer.span if tracer else (lambda *_: nullcontext())
        spark.catalog.clearCache()
        rec = {"name": name, "ok": False, "rows": 0}
        out_dir = None
        if name == "etl":
            out_dir = tempfile.mkdtemp(prefix="etl-", dir=WORK / "tmp")
        rec["epoch0"] = time.time()
        t0 = time.perf_counter()
        try:
            with span(name, "op"):
                if name == "etl":
                    from walmart_e_commerce_sales_data_pipeline_spark import pipeline

                    pipeline.main(spark, self.csv, self.parquet, output_dir=out_dir)
                else:
                    from walmart_e_commerce_sales_data_pipeline_spark.queries import REGISTRY

                    with span("build", "query"):
                        df = REGISTRY[name].fn(spark, self.sf_dir)
                    with span("collect", "collect"):
                        rows = df.collect()
            t1 = time.perf_counter()
            rec["t0"], rec["t1"], rec["wall"] = t0, t1, t1 - t0
            rec["epoch1"] = rec["epoch0"] + rec["wall"]
            if name == "etl":
                monthly, clean_rows = oracle.etl_outputs(out_dir)
                rec["ok"] = oracle.etl_matches(self.expected["etl"], monthly, clean_rows)
                rec["output_bytes"] = _dir_bytes(out_dir)
                rec["rows"] = clean_rows + len(monthly)
            else:
                rec["ok"] = oracle.query_matches(self.expected[name], rows, df.columns)
                rec["rows"] = len(rows)
        except Exception as exc:  # a raising op counts as failed; keep going
            traceback.print_exc()
            if "wall" not in rec:
                t1 = time.perf_counter()
                rec["t0"], rec["t1"], rec["wall"] = t0, t1, t1 - t0
                rec["epoch1"] = rec["epoch0"] + rec["wall"]
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            if out_dir:
                shutil.rmtree(out_dir, ignore_errors=True)
        if not rec["ok"]:
            print(f"op failed: {name} {rec.get('error', 'result mismatch')}",
                  file=sys.stderr)
        return rec


def _run_pass(spark, wl: Workload, order: list[str], tracer=None) -> list[dict]:
    recs = []
    for name in order:
        if tracer is None:
            recs.append(wl.run_op(spark, name, None))
            continue
        tracer.op = len(tracer.ops)
        j0 = tracer.jobs_submitted()
        rec = wl.run_op(spark, name, tracer)
        tracer.op = None
        rec["jobs_range"] = (j0, tracer.jobs_submitted())
        tracer.drain()
        rec["jobs"] = tracer.jobs(*rec["jobs_range"])
        rec["sql"] = tracer.executions_metrics()
        rec["id"] = len(tracer.ops)
        tracer.ops.append(rec)
        recs.append(rec)
    return recs


def _spark_session():
    from walmart_e_commerce_sales_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0, t0


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale: str = "full", corrupt: str | None = None) -> tuple[dict, dict]:
    """Run one workload; return (result line, report with context and ops)."""
    cfg = SCALES[scale]
    load0 = os.getloadavg()
    wl = Workload(workload, seed, cfg)
    if corrupt is not None:
        oracle.corrupt(wl.expected, corrupt)
    rng = random.Random(seed)

    spark, start_s, t0 = _spark_session()
    warm = _run_pass(spark, wl, wl.order(rng))
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark) if trace else None
    plain, traced = [], []
    m0 = time.perf_counter()
    # A traced run measures whole groups of untraced, traced, traced,
    # untraced passes: the JVM's warming trend then favours neither side of
    # the overhead ratio.
    while (len(plain) < (2 if trace else MIN_PASSES)
           or (trace and (len(plain) + len(traced)) % 4)
           or time.perf_counter() - m0 < seconds):
        if trace and (len(plain) + len(traced)) % 4 in (1, 2):
            tracer.install()
            try:
                traced.append(_run_pass(spark, wl, wl.order(rng), tracer))
            finally:
                tracer.uninstall()
        else:
            plain.append(_run_pass(spark, wl, wl.order(rng)))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = {"jvm": _vm_hwm_kb(jvm_pid), "python": _vm_hwm_kb(os.getpid())}
    rss_mb = sum(hwm_kb.values()) * 1024 / 1e6
    sc = spark.sparkContext
    all_recs = warm + [r for p in [*plain, *traced] for r in p]
    failed = sum(not r["ok"] for r in all_recs)
    iters = [sum(r["wall"] for r in p) for p in plain]
    walls = [r["wall"] for p in plain for r in p]
    tail_p = tail_percentile(len(walls))
    tail = {"percentile": tail_p, "samples": len(walls),
            "s": _percentile(walls, tail_p) if walls else None}

    if trace:
        metrics = layers.per_layer(tracer, traced, wl, start_s)
        metrics["trace.iter_s"] = (statistics.median(
            sum(r["wall"] for r in p) for p in traced), "s")
        metrics["trace.overhead_frac"] = (
            metrics["trace.iter_s"][0] / statistics.median(iters) - 1, "ratio")
        metrics["failed_ops_frac"] = (failed / len(all_recs), "ratio")
        metrics["process.peak_rss_mb"] = (rss_mb, "MB")
    else:
        metrics = {
            "iter_s": (statistics.median(iters), "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "setup_s": (setup_s, "s"),
        }
    context = {
        "workload": workload, "seed": seed, "trace": int(trace), "scale": scale,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": os.cpu_count(), "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "spark": spark.version, "python": platform.python_version(),
        "duckdb": __import__("duckdb").__version__,
        "ops_per_iteration": len(wl.ops), "measured_iterations": len(plain),
        "traced_iterations": len(traced), "op_samples": len(walls),
        "op_tail": tail, "session_start_s": start_s, "vm_hwm_kb": hwm_kb,
        "failed_ops_frac": failed / len(all_recs),
    }
    result = {
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report = {"context": context, "ops": [_op_summary(r) for r in all_recs]}
    if tracer is not None:
        report["spans"] = tracer.spans
        report["op_layers"] = layers.op_records(tracer, getattr(wl, "input_bytes", None))
    return result, report


def _op_summary(rec: dict) -> dict:
    return {k: rec[k] for k in ("name", "ok", "wall", "rows", "error") if k in rec}


def stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "walmart_e_commerce_sales_data_pipeline_spark").is_dir():
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    _prepare_env()
    try:
        result, report = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_spark()
    reports = WORK / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (reports / name).write_text(json.dumps(report, default=str))
    print(json.dumps({"context": report["context"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
