#!/usr/bin/env python
"""Per-query optimization profiler (measure-first discipline).

For each named query: run it ``--runs`` times cache-cold exactly the way
bench.py does (``fn(spark, SF_DIR).collect()`` under a fresh
``clearCache()``), and record

- wall seconds per run (and the min, bench's statistic),
- Spark job count and executed-SQL-execution count (stage/jobs are the
  sf0.1 cost driver: shuffle volumes here are a few MB, so wall tracks
  the number of sequential job barriers, not bytes),
- shuffle/spill bytes from the same accumulator delta bench records,
- the formatted physical plan, written to ``plans/<round>/<q>_<tag>.txt``
  (round from ``$OPT_PLANS_ROUND``, default r19).

Usage:
    python tools/opt_profile.py [--runs N] [--tag before|after]
        [--sf-dir DIR] [--no-plans] q1 q2 ...
    python tools/opt_profile.py --top 20            # 20 worst by sidecar

Output: one JSON line per query on stdout plus a summary; plans land in
plans/$OPT_PLANS_ROUND/ (default r19) for the optimization evidence trail.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    def _positive(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("--runs", type=_positive, default=3)
    ap.add_argument("--tag", default=None, help="plan file suffix (before/after)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--top", type=int, default=0, help="profile the N worst queries from bench_details.json")
    ap.add_argument("--out", default=None, help="also append JSON lines to this file")
    args = ap.parse_args()

    from walmart_e_commerce_sales_data_pipeline_spark import queries as q
    from walmart_e_commerce_sales_data_pipeline_spark.plans import formatted_plan
    from walmart_e_commerce_sales_data_pipeline_spark.plans.metrics import (
        execution_count,
        metrics_since,
    )
    from walmart_e_commerce_sales_data_pipeline_spark.session import get_spark

    names = list(args.queries)
    if args.top:
        with open(os.path.join(REPO, "bench_details.json")) as f:
            side = json.load(f)
        ranked = sorted(side["queries"].items(), key=lambda kv: kv[1], reverse=True)
        names.extend(k for k, _ in ranked[: args.top] if k not in names)
    if not names:
        ap.error("no queries given")

    spark = get_spark(master=f"local[{args.cpus}]", shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm codegen

    plans_dir = os.path.join(REPO, "plans", os.environ.get("OPT_PLANS_ROUND", "r19"))
    os.makedirs(plans_dir, exist_ok=True)
    tracker = spark.sparkContext.statusTracker()
    results = []
    for name in names:
        fn = q.REGISTRY[name].fn
        runs: list[float] = []
        jobs: list[int] = []
        rows = -1
        group = f"prof:{name}"
        # watermark once BEFORE the run loop so shuffle/spill deltas
        # cover every run, matching what wall/jobs aggregate over
        mark = execution_count(spark)
        for i in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobGroup(group + f":{i}", name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            out = df.collect()
            runs.append(round(time.perf_counter() - t0, 3))
            rows = len(out)
            jobs.append(len(tracker.getJobIdsForGroup(group + f":{i}")))
        m = metrics_since(spark, mark)
        spark.sparkContext.setJobGroup(None, None)
        if args.tag:
            spark.catalog.clearCache()
            plan = formatted_plan(fn(spark, args.sf_dir))
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        rec = {
            "query": name,
            "wall": min(runs),
            "runs": runs,
            "jobs": jobs,
            "rows": rows,
            # per-run average: the watermark spans all runs
            "shuffle_mb": round(m.get("shuffle_bytes", 0) / 1e6 / args.runs, 2),
            "spill_mb": round(m.get("spill_bytes", 0) / 1e6 / args.runs, 2),
        }
        results.append(rec)
        line = json.dumps(rec)
        print(line, flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(line + "\n")
    total = sum(r["wall"] for r in results)
    print(f"# total min-wall {total:.2f}s over {len(results)} queries", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
