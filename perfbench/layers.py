"""Per-layer metrics from a traced run.

Each traced op yields one record of layer values (``op_records``); the
per-layer metrics are their per-iteration sums (maxima for peak memory),
taken as the median over the traced iterations (``per_layer``).

Layers and where each value comes from:

- ``session``: ``get_spark`` wall.
- ``queries``: the ``build`` span around ``REGISTRY[name].fn`` (its wall,
  the jobs submitted inside it, and the DataFrame actions and
  materializations called inside it), and the ``table`` spans around
  ``queries.tables.table``.
- ``operators``: self time and jobs of the spans around the six wrapped
  operator functions (jobs of a nested operator count for the inner one),
  plus every ``localCheckpoint``/``checkpoint``/``persist``/``cache`` call.
- ``spark``: the ``collect`` span, and the op's jobs and SQL executions
  read from the status stores; busy time is the union of job intervals and
  the gap is the op wall minus busy time.
- ``pipeline``: the spans around ``pipeline.main``'s five stages, scanned
  bytes per input byte, bytes written, and persisted blocks when
  ``validation`` is entered.
- ``process``: high-water RSS (VmHWM) of the driver JVM plus the Python
  driver at the end of the run.  With the engine's 8 GiB default heap it
  follows the JVM's lazy heap growth and moves 20-50 % between runs, so it
  is reported here rather than gated as an end-to-end metric.
"""

from __future__ import annotations

import statistics

from tracing import OPERATORS, PIPELINE_STAGES, busy_ms, self_times

OPERATOR_FNS = [fn for fns in OPERATORS.values() for fn in fns]

# (name, unit, better) for every per-layer metric, in output order.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("queries.build_actions", "count", "lower"),
    ("queries.table_calls", "count", "lower"),
    ("queries.table_s", "s", "lower"),
    *[(f"operators.{fn}_{k}", u, "lower") for fn in OPERATOR_FNS
      for k, u in (("s", "s"), ("jobs", "count"))],
    ("operators.materializations", "count", "lower"),
    ("operators.materialize_s", "s", "lower"),
    ("spark.collect_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.busy_s", "s", "lower"),
    ("spark.gap_s", "s", "lower"),
    ("spark.gap_per_job_ms", "ms", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.peak_task_mem_bytes", "bytes", "lower"),
    ("spark.scan_bytes", "bytes", "lower"),
    ("spark.python_bytes", "bytes", "lower"),
    ("spark.result_rows", "count", "higher"),
    *[(f"pipeline.{stage}_s", "s", "lower") for stage in PIPELINE_STAGES.values()],
    ("pipeline.scan_ratio", "ratio", "lower"),
    ("pipeline.output_bytes", "bytes", "lower"),
    ("pipeline.cached_mb", "MB", "lower"),
    ("trace.iter_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("failed_ops_frac", "ratio", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}
# Metrics computed per op and then summed (or maxed) per iteration.
PER_OP = [n for n, _, _ in PER_LAYER
          if n.split(".")[0] in ("queries", "operators", "spark", "pipeline")]
_MAXED = {"spark.peak_task_mem_bytes"}


def _ancestors(spans: list[dict], i: int):
    p = spans[i]["parent"]
    while p is not None:
        yield p
        p = spans[p]["parent"]


def op_record(spans: list[dict], selfs: list[float], idx: list[int], rec: dict,
              input_bytes: int | None, cached: int | None) -> dict:
    """Layer values of one traced op; ``idx`` are the op's span indices."""
    v = dict.fromkeys(PER_OP, 0.0)
    jobs = lambda s: s["jobs1"] - s["jobs0"]  # noqa: E731
    op_excl = {}
    for i in idx:
        s, dur = spans[i], spans[i]["end"] - spans[i]["start"]
        kind = s["kind"]
        if kind == "query":
            v["queries.build_s"] += dur
            v["queries.build_jobs"] += jobs(s)
        elif kind == "table":
            v["queries.table_calls"] += 1
            v["queries.table_s"] += dur
        elif kind == "operator":
            v[f"operators.{s['name']}_s"] += selfs[i]
            op_excl[i] = op_excl.get(i, 0) + jobs(s)
            outer = next((a for a in _ancestors(spans, i)
                          if spans[a]["kind"] == "operator"), None)
            if outer is not None:
                op_excl[outer] = op_excl.get(outer, 0) - jobs(s)
        elif kind == "collect":
            v["spark.collect_s"] += dur
        elif kind == "pipeline":
            v[f"pipeline.{s['name']}_s"] += dur
        if kind == "materialize":
            v["operators.materializations"] += 1
            v["operators.materialize_s"] += dur
        if kind in ("action", "materialize") and any(
                spans[a]["kind"] == "query" for a in _ancestors(spans, i)):
            v["queries.build_actions"] += 1
    for i, n in op_excl.items():
        v[f"operators.{spans[i]['name']}_jobs"] += n
    busy = busy_ms(rec["jobs"], rec["epoch0"] * 1000, rec["epoch1"] * 1000) / 1000
    v["spark.jobs"] = len(rec["jobs"])
    v["spark.stages"] = sum(j["stages"] for j in rec["jobs"])
    v["spark.tasks"] = sum(j["tasks"] for j in rec["jobs"])
    v["spark.busy_s"] = busy
    v["spark.gap_s"] = rec["wall"] - busy
    for key, val in rec["sql"].items():
        v[f"spark.{key}"] = val
    v["spark.result_rows"] = rec["rows"]
    if input_bytes:
        v["pipeline.scan_ratio"] = rec["sql"]["scan_bytes"] / input_bytes
        v["pipeline.output_bytes"] = rec.get("output_bytes", 0)
        v["pipeline.cached_mb"] = (cached or 0) / 1e6
    return v


def op_records(tracer, input_bytes: int | None = None) -> list[dict]:
    spans = tracer.spans
    selfs = self_times(spans)
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        by_op.setdefault(s["op"], []).append(i)
    return [
        {"id": rec["id"], "name": rec["name"], "wall": rec["wall"],
         "t0": rec["t0"], "t1": rec["t1"],
         "self_s_sum": sum(selfs[i] for i in by_op.get(rec["id"], [])),
         "min_self_s": min((selfs[i] for i in by_op.get(rec["id"], [])), default=0.0),
         **op_record(spans, selfs, by_op.get(rec["id"], []), rec, input_bytes,
                     tracer.cached.get(rec["id"]))}
        for rec in tracer.ops
    ]


def per_layer(tracer, traced: list[list[dict]], wl, start_s: float) -> dict:
    """Median over traced iterations of the per-iteration layer sums."""
    records = {r["id"]: r for r in op_records(tracer, getattr(wl, "input_bytes", None))}
    iters = []
    for p in traced:
        it = {}
        for name in PER_OP:
            vals = [records[r["id"]][name] for r in p]
            it[name] = max(vals) if name in _MAXED else sum(vals)
        if wl.name == "etl_pipeline":
            it["pipeline.scan_ratio"] /= len(p)
        jobs = it["spark.jobs"]
        it["spark.gap_per_job_ms"] = it["spark.gap_s"] * 1000 / jobs if jobs else 0.0
        iters.append(it)
    out = {"session.start_s": (start_s, "s")}
    for name in iters[0]:
        out[name] = (statistics.median(it[name] for it in iters), UNITS[name])
    return out

