"""Per-layer tracing for the benchmark's traced passes.

The tracer never edits the engine.  It wraps public functions at the names
their callers resolve (a module that did ``from ..operators.components
import connected_components`` gets its own binding replaced), wraps the
pyspark ``DataFrame`` action and materialization methods, and reads the
Spark status stores after each op:

- jobs by id range: the DAG scheduler's job counter is sampled at every
  span boundary, so a span owns the job ids submitted while it was open;
- SQL executions by id range: ids are walked upward from the last one seen
  (the stores keep only the newest 1000 jobs and executions, so a list
  position is not a stable watermark across a long run).

Spans record ``name``, ``kind``, ``start``, ``end``, ``parent`` and ``op``;
they stay in memory and are written once, by the runner, at exit.  Only the
main thread opens spans: the pipeline's concurrent sink writes are covered
by the ``pipeline.load`` span that waits for them.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

ACTIONS = (
    "collect", "count", "first", "head", "take", "tail", "toPandas", "toArrow",
    "toLocalIterator", "foreach", "foreachPartition", "isEmpty", "show",
)
MATERIALIZATIONS = ("localCheckpoint", "checkpoint", "persist", "cache")
OPERATORS = {
    "components": ("connected_components",),
    "centrality": ("pagerank",),
    "dedup": (
        "jaccard_pairs_from_docs", "prefix_filter_jaccard_pairs",
        "substring_dup_coverage", "minhash_dedup_pairs",
    ),
}
PIPELINE_STAGES = {
    "extract": "extract",
    "transform": "transform",
    "avg_weekly_sales_per_month": "aggregate",
    "load": "load",
    "validation": "validation",
}
PACKAGE = "walmart_e_commerce_sales_data_pipeline_spark"

_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|PiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),")
_VALUE_RE = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
# SQL metric display name -> (per-op key, combine); "sum" adds the totals,
# "max" keeps the largest per-task maximum.
SQL_METRICS = {
    "shuffle bytes written": ("shuffle_bytes", "sum"),
    "spill size": ("spill_bytes", "sum"),
    "peak memory": ("peak_task_mem_bytes", "max"),
    "size of files read": ("scan_bytes", "sum"),
    "data sent to Python workers": ("python_bytes", "sum"),
    "data returned from Python workers": ("python_bytes", "sum"),
}


def _sizes(formatted: str) -> list[int]:
    return [
        int(float(num.replace(",", "")) * _UNIT[unit])
        for num, unit in _SIZE_RE.findall(formatted)
    ]


def parse_metric_values(text: str) -> dict[int, str]:
    """Parse a Scala ``Map(id -> value, ...)`` string of SQL metric values.
    Values may hold commas and newlines; ids are the only ``N -> `` runs."""
    parts = _VALUE_RE.split(text.strip())
    return {int(parts[i]): parts[i + 1].rstrip(")") for i in range(1, len(parts) - 1, 2)}


class Tracer:
    """Span recorder plus status-store reader for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()
        self._depth = 0
        self.op: int | None = None
        self.ops: list[dict] = []  # traced op records, appended by the runner
        self.cached: dict[int, int] = {}  # op id -> persisted bytes at validation
        self.next_exec = 0

    # -- spans ---------------------------------------------------------
    def jobs_submitted(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    @contextmanager
    def span(self, name: str, kind: str):
        if self.op is None or threading.get_ident() != self._main:
            yield None
            return
        rec = {
            "name": name, "kind": kind, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "jobs0": self.jobs_submitted(), "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs1"] = self.jobs_submitted()
            self._stack.pop()

    # -- wrapping ------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, fn, name: str, kind: str, on_enter=None) -> None:
        """Replace every binding of ``fn`` in the engine's loaded modules."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if on_enter is not None and self.op is not None:
                on_enter()
            with self.span(name, kind):
                return fn(*args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch(mod, attr, wrapper)

    def _wrap_method(self, cls, meth: str, kind: str) -> None:
        orig = getattr(cls, meth)

        @functools.wraps(orig)
        def wrapper(df, *args, **kwargs):
            if self._depth:
                return orig(df, *args, **kwargs)
            self._depth += 1
            try:
                with self.span(meth, kind):
                    return orig(df, *args, **kwargs)
            finally:
                self._depth -= 1

        self._patch(cls, meth, wrapper)

    def install(self) -> None:
        import importlib

        self.drain()
        self.next_exec = self._first_free_execution()
        importlib.import_module(PACKAGE + ".queries")  # binds every query module
        tables = importlib.import_module(PACKAGE + ".queries.tables")
        self.wrap_function(tables.table, "table", "table")
        for mod, names in OPERATORS.items():
            m = importlib.import_module(f"{PACKAGE}.operators.{mod}")
            for n in names:
                self.wrap_function(getattr(m, n), n, "operator")
        pipeline = importlib.import_module(PACKAGE + ".pipeline")
        for fn_name, stage in PIPELINE_STAGES.items():
            hook = self._record_cached if stage == "validation" else None
            self.wrap_function(getattr(pipeline, fn_name), stage, "pipeline", hook)
        cls = type(self.spark.range(0))
        for m in ACTIONS:
            self._wrap_method(cls, m, "action")
        for m in MATERIALIZATIONS:
            self._wrap_method(cls, m, "materialize")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- status stores ---------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def _first_free_execution(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() + 1 if n else 0

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Job records for ids ``lo <= id < hi`` (epoch ms times)."""
        store = self._sc.statusStore()
        out = []
        for jid in range(lo, hi):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # evicted or never posted
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() if sub.isDefined() else None,
                "end": comp.get().getTime() if comp.isDefined() else None,
                "stages": j.numCompletedStages(),
                "tasks": j.numCompletedTasks(),
            })
        return out

    def executions_metrics(self) -> dict[str, int]:
        """Sum the byte metrics of every SQL execution since the last call."""
        totals = {key: 0 for key, _ in SQL_METRICS.values()}
        seen: set[int] = set()
        misses, eid = 0, self.next_exec
        while misses < 3:
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            self.next_exec = eid + 1
            plan = _PLAN_METRIC_RE.findall(opt.get().metrics().toString())
            values = parse_metric_values(self._sql.executionMetrics(eid).toString())
            for name, acc in plan:
                spec = SQL_METRICS.get(name)
                acc = int(acc)
                if spec is None or acc in seen or acc not in values:
                    continue
                seen.add(acc)
                sizes = _sizes(values[acc])
                if not sizes:
                    continue
                key, how = spec
                if how == "sum":
                    totals[key] += sizes[0]
                else:
                    totals[key] = max(totals[key], sizes[-1])
            eid += 1
        return totals

    def _record_cached(self) -> None:
        """Memory plus disk bytes of the persisted RDD blocks right now."""
        self.cached[self.op] = sum(
            i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo())


def busy_ms(jobs: list[dict], lo_ms: float, hi_ms: float) -> float:
    """Length of the union of job intervals, clipped to ``[lo_ms, hi_ms]``."""
    ivs = sorted(
        (max(j["start"], lo_ms), min(j["end"], hi_ms))
        for j in jobs if j["start"] is not None and j["end"] is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out
