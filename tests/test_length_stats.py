"""Document-length statistics and the weekday chi-squared screen on
degenerate feeds, their cell-read bounds, and their Spark job count.

source_ks_drift, source_psi_drift, source_length_kruskal and
source_length_levene read one bounded (source, length) cell table, and
event_dow_independence one bounded (event_type, weekday) cell table;
each folds its statistic on the driver.  These tests pin that the folds
give the DuckDB oracle's rows where the feed is empty, one row, one
source or event type, or all one length, and that a cell table over its
bound raises instead of reaching the driver whole.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001, SF001
from tests.test_queries_vs_duckdb import _normalize
from walmart_e_commerce_sales_data_pipeline_spark import queries as q
from walmart_e_commerce_sales_data_pipeline_spark.queries import diagnostics as dg
from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import table

LENGTH = (
    "source_ks_drift",
    "source_psi_drift",
    "source_length_kruskal",
    "source_length_levene",
)
DOW = "event_dow_independence"


def _slice(t, case, key):
    if case == "empty":
        return t.slice(0, 0)
    if case == "one_row":
        return t.slice(0, 1)
    if case == "one_key":
        return t.filter(pc.equal(t[key], t[key][0]))
    if case == "one_length":
        same = pa.array([t["n_chars"][0].as_py()] * len(t), t["n_chars"].type)
        return t.set_column(t.schema.get_field_index("n_chars"), "n_chars", same)
    return t


def _check(spark, con, root, names, case):
    for name in names:
        sdf = q.REGISTRY[name].fn(spark, root)
        got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
        ddf = con.sql(q.REGISTRY[name].oracle)
        want = _normalize([tuple(r) for r in ddf.fetchall()], list(ddf.columns))
        assert got == want, (name, case, got, want)


@pytest.mark.parametrize(
    "case", ["empty", "one_row", "one_key", "one_length", "bound"]
)
def test_length_statistics_on_degenerate_documents(spark, tmp_path, monkeypatch, case):
    """Each degenerate sf0.001 documents slice gives the oracle's rows;
    with the cell bound lowered below the table's cell count, each query
    raises the named bound error."""
    feed = _slice(pq.read_table(f"{SF0001}/documents.parquet"), case, "source")
    path = f"{tmp_path}/documents.parquet"
    pq.write_table(feed, path)
    if case == "bound":
        monkeypatch.setattr(dg, "_LENGTH_CELLS", 2)
        for name in LENGTH:
            with pytest.raises(
                ValueError, match=f"{name}: the length cell read is bounded at 2 cells"
            ):
                q.REGISTRY[name].fn(spark, str(tmp_path))
        return
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    _check(spark, con, str(tmp_path), LENGTH, case)
    con.close()


@pytest.mark.parametrize("case", ["empty", "one_row", "one_key", "bound"])
def test_dow_independence_on_degenerate_events(spark, tmp_path, monkeypatch, case):
    """The same for event_dow_independence over sliced events."""
    feed = _slice(pq.read_table(f"{SF0001}/events.parquet"), case, "event_type")
    path = f"{tmp_path}/events.parquet"
    pq.write_table(feed, path)
    if case == "bound":
        monkeypatch.setattr(dg, "_DOW_CELLS", 2)
        with pytest.raises(
            ValueError, match=f"{DOW}: the weekday cell read is bounded at 2 cells"
        ):
            q.REGISTRY[DOW].fn(spark, str(tmp_path))
        return
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    _check(spark, con, str(tmp_path), (DOW,), case)
    con.close()


def test_length_statistics_run_in_at_most_twenty_jobs(spark):
    """One read of each cell aggregate and a driver-built readout, not a
    window and cross chain per frame: the five queries ran 78 jobs
    between them (16, 20, 15, 9 and 18)."""
    table(spark, SF001, "documents")  # the one-off footer reads of new tables
    table(spark, SF001, "events")
    sc = spark.sparkContext
    jobs = {}
    for name in (*LENGTH, DOW):
        sc.setJobGroup(name, name)
        try:
            q.REGISTRY[name].fn(spark, SF001).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))
    assert sum(jobs.values()) <= 20, jobs
