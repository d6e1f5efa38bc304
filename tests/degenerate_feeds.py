"""Shared steps of the degenerate-feed tests.

A test cuts an sf0.001 table to a degenerate case with ``cut``, then
``check_feed`` writes it under a scratch root and either compares the
queries with their DuckDB oracles there or, in the ``bound`` case,
expects each query's named cell-read bound error.  ``job_counts`` counts
the Spark jobs a query runs.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.test_queries_vs_duckdb import _normalize
from walmart_e_commerce_sales_data_pipeline_spark import queries as q


def cut(t: pa.Table, case: str, column: str | None = None) -> pa.Table:
    """``t`` cut to ``case``: ``empty``; ``one_row``; ``one_key``, the rows
    whose ``column`` equals the first row's; ``same_key``, every row given
    the first row's ``column``; ``all_null``, ``column`` all NULL.  Any
    other case keeps ``t`` whole."""
    if case == "empty":
        return t.slice(0, 0)
    if case == "one_row":
        return t.slice(0, 1)
    if case == "one_key":
        return t.filter(pc.equal(t[column], t[column][0]))
    if case == "same_key":
        values = pa.array([t[column][0].as_py()] * len(t), t[column].type)
    elif case == "all_null":
        values = pa.nulls(len(t), t[column].type)
    else:
        return t
    return t.set_column(t.schema.get_field_index(column), column, values)


def check(spark, con, root, names, case):
    """Each query's rows over ``root`` equal its oracle's over ``con``."""
    for name in names:
        sdf = q.REGISTRY[name].fn(spark, root)
        got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
        ddf = con.sql(q.REGISTRY[name].oracle)
        want = _normalize([tuple(r) for r in ddf.fetchall()], list(ddf.columns))
        assert got == want, (name, case, got, want)


def check_feed(spark, monkeypatch, root, table_name, feed, names, case, bound, read):
    """Write ``feed`` as ``table_name`` under ``root`` and run ``names``
    over it.  The ``bound`` case lowers ``bound`` (a module and the name
    of its cell-read bound) to 2 and expects each query to raise the
    error naming its ``read`` cell read; any other case expects the
    oracle's rows."""
    path = f"{root}/{table_name}.parquet"
    pq.write_table(feed, path)
    if case == "bound":
        monkeypatch.setattr(*bound, 2)
        for name in names:
            with pytest.raises(
                ValueError, match=f"{name}: the {read} cell read is bounded at 2 cells"
            ):
                q.REGISTRY[name].fn(spark, root)
        return
    con = duckdb.connect()
    con.sql(f"CREATE VIEW {table_name} AS SELECT * FROM read_parquet('{path}')")
    check(spark, con, root, names, case)
    con.close()


def job_counts(spark, root, names) -> dict:
    """The Spark jobs each query of ``names`` runs to collect over
    ``root``, counted in a job group named after it."""
    sc = spark.sparkContext
    jobs = {}
    for name in names:
        sc.setJobGroup(name, name)
        try:
            q.REGISTRY[name].fn(spark, root).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))
    return jobs
