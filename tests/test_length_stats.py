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

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001, SF001
from tests.degenerate_feeds import check_feed, cut, job_counts
from walmart_e_commerce_sales_data_pipeline_spark.queries import diagnostics as dg
from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import table

LENGTH = (
    "source_ks_drift",
    "source_psi_drift",
    "source_length_kruskal",
    "source_length_levene",
)
DOW = "event_dow_independence"


@pytest.mark.parametrize(
    "case", ["empty", "one_row", "one_key", "one_length", "bound"]
)
def test_length_statistics_on_degenerate_documents(spark, tmp_path, monkeypatch, case):
    """Each degenerate sf0.001 documents slice gives the oracle's rows;
    with the cell bound lowered below the table's cell count, each query
    raises the named bound error."""
    t = pq.read_table(f"{SF0001}/documents.parquet")
    if case == "one_length":
        feed = cut(t, "same_key", "n_chars")
    else:
        feed = cut(t, case, "source")
    check_feed(
        spark, monkeypatch, str(tmp_path), "documents", feed, LENGTH, case,
        (dg, "_LENGTH_CELLS"), "length",
    )


@pytest.mark.parametrize("case", ["empty", "one_row", "one_key", "bound"])
def test_dow_independence_on_degenerate_events(spark, tmp_path, monkeypatch, case):
    """The same for event_dow_independence over sliced events."""
    feed = cut(pq.read_table(f"{SF0001}/events.parquet"), case, "event_type")
    check_feed(
        spark, monkeypatch, str(tmp_path), "events", feed, (DOW,), case,
        (dg, "_DOW_CELLS"), "weekday",
    )


def test_length_statistics_run_in_at_most_twenty_jobs(spark):
    """One read of each cell aggregate and a driver-built readout, not a
    window and cross chain per frame: the five queries ran 78 jobs
    between them (16, 20, 15, 9 and 18)."""
    table(spark, SF001, "documents")  # the one-off footer reads of new tables
    table(spark, SF001, "events")
    jobs = job_counts(spark, SF001, (*LENGTH, DOW))
    assert sum(jobs.values()) <= 20, jobs
