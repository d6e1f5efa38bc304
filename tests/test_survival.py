"""Survival queries on degenerate event feeds, their cell-read bound, and
their Spark job count.

The three survival queries read one bounded cell table and fold
Kaplan-Meier and log-rank on the driver; these tests pin that the fold
gives the DuckDB oracle's rows where the feed is empty, one-cohort,
purchase-free or one-user, and that a cell table over the bound raises
instead of reaching the driver whole.
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001, SF001
from tests.degenerate_feeds import check_feed, job_counts
from walmart_e_commerce_sales_data_pipeline_spark.queries import events as ev
from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import table

SURVIVAL = (
    "survival_time_to_purchase",
    "survival_km_logrank",
    "survival_logrank_stratified",
)


def _slice(t, case):
    if case == "empty":
        return t.slice(0, 0)
    if case == "one_cohort":
        return t.filter(pc.equal(pc.bit_wise_and(t["user_id"], 1), 0))
    if case == "no_purchase":
        return t.filter(pc.not_equal(t["event_type"], "purchase"))
    if case == "one_user":
        buyers = t.filter(pc.equal(t["event_type"], "purchase"))["user_id"]
        return t.filter(pc.equal(t["user_id"], pc.min(buyers)))
    return t


@pytest.mark.parametrize(
    "case", ["empty", "one_cohort", "no_purchase", "one_user", "bound"]
)
def test_survival_queries_on_degenerate_feeds(spark, tmp_path, monkeypatch, case):
    """Each degenerate sf0.001 slice gives the oracle's rows; with the
    cell bound lowered below the feed's cell count, each query raises the
    named bound error."""
    feed = _slice(pq.read_table(f"{SF0001}/events.parquet"), case)
    check_feed(
        spark, monkeypatch, str(tmp_path), "events", feed, SURVIVAL, case,
        (ev, "_SURVIVAL_CELLS"), "survival",
    )


def test_survival_queries_run_in_at_most_thirteen_jobs(spark):
    """One read of the cell aggregate and the sorted readout, not a
    window chain per frame (the log-rank queries ran 24 jobs each)."""
    table(spark, SF001, "events")  # the one-off footer read of a new table
    for name, jobs in job_counts(spark, SF001, SURVIVAL).items():
        assert jobs <= 13, (name, jobs)
