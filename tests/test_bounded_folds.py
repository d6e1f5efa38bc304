"""The monthly-revenue, score and Spearman statistics on degenerate
feeds, their cell-read bounds, and their Spark job count.

revenue_cusum_changepoint, revenue_autocorrelation,
revenue_seasonal_decomposition and revenue_mann_kendall read one bounded
(month, cents) series; quality_score_auc and score_lift_deciles one
bounded (score, pos_c, c) table; spearman_rank_corr its bounded
(quantity, discount) cells.  Each folds its statistic on the driver.
These tests pin that the folds give the DuckDB oracle's rows where the
feed is empty, one row, one month, score or quantity, or NULL in the
priced or ranked column, and that a cell table over its bound raises
instead of reaching the driver whole.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001, SF001
from tests.degenerate_feeds import check_feed, cut, job_counts
from walmart_e_commerce_sales_data_pipeline_spark import queries as q
from walmart_e_commerce_sales_data_pipeline_spark.queries import analysis as an
from walmart_e_commerce_sales_data_pipeline_spark.queries import diagnostics as dg
from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import table

# table -> (queries, the column a one-key feed gives every row the first
# row's value of, the column an all-NULL feed empties, the bound's module
# and constant, the cell read the bound error names)
FEEDS = {
    "orders": (
        (
            "revenue_cusum_changepoint",
            "revenue_autocorrelation",
            "revenue_seasonal_decomposition",
            "revenue_mann_kendall",
        ),
        "o_orderdate",
        "o_totalprice",
        (dg, "_MONTH_CELLS"),
        "month",
    ),
    "events": (
        ("quality_score_auc", "score_lift_deciles"),
        "value",
        "value",
        (dg, "_SCORE_CELLS"),
        "score",
    ),
    "lineitem": (
        ("spearman_rank_corr",),
        "l_quantity",
        "l_quantity",
        (an, "_RANK_CELLS"),
        "rank",
    ),
}


@pytest.mark.parametrize("feed", sorted(FEEDS))
@pytest.mark.parametrize("case", ["empty", "one_row", "one_key", "all_null", "bound"])
def test_bounded_folds_on_degenerate_feeds(spark, tmp_path, monkeypatch, feed, case):
    """Each degenerate sf0.001 slice gives the oracle's rows (one_key
    holds every order in one month, every event at one score, every line
    at one quantity; all_null empties the order prices, the event values
    and the line quantities, so the folds see SQL's NULLs); with the cell
    bound lowered below the table's cell count, each query raises the
    named bound error."""
    names, key, nulled, bound, read = FEEDS[feed]
    t = pq.read_table(f"{SF0001}/{feed}.parquet")
    if case == "one_key":
        sliced = cut(t, "same_key", key)
    else:
        sliced = cut(t, case, nulled)
    check_feed(
        spark, monkeypatch, str(tmp_path), feed, sliced, names, case, bound, read
    )


def test_seasonal_decomposition_gap_check_skips_an_empty_output(spark, tmp_path):
    """The calendar-gap check fires only where a row would be emitted:
    a gapped series too short for any centered window returns no rows,
    as the oracle's per-row guard does."""
    t = pq.read_table(f"{SF0001}/orders.parquet")
    dates = pc.cast(t["o_orderdate"], pa.date32()).to_pylist()
    months = sorted({(d.year, d.month) for d in dates})
    keep = [(d.year, d.month) in (months[0], months[2]) for d in dates]
    pq.write_table(t.filter(pa.array(keep)), f"{tmp_path}/orders.parquet")
    out = q.REGISTRY["revenue_seasonal_decomposition"].fn(spark, str(tmp_path))
    assert out.collect() == []


def test_bounded_folds_run_in_at_most_twenty_jobs(spark):
    """One read of each cell aggregate and a driver-built readout, not a
    window, cross and checkpoint chain per frame: the seven queries ran
    50 jobs between them (5, 7, 7, 8, 6, 9 and 8)."""
    for feed in FEEDS:
        table(spark, SF001, feed)  # the one-off footer reads of new tables
    names = [name for feed_names, *_ in FEEDS.values() for name in feed_names]
    jobs = job_counts(spark, SF001, names)
    assert sum(jobs.values()) <= 20, jobs
