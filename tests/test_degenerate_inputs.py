"""Registered queries on empty and one-row tables give the DuckDB
oracle's rows.

Each case cuts every sf0.001 table to its first ``n`` rows under
``tmp_path`` and compares through the mirror's ``_normalize``.  Every
case below raised on Spark where DuckDB answers: ANSI ``DIVIDE_BY_ZERO``
on a zero total or a zero spread, ``INVALID_ARRAY_INDEX_IN_ELEMENT_AT``
on an empty sketch-row list, and a ``None`` key maximum on the driver.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001
from tests.degenerate_feeds import check

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.mark.parametrize(
    "name,rows",
    [
        ("benford_digit_profile", 0),
        ("bloom_semijoin_stats", 0),
        ("kmv_sketch_union", 0),
        ("corr_matrix_lineitem", 1),
        ("countsketch_f2", 0),
        ("countsketch_join_size", 0),
        ("countsketch_join_size", 1),
        ("merge_upsert_orders", 0),
    ],
)
def test_degenerate_tables_give_the_oracle_rows(spark, tmp_path, name, rows):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{tmp_path}/{t}.parquet"
        pq.write_table(pq.read_table(f"{SF0001}/{t}.parquet").slice(0, rows), path)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    check(spark, con, str(tmp_path), (name,), rows)
    con.close()
