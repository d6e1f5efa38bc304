"""DuckDB oracles for the benchmark's ops.

Every expected result is computed here, before the Spark session starts,
so DuckDB never runs inside a timed interval.

- Mix ops: each query's registered DuckDB SQL over the same parquet
  tables, normalized like the repo's DuckDB mirror test
  (``tests/test_queries_vs_duckdb.py::_normalize``): columns sorted by
  name, rows sorted by value, ``-0.0`` folded to ``0.0`` and NaN made
  comparable.  A Spark result matches when the column names, the row count
  and every normalized row are equal.
- ETL op: the fill means over the join, the ``> 10000`` filter, the
  clean_data row count and the monthly average, checked against the CSV
  files the pipeline wrote.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(rows, columns) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [columns[i] for i in idx], out


def query_expectations(sf_dir: str, queries: dict[str, str]) -> dict[str, tuple]:
    """``{name: (sorted column names, normalized rows)}`` per oracle SQL."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in queries.items():
            rel = con.sql(sql)
            out[name] = normalize(rel.fetchall(), list(rel.columns))
        return out
    finally:
        con.close()


def query_matches(expected: tuple, rows, columns) -> bool:
    return normalize([tuple(r) for r in rows], list(columns)) == expected


def etl_expectations(csv_path: str, parquet_path: str) -> dict:
    """Clean row count and ``{month: average}`` of the reference ETL."""
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW merged AS SELECT * FROM read_csv("
            f"'{csv_path}', header = true, columns = {{'level_0': 'BIGINT', "
            "'index': 'BIGINT', 'Store_ID': 'BIGINT', 'Date': 'VARCHAR', "
            "'Dept': 'BIGINT', 'Weekly_Sales': 'DOUBLE'}) s "
            f"JOIN read_parquet('{parquet_path}') e USING (index)"
        )
        con.sql(
            "CREATE VIEW clean AS SELECT COALESCE(Weekly_Sales, m.ws) AS ws, "
            "month(try_strptime(Date, '%Y-%m-%dT%H:%M:%S.%g')) AS month "
            "FROM merged, (SELECT avg(Weekly_Sales) AS ws FROM merged) m "
            "WHERE COALESCE(Weekly_Sales, m.ws) > 10000"
        )
        rows = con.sql("SELECT count(*) FROM clean").fetchone()[0]
        monthly = con.sql(
            "SELECT month, avg(ws) FROM clean WHERE month IS NOT NULL "
            "GROUP BY month ORDER BY month"
        ).fetchall()
        return {"clean_rows": rows, "monthly": {int(m): a for m, a in monthly}}
    finally:
        con.close()


def _csv_lines(path: str) -> list[str]:
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines()[1:])  # every part has a header
    return lines


def etl_outputs(output_dir: str) -> tuple[dict[int, float], int]:
    """``({month: average}, clean_data rows)`` as the pipeline wrote them."""
    monthly = {}
    for line in _csv_lines(os.path.join(output_dir, "agg_data.csv")):
        month, avg = line.split(",")
        monthly[int(month)] = float(avg)
    return monthly, len(_csv_lines(os.path.join(output_dir, "clean_data.csv")))


def etl_matches(expected: dict, monthly: dict[int, float], clean_rows: int) -> bool:
    """The written averages equal the oracle's to 2 dp, and the clean_data
    row count is equal."""
    want = expected["monthly"]
    return (
        sorted(monthly) == sorted(want)
        and all(abs(monthly[m] - want[m]) <= 0.005 + 1e-9 for m in want)
        and clean_rows == expected["clean_rows"]
    )


def corrupt(expected: dict, op: str) -> None:
    """Change one value of ``op``'s expected result (self-test only)."""
    exp = expected[op]
    if op == "etl":
        month = min(exp["monthly"])
        exp["monthly"][month] += 1.0
        return
    cols, rows = exp
    if rows:
        rows[0] = ("corrupted",) + tuple(rows[0][1:])
    else:
        rows.append(tuple("corrupted" for _ in cols))
