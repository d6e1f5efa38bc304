"""Unit tests on the stage functions, same fixtures/assertions as the
reference's own pytest module (/root/reference/wallmart_pipeline_pytest.py),
ported to Spark DataFrames (FIXTURES.md §A1-A2)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from walmart_e_commerce_sales_data_pipeline_spark.pipeline import (
    avg_weekly_sales_per_month,
    transform,
)

TRANSFORM_SCHEMA = StructType(
    [
        StructField("Store_ID", IntegerType()),
        StructField("Weekly_Sales", DoubleType()),
        StructField("IsHoliday", BooleanType()),
        StructField("CPI", DoubleType()),
        StructField("Unemployment", DoubleType()),
        StructField("Date", StringType()),
    ]
)


def test_transform(spark):
    # fixture mirrors wallmart_pipeline_pytest.py:6-13
    data = spark.createDataFrame(
        [
            (1, 15000.0, False, 200.5, 6.5, "2024-01-15T00:00:00.000"),
            (2, None, True, None, 7.1, "2024-02-20T00:00:00.000"),
            (3, 8000.0, False, 190.3, None, "2024-03-10T00:00:00.000"),
        ],
        TRANSFORM_SCHEMA,
    )
    out = transform(data)
    rows = out.collect()

    # assertions mirror wallmart_pipeline_pytest.py:16-20
    assert "Month" in out.columns, "Month column not created"
    for col in ("Weekly_Sales", "CPI", "Unemployment"):
        nulls = out.filter(F.col(col).isNull()).count()
        assert nulls == 0, f"Missing {col} not filled"
    assert min(r["Weekly_Sales"] for r in rows) > 10000, "Filtering condition not applied"

    # null Weekly_Sales filled with mean (15000+8000)/2 = 11500 → survives filter;
    # the 8000 row is dropped → exactly 2 rows.
    assert len(rows) == 2
    by_store = {r["Store_ID"]: r for r in rows}
    assert by_store[2]["Weekly_Sales"] == 11500.0
    assert by_store[2]["CPI"] == (200.5 + 190.3) / 2
    assert by_store[3 if 3 in by_store else 1]["Month"] in (1, 3)


def test_avg_weekly_sales_per_month(spark):
    # fixture mirrors wallmart_pipeline_pytest.py:23-26
    clean = spark.createDataFrame(
        [Row(Month=m, Weekly_Sales=float(s)) for m, s in
         [(1, 20000), (1, 18000), (2, 22000), (2, 21000), (3, 25000), (3, 23000)]]
    )
    agg = avg_weekly_sales_per_month(clean)
    rows = agg.collect()

    # assertions mirror wallmart_pipeline_pytest.py:30-33
    assert "Month" in agg.columns
    assert "Avg_Sales" in agg.columns
    assert len(rows) == 3, "Incorrect number of months aggregated"
    month1 = [r for r in rows if r["Month"] == 1][0]
    assert round(month1["Avg_Sales"], 2) == 19000.0

    # pandas groupby sorts keys ascending (gotcha G2) — explicit orderBy here
    assert [r["Month"] for r in rows] == [1, 2, 3]


def test_avg_drops_null_months(spark):
    """Gotcha G1: pandas groupby drops NaN keys; Spark keeps them unless
    filtered — the port must filter (SURVEY.md §2.5)."""
    schema = StructType(
        [StructField("Month", IntegerType(), True), StructField("Weekly_Sales", DoubleType())]
    )
    clean = spark.createDataFrame(
        [(1, 100.0), (None, 999.0), (1, 300.0)], schema
    )
    rows = avg_weekly_sales_per_month(clean).collect()
    assert len(rows) == 1
    assert rows[0]["Month"] == 1
    assert rows[0]["Avg_Sales"] == 200.0


def test_load_partitioned_sink_matches_single_file(spark, tmp_path):
    """r17 VERDICT item 7: load(single_file=False) is the production CSV
    sink — one part per partition, parallel write — and must produce the
    same rows as the reference-parity single-file contract; validation()
    accepts both layouts."""
    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import (
        load,
        validation,
    )

    df = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    ).repartition(4)
    single_dir, multi_dir = str(tmp_path / "single"), str(tmp_path / "multi")
    w1 = load({"t": df}, output_dir=single_dir)
    w2 = load({"t": df}, output_dir=multi_dir, single_file=False)
    from pathlib import Path

    assert len(list(Path(single_dir, "t.csv").glob("part-*"))) == 1
    assert len(list(Path(multi_dir, "t.csv").glob("part-*"))) == 4
    r1 = sorted(map(tuple, spark.read.option("header", True).csv(w1[0]).collect()))
    r2 = sorted(map(tuple, spark.read.option("header", True).csv(w2[0]).collect()))
    assert r1 == r2 and len(r1) == 1000
    assert all(validation(spark, w1, deep=True).values())
    assert all(validation(spark, w2, deep=True).values())


def _write_etl_inputs(tmp_path, rows=3000, seed=7):
    """A small grocery_sales.csv plus a 13-column extra_data.parquet with
    unmatched parquet keys, null Weekly_Sales/CPI/Unemployment, a null
    Date and one unparseable Date."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    from walmart_e_commerce_sales_data_pipeline_spark.schemas import (
        EXTRA_DATA_SCHEMA,
    )

    rng = np.random.default_rng(seed)
    n_extra = rows + rows // 5  # a sixth of the parquet keys never match
    keys = rng.permutation(n_extra * 2)[:n_extra].astype(np.int64)
    store_keys = np.sort(keys[:rows])

    def nulls(values, rate, keep=()):
        mask = rng.random(len(values)) < rate
        mask[list(keep)] = False
        return pa.array(values, mask=mask)

    weeks = np.datetime64("2010-02-05") + rng.integers(0, 143, rows) * 7
    dates = np.char.add(weeks.astype(str), "T00:00:00.000").astype(object)
    dates[5], dates[11] = "not-a-date", None
    sales = np.round(rng.lognormal(9.4, 1.0, rows), 2)
    sales[[5, 11]] = 50000.0  # both Date-less rows pass the > 10000 filter
    csv_path = str(tmp_path / "grocery_sales.csv")
    pacsv.write_csv(
        pa.table({
            "level_0": np.arange(rows, dtype=np.int64),
            "index": store_keys,
            "Store_ID": rng.integers(1, 46, rows),
            "Date": pa.array(dates, pa.string()),
            "Dept": rng.integers(1, 100, rows),
            "Weekly_Sales": nulls(sales, 0.02, keep=(5, 11)),
        }),
        csv_path,
        pacsv.WriteOptions(quoting_style="none"),
    )
    extra = {
        "index": rng.permutation(keys),
        "IsHoliday": (rng.random(n_extra) < 0.07).astype(np.int64),
    }
    for f in EXTRA_DATA_SCHEMA.fields[2:]:
        extra[f.name] = np.round(rng.uniform(1.0, 200.0, n_extra), 3)
    extra["CPI"] = nulls(extra["CPI"], 0.02)
    extra["Unemployment"] = nulls(extra["Unemployment"], 0.02)
    pq_path = str(tmp_path / "extra_data.parquet")
    pq.write_table(pa.table(extra), pq_path)
    return csv_path, pq_path


def _reference_steps(csv_path, pq_path):
    """The reference ETL's pandas steps (wallmart_pipeline.py:52-119)."""
    import pandas as pd

    merged = pd.read_csv(csv_path).merge(pd.read_parquet(pq_path), on="index")
    for col in ("Weekly_Sales", "CPI", "Unemployment"):
        merged[col] = merged[col].fillna(merged[col].mean())
    merged["Date"] = pd.to_datetime(
        merged["Date"], format="%Y-%m-%dT%H:%M:%S.%f", errors="coerce"
    )
    merged["Month"] = merged["Date"].dt.month
    clean = merged[merged["Weekly_Sales"] > 10000][
        ["Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month"]
    ]
    agg = clean.groupby("Month")["Weekly_Sales"].mean().reset_index().round(2)
    return clean, agg


def _read_sink(path):
    from pathlib import Path

    import pandas as pd

    parts = sorted(Path(path).glob("part-*"))
    assert len(parts) == 1, parts
    return pd.read_csv(parts[0])


def test_main_end_to_end_on_generated_inputs(spark, tmp_path, monkeypatch):
    """``main`` on generated inputs matches a pandas run of the reference
    steps, and the join it persists is projected to the six columns
    ``transform`` reads, so the parquet scan under the cache reads only
    the join key plus three of its 13 columns."""
    import re

    import numpy as np
    import pandas as pd

    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import main
    from walmart_e_commerce_sales_data_pipeline_spark.schemas import (
        TRANSFORM_INPUT_COLUMNS,
    )

    csv_path, pq_path = _write_etl_inputs(tmp_path)
    cls = type(spark.range(0))
    orig_persist = cls.persist
    persisted = []

    def capture(self, *args, **kwargs):
        plan = self._jdf.queryExecution().executedPlan().toString()
        persisted.append((list(self.columns), plan))
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", capture)
    out = tmp_path / "out"
    main(spark, csv_path, pq_path, output_dir=str(out))
    monkeypatch.undo()

    columns, plan = persisted[0]
    assert columns == list(TRANSFORM_INPUT_COLUMNS)
    scans = re.findall(r"FileScan parquet .*?ReadSchema: struct<([^>]*)>", plan)
    assert len(scans) == 1, plan
    assert [f.split(":")[0] for f in scans[0].split(",")] == [
        "index", "IsHoliday", "CPI", "Unemployment",
    ]

    want_clean, want_agg = _reference_steps(csv_path, pq_path)
    got_agg = _read_sink(out / "agg_data.csv")
    assert got_agg["Month"].tolist() == want_agg["Month"].astype(int).tolist()
    np.testing.assert_allclose(
        got_agg["Avg_Sales"], want_agg["Weekly_Sales"], rtol=0, atol=0.005
    )

    got_clean = _read_sink(out / "clean_data.csv")
    assert list(got_clean.columns) == list(want_clean.columns)
    assert len(got_clean) == len(want_clean)
    assert want_clean["Month"].isna().sum() == 2  # the null and the bad Date

    def ordered(df):
        df = df.astype(float).fillna(-1.0)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    got, want = ordered(got_clean), ordered(want_clean)
    exact = ["Store_ID", "IsHoliday", "Month"]
    pd.testing.assert_frame_equal(got[exact], want[exact])
    filled = ["Weekly_Sales", "CPI", "Unemployment"]
    np.testing.assert_allclose(got[filled], want[filled], rtol=1e-9, atol=0)
