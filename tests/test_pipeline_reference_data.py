"""Differential tests on the reference's bundled datasets, plus the
``extract`` pre-flight checks that go with them.

The five golden tests read ``grocery_sales.csv`` and ``extra_data.parquet``
under ``REFERENCE_DIR`` and are skipped where either file is absent.
Anchors from actually running the reference (BASELINE.md / FIXTURES.md §B3):
merged 20,000 rows · clean_data 10,971 rows · agg_data 12 rows with golden
values; fill-means Weekly_Sales 24272.506712 / CPI 215.658167 /
Unemployment 7.647960.

The gzip, header and missing-``index`` tests write their inputs into
``tmp_path`` and run everywhere.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import REFERENCE_DIR
from walmart_e_commerce_sales_data_pipeline_spark.pipeline import (
    avg_weekly_sales_per_month,
    extract,
    transform,
)

GOLDEN_AGG = {
    1: 40001.26, 2: 40932.18, 3: 39731.28, 4: 40262.77, 5: 40077.05,
    6: 42214.58, 7: 40331.23, 8: 40031.06, 9: 40219.42, 10: 39286.29,
    11: 43455.06, 12: 44893.31,
}

needs_reference_data = pytest.mark.skipif(
    not (
        Path(REFERENCE_DIR, "grocery_sales.csv").exists()
        and Path(REFERENCE_DIR, "extra_data.parquet").exists()
    ),
    reason=f"reference datasets absent from {REFERENCE_DIR}",
)


@pytest.fixture(scope="module")
def merged(spark):
    return extract(
        spark,
        f"{REFERENCE_DIR}/grocery_sales.csv",
        f"{REFERENCE_DIR}/extra_data.parquet",
    )


@needs_reference_data
def test_extract_cardinality_and_schema(merged):
    assert merged.count() == 20000
    # 6 left + 13 right - 1 shared key = 18 columns, key first
    assert len(merged.columns) == 18
    assert merged.columns[0] == "index"


@needs_reference_data
def test_fill_means_match_reference(merged):
    row = merged.select(
        F.avg("Weekly_Sales").alias("ws"),
        F.avg("CPI").alias("cpi"),
        F.avg("Unemployment").alias("un"),
    ).first()
    assert row["ws"] == pytest.approx(24272.506712, abs=1e-4)
    assert row["cpi"] == pytest.approx(215.658167, abs=1e-4)
    assert row["un"] == pytest.approx(7.647960, abs=1e-4)


@needs_reference_data
def test_clean_data_matches_reference(merged):
    clean = transform(merged)
    assert clean.count() == 10971
    assert clean.columns == [
        "Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month",
    ]
    stats = clean.select(
        F.min("Weekly_Sales").alias("mn"),
        F.sum(F.col("Month").isNull().cast("int")).alias("null_months"),
    ).first()
    assert stats["mn"] > 10000
    assert stats["mn"] == pytest.approx(10003.1, abs=0.5)
    assert stats["null_months"] == 25  # FIXTURES.md §B3


@needs_reference_data
def test_agg_data_matches_golden(merged):
    agg = avg_weekly_sales_per_month(transform(merged))
    rows = agg.collect()
    assert len(rows) == 12
    got = {r["Month"]: r["Avg_Sales"] for r in rows}
    for month, want in GOLDEN_AGG.items():
        assert got[month] == pytest.approx(want, abs=0.01), f"month {month}"
    assert [r["Month"] for r in rows] == list(range(1, 13))


@needs_reference_data
def test_end_to_end_load_and_validation(spark, tmp_path):
    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import main

    tables = main(
        spark,
        f"{REFERENCE_DIR}/grocery_sales.csv",
        f"{REFERENCE_DIR}/extra_data.parquet",
        output_dir=str(tmp_path),
    )
    assert set(tables) == {"clean_data", "agg_data"}
    out = spark.read.option("header", True).csv(str(tmp_path / "agg_data.csv"))
    assert out.count() == 12


def test_gzipped_csv_end_to_end(spark, tmp_path):
    """Parity with pandas' transparent decompression
    (``pd.read_csv('...csv.gz')``, wallmart_pipeline.py:52): the header
    pre-flight must not raw-read gzip bytes — it falls back to
    ``spark.read.text``, which decodes by codec suffix — and the main CSV
    scan likewise decompresses transparently.

    The generated CSV's keys are distinct and all of them are in the
    parquet, so every CSV row joins exactly once."""
    import gzip

    from tests.test_pipeline_units import _write_etl_inputs
    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import extract

    rows = 3000
    csv_path, pq_path = _write_etl_inputs(tmp_path, rows=rows)
    gz = tmp_path / "grocery_sales.csv.gz"
    with open(csv_path, "rb") as fh, gzip.open(gz, "wb") as out:
        out.write(fh.read())
    merged = extract(spark, str(gz), pq_path)
    assert merged.count() == rows
    assert merged.columns[0] == "index"


def test_csv_without_index_header_raises(spark, tmp_path):
    """The CSV pre-flight must inspect the file's header line: with an
    explicit schema Spark binds CSV columns by position, so a malformed
    file would otherwise silently misbind (review finding)."""
    bad = tmp_path / "reordered.csv"
    bad.write_text('"a","b","c","d","e","f"\n1,2,3,4,5,6\n')
    # the parquet has ``index``, so only the CSV header check can raise
    spark.createDataFrame([(1,)], "index: long").write.mode("overwrite").parquet(
        str(tmp_path / "ok.parquet")
    )
    from walmart_e_commerce_sales_data_pipeline_spark.pipeline import extract

    with pytest.raises(KeyError):
        extract(spark, str(bad), str(tmp_path / "ok.parquet"))


def test_missing_index_column_raises(spark, tmp_path):
    # mirrors the reference's schema assertion (wallmart_pipeline.py:55-57)
    bad = tmp_path / "bad.csv"
    bad.write_text("a,b\n1,2\n")
    spark.createDataFrame([(1,)], "index: long").write.mode("overwrite").parquet(
        str(tmp_path / "ok.parquet")
    )
    import pyspark.sql.types as T

    from walmart_e_commerce_sales_data_pipeline_spark import pipeline, schemas

    orig = schemas.GROCERY_SALES_SCHEMA
    try:
        pipeline.GROCERY_SALES_SCHEMA = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
        )
        with pytest.raises(KeyError):
            pipeline.extract(spark, str(bad), str(tmp_path / "ok.parquet"))
    finally:
        pipeline.GROCERY_SALES_SCHEMA = orig
