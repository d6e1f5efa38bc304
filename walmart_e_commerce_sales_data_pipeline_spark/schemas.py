"""Explicit schemas for the reference pipeline inputs.

The reference infers schemas at read time (``pd.read_csv`` /
``pd.read_parquet``, /root/reference/wallmart_pipeline.py:52-53).  Inference
is wrong at 100 TB — it costs an extra pass over the data and can flip types
between files — so this engine declares them.  Types follow the observed
production data (SURVEY.md §1.2 / FIXTURES.md §B1-B2):

- ``grocery_sales.csv``: level_0/index/Store_ID/Dept are int64; Date is an
  ISO string (parsed later with coercion, see pipeline.transform);
  Weekly_Sales is float64 with nulls.
- ``extra_data.parquet``: schema travels with the file; declared here only
  for documentation and pre-flight validation.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# grocery_sales.csv — reference reads it at wallmart_pipeline.py:52.
GROCERY_SALES_SCHEMA = StructType(
    [
        StructField("level_0", LongType(), True),
        StructField("index", LongType(), True),
        StructField("Store_ID", LongType(), True),
        StructField("Date", StringType(), True),  # parsed in transform()
        StructField("Dept", LongType(), True),
        StructField("Weekly_Sales", DoubleType(), True),
    ]
)

# extra_data.parquet — reference reads it at wallmart_pipeline.py:53.
# Parquet carries its own schema; this is the expected shape for validation.
EXTRA_DATA_SCHEMA = StructType(
    [
        StructField("index", LongType(), True),
        StructField("IsHoliday", LongType(), True),  # 0/1 in the real data
        StructField("Temperature", DoubleType(), True),
        StructField("Fuel_Price", DoubleType(), True),
        StructField("MarkDown1", DoubleType(), True),
        StructField("MarkDown2", DoubleType(), True),
        StructField("MarkDown3", DoubleType(), True),
        StructField("MarkDown4", DoubleType(), True),
        StructField("MarkDown5", DoubleType(), True),
        StructField("CPI", DoubleType(), True),
        StructField("Unemployment", DoubleType(), True),
        StructField("Type", DoubleType(), True),
        StructField("Size", DoubleType(), True),
    ]
)

# Columns transform() must fill with their post-join mean
# (wallmart_pipeline.py:83-87).
FILL_MEAN_COLUMNS = ("Weekly_Sales", "CPI", "Unemployment")

# Projection kept by transform() (wallmart_pipeline.py:94).
CLEAN_COLUMNS = ("Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month")

# Columns of the 18-column merge that transform() reads: CLEAN_COLUMNS'
# inputs (Month derives from Date).  main() persists only these, because
# a persisted plan is never column-pruned by the plans built on top of it.
TRANSFORM_INPUT_COLUMNS = (
    "Store_ID", "Date", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment",
)

# Date format of the raw CSV Date strings (wallmart_pipeline.py:89,
# pandas "%Y-%m-%dT%H:%M:%S.%f" → Spark pattern).
DATE_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS"
