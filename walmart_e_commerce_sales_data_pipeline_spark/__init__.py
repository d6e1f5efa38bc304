"""PySpark-native analytics engine with the query & data-processing
capabilities of FraniukasSneideris/Walmart-E-Commerce-Sales-Data-Pipeline.

The reference (``/root/reference/wallmart_pipeline.py``) is a single-process
pandas batch ETL.  This package re-expresses the same semantics — and a much
wider operator library for 100 TB-scale training-data pipelines — as lazy,
declarative Spark DataFrame plans that Catalyst/Tungsten optimize and execute.

Layout
------
- ``session``    : SparkSession factory tuned for scale (AQE, Arrow, parquet).
- ``schemas``    : explicit ``StructType`` schemas (no runtime inference).
- ``pipeline``   : reference-parity stage functions (extract / transform /
                   avg_weekly_sales_per_month / load / validation / main).
- ``sources``    : readers & writers (CSV / Parquet / JSON / JDBC).
- ``operators``  : dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard,
                   embedding), similarity search, sessionization.
- ``functions``  : scalar/vector helpers (text analysis, vector math) — all
                   built-in Catalyst expressions, no Python UDFs in hot paths.
- ``streaming``  : Structured Streaming variants (windowed aggs, watermarks,
                   session windows).
- ``plans``      : plan-inspection helpers (pushdown / broadcast assertions).
- ``reference``  : the reference ETL's pandas steps, for the parity test
                   and the bench's same-host comparison.
"""

__version__ = "0.1.0"
