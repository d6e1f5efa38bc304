"""Reference-parity pipeline, re-expressed as lazy Spark DataFrame plans.

Mirrors the public API of the reference pandas ETL
(/root/reference/wallmart_pipeline.py): ``extract`` → ``transform`` →
``avg_weekly_sales_per_month`` → ``load`` → ``validation``, orchestrated by
``main``.  Stage functions take and return DataFrames, exactly like the
reference (its tests import ``transform`` / ``avg_weekly_sales_per_month``
directly, wallmart_pipeline_pytest.py:3), so the same unit-test pattern works.

Semantics ported with their edge cases (SURVEY.md §2.5 gotchas):

- G1: pandas ``groupby`` drops null keys → explicit ``isNotNull`` filter.
- G2: pandas sorts group keys ascending → explicit ``orderBy``.
- G4: pandas ``round`` is half-to-even; ``F.round`` (HALF_UP) agrees on the
  non-negative monetary values here and matches common SQL engines.
- G6: imputation means are computed over the *post-join* table
  (wallmart_pipeline.py:83-87 runs on merged_df).
- G7: means are computed *before* the ``> 10000`` filter; using collected
  literals preserves that ordering under lazy evaluation.

Scale posture: every step is a Catalyst-optimizable plan node.  ``main``
projects the join to the 6 columns ``transform`` reads before it persists
the join, so the parquet scan reads 4 of its 13 columns (``index`` plus
three) and the cache holds 6 columns, not 18; a persisted plan is never
pruned by the plans built on it, so the projection has to come first.
The ``> 10000`` filter runs on the mean-filled column over that cache, so
it cannot push into the scan.  AQE picks the join strategy at runtime,
and the group-by runs partial+final hash aggregation.  No Python UDFs
anywhere.
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    CLEAN_COLUMNS,
    DATE_FORMAT,
    FILL_MEAN_COLUMNS,
    GROCERY_SALES_SCHEMA,
    TRANSFORM_INPUT_COLUMNS,
)

logger = logging.getLogger(__name__)


def create_sql_tables(spark: SparkSession, database: str = "default") -> None:
    """Engine-native DDL bootstrap (reference: wallmart_pipeline.py:17-36).

    The reference issues PostgreSQL ``CREATE TABLE IF NOT EXISTS`` via
    SQLAlchemy; the lakehouse-native equivalent registers managed parquet
    tables in the session catalog.  (For an actual Postgres sink use
    ``load(..., jdbc_url=...)`` which writes with overwrite semantics and
    needs no pre-created tables.)
    """
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {database}.clean_sales (
            Store_ID INT,
            Weekly_Sales DOUBLE,
            IsHoliday BIGINT,
            CPI DOUBLE,
            Unemployment DOUBLE,
            Month INT
        ) USING parquet
        """
    )
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {database}.monthly_sales (
            Month INT,
            Avg_Sales DOUBLE
        ) USING parquet
        """
    )


def extract(spark: SparkSession, store_data: str, extra_data: str) -> DataFrame:
    """Scan both sources and inner-join on ``index``.

    Reference: wallmart_pipeline.py:39-65 — ``pd.read_csv`` +
    ``pd.read_parquet`` + schema assertion + ``df.merge(on="index")``
    (inner, both key sets unique → left-cardinality-preserving).

    Spark-first notes:
    - CSV gets an explicit schema (no ``inferSchema`` pass — at scale that
      second scan is pure waste).
    - The schema pre-flight mirrors the reference's ``KeyError`` on a
      missing ``index`` column (wallmart_pipeline.py:55-57).  The CSV side
      must be checked against the file's *header line*: with an explicit
      schema Spark binds CSV columns by position, so ``df.columns`` always
      echoes the schema and would never catch a malformed file.
    - Join strategy is left to AQE (runtime broadcast conversion from
      observed sizes) — both inputs grow with the dataset, so no build
      side is pinned at plan time.
    - The result is the reference's full 18-column merge.  Column pruning
      happens downstream, where a plan selects columns: ``main`` projects
      to ``TRANSFORM_INPUT_COLUMNS`` before it persists, so the parquet
      scan reads 4 of 13 columns (the reference reads all 13, SURVEY.md
      §4.1).
    """
    df = spark.read.option("header", True).schema(GROCERY_SALES_SCHEMA).csv(store_data)
    extra_df = spark.read.parquet(extra_data)

    # Header pre-flight: a local *plain-text* file is read driver-side (one
    # line, no Spark job — the schema check shouldn't pay job-scheduling
    # overhead); anything else — remote URIs (hdfs://, s3://) and
    # compressed inputs (.csv.gz etc., which pandas' read_csv decompresses
    # transparently and Spark's text source likewise decodes by codec
    # suffix) — falls back to a Spark text scan, which reads only the
    # first partition for .first().
    p = Path(store_data)
    if p.is_file() and p.suffix.lower() in {".csv", ".txt", ".tsv"}:
        with p.open("r", encoding="utf-8", errors="replace") as fh:
            raw_header = fh.readline().rstrip("\r\n")
    else:
        header = spark.read.text(store_data).first()
        raw_header = header["value"] if header else ""
    raw_header = raw_header.lstrip("﻿")  # BOM-tolerant
    csv_columns = [c.strip().strip('"').strip("'") for c in raw_header.split(",")]
    if "index" not in csv_columns or "index" not in extra_df.columns:
        logger.error("The 'index' column is missing from one of the datasets.")
        raise KeyError("The 'index' column is missing from one of the datasets.")

    # No hardcoded broadcast hint: both inputs grow with the dataset, so the
    # build side must be a runtime decision — AQE converts to broadcast-hash
    # from observed sizes when either side fits. Left position preserved so
    # the output column order matches the reference's merge (left cols first).
    merged_df = df.join(extra_df, on="index", how="inner")
    logger.info("Data successfully extracted and merged (lazy plan built).")
    return merged_df


def transform(raw_data: DataFrame) -> DataFrame:
    """Clean + derive + filter + project (reference: wallmart_pipeline.py:68-102).

    1. Fill nulls in Weekly_Sales / CPI / Unemployment with each column's
       mean over the *input* (post-join) table — one job computing all three
       means (two-pass literal imputation; an unpartitioned window would
       serialize to a single task at scale, SURVEY.md O6).
    2. Parse ``Date`` (ISO string) → timestamp; unparseable → null, matching
       pandas ``errors="coerce"``.
    3. Derive ``Month`` (null-propagating).
    4. Keep rows with ``Weekly_Sales > 10000`` and project the 6 pipeline
       columns.  Null months are *kept* here (dropped later by the
       aggregation, exactly like pandas groupby's dropna).
    """
    means_row = raw_data.select(
        *[F.avg(c).alias(c) for c in FILL_MEAN_COLUMNS]
    ).first()
    fill_values = {c: means_row[c] for c in FILL_MEAN_COLUMNS if means_row[c] is not None}

    filled = raw_data.na.fill(fill_values)
    # try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4 default)
    # to_timestamp *throws* on malformed input, while the reference's
    # pd.to_datetime(errors="coerce") maps bad strings to null.
    with_month = (
        filled.withColumn(
            "Date", F.try_to_timestamp(F.col("Date").cast("string"), F.lit(DATE_FORMAT))
        )
        .withColumn("Month", F.month("Date"))
    )
    clean_data = with_month.filter(F.col("Weekly_Sales") > 10000).select(*CLEAN_COLUMNS)
    logger.info("Data transformation plan built.")
    return clean_data


def avg_weekly_sales_per_month(clean_data: DataFrame) -> DataFrame:
    """Group-average of sales by month (reference: wallmart_pipeline.py:105-126).

    pandas ``groupby("Month")["Weekly_Sales"].mean()`` drops null keys and
    sorts them ascending (gotchas G1/G2) — both made explicit here.  Rounding
    to 2 dp mirrors ``agg_data.round(2)`` (wallmart_pipeline.py:119).
    Catalyst runs this as partial+final hash aggregation (map-side combine),
    so the shuffle carries one row per (partition, month), not per input row.
    """
    agg_data = (
        clean_data.filter(F.col("Month").isNotNull())
        .groupBy("Month")
        .agg(F.round(F.avg("Weekly_Sales"), 2).alias("Avg_Sales"))
        .orderBy("Month")
    )
    logger.info("Average weekly sales per month plan built.")
    return agg_data


def load(
    data_dict: dict[str, DataFrame],
    output_dir: str = ".",
    jdbc_url: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
    single_file: bool = True,
) -> list[str]:
    """Write each table to ``{output_dir}/{name}.csv`` (single file, header)
    and optionally to a JDBC database with overwrite semantics.

    Reference: wallmart_pipeline.py:129-154 (``to_csv(index=False)`` +
    optional ``to_sql(if_exists="replace")``).  The reference's
    ``engine.dipose()`` typo (wallmart_pipeline.py:149) — which raised
    AttributeError after every successful DB load — is intentionally not
    reproduced.

    These outputs are small aggregates, so ``coalesce(1)`` for a single CSV
    part is correct; large fact-table sinks in this engine go through
    ``sources.writers.write_parquet`` with ``partitionBy`` instead.

    ``single_file=False`` is the PRODUCTION sink variant (r17 VERDICT
    item 7): each table writes one CSV part per partition in parallel
    instead of serializing through a single coalesced task.  The
    reference-parity contract (one ``to_csv`` file) stays the default —
    the flag exists so the ETL scale soak can record what the
    single-file contract costs at volume (SCALE.md §36: the 100x wall
    is sink-dominated) without changing parity behavior.  Readers are
    unaffected either way: ``validation`` and ``spark.read.csv`` both
    take the directory.

    The CSV sink jobs are independent of each other, so they are submitted
    concurrently from driver threads — the standard multi-sink pattern
    (Spark's scheduler interleaves the jobs; with a shared persisted
    upstream the first job to materialize a cached block publishes it for
    the rest).  Serializing them would add one full job latency per sink
    for no correctness benefit at any scale.
    """
    from concurrent.futures import ThreadPoolExecutor

    def _write_csv(item: tuple[str, DataFrame]) -> str:
        name, df = item
        path = str(Path(output_dir) / f"{name}.csv")
        out = df.coalesce(1) if single_file else df
        out.write.mode("overwrite").option("header", True).csv(path)
        logger.info("%s saved successfully.", path)
        return path

    with ThreadPoolExecutor(max_workers=max(1, len(data_dict))) as pool:
        written = list(pool.map(_write_csv, data_dict.items()))

    if jdbc_url:
        for name, df in data_dict.items():
            df.write.mode("overwrite").jdbc(
                jdbc_url, name, properties=jdbc_properties or {}
            )
        logger.info("Data successfully loaded into the JDBC database.")
    return written


def validation(
    spark: SparkSession, val_list: list[str], deep: bool = False
) -> dict[str, bool]:
    """Validation of produced sinks (reference: wallmart_pipeline.py:157-168).

    The reference checks file existence only — that is the default here too
    (including a non-empty part file, which existence alone wouldn't prove).
    ``deep=True`` additionally reads each CSV back through Spark and counts
    rows — two extra jobs per sink, worth it for unattended production
    loads but not part of reference parity.
    """
    results: dict[str, bool] = {}
    for file in val_list:
        try:
            p = Path(file)
            ok = p.exists() and any(
                f.stat().st_size > 0 for f in p.glob("part-*") if f.is_file()
            )
            if ok and deep:
                ok = spark.read.option("header", True).csv(file).count() > 0
        except Exception:  # unreadable output == invalid
            ok = False
        results[file] = ok
        if ok:
            logger.info("%s validated successfully.", file)
        else:
            logger.error("Error: %s was not created.", file)
    return results


def main(
    spark: SparkSession,
    file_1: str,
    file_2: str,
    output_dir: str = ".",
    jdbc_url: str | None = None,
    single_file: bool = True,
) -> dict[str, DataFrame]:
    """Full pipeline (reference: wallmart_pipeline.py:171-201).

    extract → transform → aggregate → load → validate.  Under Spark the
    stages compose into one lazy plan; actions happen only at the fill-mean
    collect and the sinks.  ``single_file=False`` selects the production
    (partitioned) CSV sink — see ``load``.
    """
    try:
        logger.info("Starting data pipeline execution.")
        # The scan+join feeds THREE actions (the fill-mean aggregate, then
        # each sink's plan): persist it so the sources are read and joined
        # once — the means job populates the cache, the sinks reuse it.
        # Project to the columns transform reads FIRST: a persisted plan
        # is never pruned by its consumers, so persisting the full merge
        # would scan all 13 parquet columns and cache all 18.  The
        # projection is where the scan pruning happens; transform's
        # ``> 10000`` filter reads the mean-filled column over this cache,
        # so no filter reaches the scan.  MEMORY_AND_DISK
        # (persist default) spills rather than OOMs at scale, and the
        # cache is released in the finally below.
        merged_df = (
            extract(spark, file_1, file_2)
            .select(*TRANSFORM_INPUT_COLUMNS)
            .persist()
        )
        # Always release the caches: a failed means job or sink must not
        # pin the persisted plans for the rest of the session.
        try:
            # clean_data feeds two sinks (its own CSV and the aggregate) —
            # persist so the fill/derive/filter runs once, not per sink.
            clean_data = transform(merged_df).persist()
            try:
                tables = {
                    "clean_data": clean_data,
                    "agg_data": avg_weekly_sales_per_month(clean_data),
                }
                written = load(
                    tables,
                    output_dir=output_dir,
                    jdbc_url=jdbc_url,
                    single_file=single_file,
                )
                validation(spark, written)
            finally:
                clean_data.unpersist()
        finally:
            merged_df.unpersist()
        logger.info("Data pipeline execution completed successfully.")
        return tables
    except Exception:
        logger.critical("Critical error in main()", exc_info=True)
        raise
