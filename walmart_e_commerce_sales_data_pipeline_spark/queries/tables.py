"""Testdata table loaders for registered queries.

All tables are plain ``spark.read.parquet`` except ``events``: the driver
testdata has shipped its ``ts`` column under two different parquet
encodings across rounds, and the loader adapts to whichever is on disk:

- parquet ``TIMESTAMP(NANOS)`` — Spark's reader rejects it outright
  (PARQUET_TYPE_ILLEGAL) unless the documented escape hatch
  ``spark.sql.legacy.parquet.nanosAsLong`` is on, in which case the column
  loads as a nanosecond **long**;
- parquet ``timestamp[us]`` (isAdjustedToUTC=false) — loads natively as
  ``TIMESTAMP_NTZ``.

Either way the loader exposes the same two columns so every downstream
query is encoding-agnostic: a microsecond ``ts`` timestamp (calendar
functions / windows) and an exact nanosecond ``ts_ns`` long (integer
arithmetic like sessionization gaps).  For µs source data ``ts_ns`` is
``unix_micros(ts) * 1000`` — exact ns multiples of 1000, bit-identical to
the DuckDB oracles' ``epoch_ns(ts)``.

The loader also pins the session timezone to UTC (via
``session.ensure_utc``): the driver's session may run with any local TZ,
and ``month()``/``date_format`` over TimestampType are TZ-dependent — the
DuckDB oracle evaluates naive timestamps, which matches Spark only under
UTC.  The NTZ→TZ cast below is likewise identity only under UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from ..session import ensure_utc

# Schema memo: ``spark.read.parquet`` without an explicit schema
# re-infers it on EVERY call — file listing plus a footer read, measured
# 60-100 ms per call on this driver vs ~13 ms with the schema supplied,
# and a real metadata round-trip per query at production scale (catalog
# metadata is exactly what engines cache; guide §6 file listing).  The
# memo holds table SCHEMAS only — catalog metadata, never rows or
# results — and is keyed on ``table_fingerprint`` (path plus per-file
# size, mtime_ns, ctime_ns and inode), so a rewritten or regenerated
# table re-infers.  ctime and inode close the blind spot of a
# size+mtime key: a rewrite that restores the mtime (``cp -p``,
# ``rsync -a``, archive extraction with timestamps) still sets a new
# ctime, which user tools cannot restore, and a replace-by-rename gets
# a new inode.  All four come from the one ``os.stat`` per file, so the
# key adds no footer read (folding in a footer hash would re-pay the
# read the memo exists to avoid).  The events loader still adapts to
# whichever ``ts`` encoding the memoized schema reports.
_SCHEMA_MEMO: dict[str, StructType] = {}


def _table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    key = table_fingerprint(sf_dir, name)
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        sch = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        _SCHEMA_MEMO[key] = sch
    return sch


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events(spark, sf_dir)
    sch = _table_schema(spark, sf_dir, name)
    return spark.read.schema(sch).parquet(f"{sf_dir}/{name}.parquet")


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    # Harmless when ts is already timestamp[us]; required to load the
    # TIMESTAMP(NANOS) encoding at all.  Set BEFORE the schema probe:
    # inference itself rejects TIMESTAMP(NANOS) without it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sch = _table_schema(spark, sf_dir, "events")
    raw = spark.read.schema(sch).parquet(f"{sf_dir}/events.parquet")
    if isinstance(raw.schema["ts"].dataType, LongType):
        # Nanos-as-long encoding.  Integer `div`, never float division:
        # ts_ns ≈ 1.7e18 exceeds double's 53-bit mantissa, so `/ 1000`
        # floors ~1.6% of rows to the previous microsecond and events on
        # exact window boundaries land in the wrong bucket.
        return (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        )
    # timestamp[us] encoding (TIMESTAMP or TIMESTAMP_NTZ).  Cast to
    # session-TZ TimestampType — identity under the UTC pin — and derive
    # the exact ns long (µs data → multiples of 1000).
    return (
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    )


def read_bounded(df: DataFrame, bound: int, what: str) -> list:
    """Collect a table whose size the calendar or the schema bounds, not
    the data: at most ``bound`` rows reach the driver.  One more row than
    the bound raises ``ValueError`` naming ``what``, the bound and the
    count read, instead of flooding the driver."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what} is bounded at {bound:,} cells; read {len(rows):,} "
            "before stopping"
        )
    return rows


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A driver-built result as a Spark frame for its readout expressions.
    The rows go through a pandas frame, so Arrow hands them over as a
    LocalRelation: no RDD and no Python-worker job, which a list-form
    ``createDataFrame`` costs per call."""
    import pandas as pd

    st = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=st.names), st)


def _stat_entry(path: str, rel: str) -> tuple:
    import os

    st = os.stat(path)
    return (rel, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino)


def table_fingerprint(sf_dir: str, name: str, version: int = 0) -> str:
    """Cheap, zero-Spark-job content fingerprint of a testdata table: the
    sorted recursive list of (relative path, size, mtime_ns, ctime_ns,
    inode) of its data files, hashed with ``version`` (bump the caller's
    version constant whenever its derived-artifact format changes).  A
    rewritten or regenerated table changes ctime even when size and mtime
    are preserved, so any scratch artifact keyed by this fingerprint is
    invalidated with it.  Raises if no data files are found — an empty
    entry list would make the key content-insensitive."""
    import hashlib
    import os

    target = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    entries = []
    if os.path.isdir(target):
        for root, dirs, files in os.walk(target):
            dirs.sort()
            rel_root = os.path.relpath(root, target)
            for fname in sorted(files):
                entries.append(
                    _stat_entry(os.path.join(root, fname), os.path.join(rel_root, fname))
                )
    elif os.path.isfile(target):
        entries.append(_stat_entry(target, os.path.basename(target)))
    if not entries:
        raise FileNotFoundError(
            f"no data files found under {target}; refusing to fingerprint "
            "an empty target (the cache key would be content-insensitive)"
        )
    blob = repr((version, target, entries)).encode()
    return hashlib.md5(blob).hexdigest()[:12]


def scratch_dir(kind: str, fingerprint: str) -> str:
    """Per-(kind, corpus) scratch directory for write-once derived
    artifacts: content keyed via ``fingerprint`` and user scoped (uid in
    the path, 0700 base dir, ownership check), so repeated query builds
    (bench min-of-3, plan sweeps) reuse the artifact while a changed
    corpus or a foreign user's pre-created dir can never be silently
    trusted."""
    import os
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else 0
    base = os.path.join(tempfile.gettempdir(), f"{kind}_u{uid}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    if hasattr(os, "getuid") and os.stat(base).st_uid != uid:
        raise RuntimeError(
            f"scratch base dir {base} is owned by another user; refusing "
            "to reuse it"
        )
    os.chmod(base, 0o700)
    return os.path.join(base, fingerprint)
