"""Unit tests for the content-fingerprint + scratch-dir helpers behind
the write-once derived artifacts (WARC export, MERGE scratch)."""

from __future__ import annotations

import os
import time

import pytest

from walmart_e_commerce_sales_data_pipeline_spark.queries.tables import (
    scratch_dir,
    table_fingerprint,
)


def _write(path, content=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(content)


def test_fingerprint_sees_nested_partition_files(tmp_path):
    """A partitioned parquet directory keeps data files under key=value
    subdirs; the fingerprint must change when any nested file changes
    (the round-11 ADVICE fix: a top-level-only listing was blind to
    them)."""
    t = tmp_path / "documents.parquet"
    _write(str(t / "lang=en" / "part-0.parquet"), b"aaa")
    _write(str(t / "lang=fr" / "part-0.parquet"), b"bbb")
    fp1 = table_fingerprint(str(tmp_path), "documents")
    # grow a nested file -> fingerprint must move
    _write(str(t / "lang=fr" / "part-0.parquet"), b"bbbb")
    fp2 = table_fingerprint(str(tmp_path), "documents")
    assert fp1 != fp2
    # add a new nested file -> moves again
    _write(str(t / "lang=de" / "part-0.parquet"), b"ccc")
    assert table_fingerprint(str(tmp_path), "documents") not in (fp1, fp2)


def test_fingerprint_sees_rewrite_that_keeps_size_and_mtime(tmp_path):
    """A same-size rewrite that restores the old mtime (what ``cp -p`` or
    ``rsync -a`` leave behind) still moves the fingerprint: the new ctime
    cannot be restored, so the schema memo never serves a stale schema."""
    path = str(tmp_path / "orders.parquet")
    _write(path, b"aaaa")
    before = os.stat(path)
    fp1 = table_fingerprint(str(tmp_path), "orders")
    time.sleep(0.05)  # past the coarse clock tick file timestamps use
    _write(path, b"bbbb")
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_size, after.st_mtime_ns) == (before.st_size, before.st_mtime_ns)
    assert table_fingerprint(str(tmp_path), "orders") != fp1


def test_fingerprint_single_file_and_version_key(tmp_path):
    _write(str(tmp_path / "orders.parquet"), b"data")
    v0 = table_fingerprint(str(tmp_path), "orders", 0)
    v1 = table_fingerprint(str(tmp_path), "orders", 1)
    assert v0 != v1  # version bump invalidates derived artifacts


def test_fingerprint_refuses_empty_target(tmp_path):
    (tmp_path / "documents.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="refusing to fingerprint"):
        table_fingerprint(str(tmp_path), "documents")
    with pytest.raises(FileNotFoundError):
        table_fingerprint(str(tmp_path), "missing")


def test_scratch_dir_is_user_scoped_and_keyed():
    a = scratch_dir("unit_test_kind", "abc123")
    b = scratch_dir("unit_test_kind", "def456")
    assert a != b and os.path.dirname(a) == os.path.dirname(b)
    base = os.path.dirname(a)
    if hasattr(os, "getuid"):
        assert f"u{os.getuid()}" in os.path.basename(base)
        assert (os.stat(base).st_mode & 0o777) == 0o700


def test_corr_matrix_matches_numpy(spark):
    """The one-pass integer-sufficient-statistics Pearson r must agree
    with numpy.corrcoef on the same scaled columns."""
    import duckdb
    import numpy as np

    from tests.conftest import SF001
    from walmart_e_commerce_sales_data_pipeline_spark import queries as q

    rows = {
        (r["col_x"], r["col_y"]): r["r"]
        for r in q.REGISTRY["corr_matrix_lineitem"].fn(spark, SF001).collect()
    }
    con = duckdb.connect()
    df = con.execute(
        f"""
        SELECT CAST(ROUND(l_quantity * 100.0) AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price,
               CAST(ROUND(l_discount * 100.0) AS BIGINT) AS disc,
               CAST(ROUND(l_tax * 100.0) AS BIGINT) AS tax
        FROM '{SF001}/lineitem.parquet'
        """
    ).fetchdf()
    for (x, y), got in rows.items():
        want = np.corrcoef(df[x].to_numpy(float), df[y].to_numpy(float))[0, 1]
        assert abs(got - want) < 1e-6, (x, y, got, want)
