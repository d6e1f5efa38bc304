"""Z-order (Morton-curve) data layout for multi-dimensional file skipping.

A 100 TB fact table is usually range-partitioned or sorted on ONE key, so
min/max footer statistics prune scans on that key only; a predicate on a
second dimension reads everything.  Interleaving the bits of two (or
more) columns into a Morton key and range-partitioning + sorting on it
gives every file a tight min/max envelope in ALL interleaved dimensions
at once — the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``,
implemented here over plain parquet with pure Catalyst expressions (no
UDFs: ``shiftleft``/``|``/broadcast-literal quantile buckets, all
whole-stage-codegen; the coordinate normalization is sketch-based —
``approxQuantile`` — so the write path contains no global sort and no
single-task window).

Pruning is measured, not assumed: ``files_pruned_by_minmax`` reads the
parquet footers (pyarrow) and counts the files whose min/max envelope
can be skipped for a 2-D predicate — the same decision a parquet reader
makes.  ``tests/test_layout.py`` asserts the z-ordered layout skips
files on BOTH dimensions where the 1-D sorted layout skips on one.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-dimension resolution of the interleave (2 dims × 12 bits = 24-bit key,
# 16.7M curve cells).  Resolution only has to comfortably exceed the file
# count so each file's curve segment stays compact: even a 100 TB table at
# 1 GB files is ~10^5 files, two orders of magnitude under 2^24 cells.
# Going finer costs O(2^(bits/2)) comparisons per row in the bucket lookup
# for no extra pruning.
_BITS = 12


def _bucket_expr(value: Column, edges: list[float]) -> Column:
    """#{edges e : value > e} as a pure Catalyst expression — the bin index
    of ``value`` in the equi-depth histogram whose sorted boundaries are
    broadcast as literals.  Two-level chunked lookup: a coarse pass over
    every ``⌈√B⌉``-th edge picks the chunk, a fine pass scans only that
    chunk — O(2·√B) comparisons per row instead of O(B), all inside
    whole-stage codegen (no UDF, no window, no shuffle)."""
    if not edges:
        return F.lit(0).cast("long")
    chunk = max(1, math.isqrt(len(edges)))
    chunks = [edges[i : i + chunk] for i in range(0, len(edges), chunk)]
    count_gt = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, e: acc + F.when(value > e, 1).otherwise(0)
    )
    k = count_gt(F.array(*[F.lit(ch[-1]) for ch in chunks]))
    matrix = F.array(*[F.array(*[F.lit(e) for e in ch]) for ch in chunks])
    # v greater than every coarse edge ⇒ greater than every edge; clamp the
    # element_at index so the (unused) fine lookup stays in bounds under
    # ANSI mode.
    fine = count_gt(F.element_at(matrix, F.least(k, F.lit(len(chunks) - 1)) + 1))
    return (
        F.when(k >= len(chunks), F.lit(len(edges)))
        .otherwise(k * chunk + fine)
        .cast("long")
    )


def _rank01(df: DataFrame, col: str, bits: int = _BITS) -> Column:
    """Equi-depth quantile bin of numeric ``col`` scaled to [0, 2^bits) —
    Morton interleaving needs uniformly distributed coordinates, and real
    columns (prices, dates) are anything but.

    The bin boundaries come from ``approxQuantile`` (the distributed
    Greenwald-Khanna sketch: map-side summaries merged on the driver — one
    lightweight aggregation job per dimension, the sampling pass every
    range partitioner pays) and are applied back as broadcast literals via
    ``_bucket_expr``.  No window and no global sort anywhere: the earlier
    ``percent_rank().over(Window.orderBy(...))`` formulation funneled the
    whole table through a single task, which at 100 TB kills the write job
    before any clustering benefit exists.  This is the Delta
    ``OPTIMIZE ZORDER BY`` posture (range-partition-id per dimension).
    Sketch error only shifts bin *boundaries* slightly — files still own
    compact curve segments, which is all min/max pruning needs."""
    n_bins = 1 << bits
    return _bucket_expr(
        F.col(col).cast("double"), _sketch_edges(df, col, n_bins, 0.25)
    )


def _sketch_edges(df: DataFrame, col: str, n: int, err: float) -> list[float]:
    """The n-quantile boundaries of ``col`` from the Greenwald-Khanna
    sketch (``approxQuantile``, relative error ``err / n``), a
    deterministic aggregate of the input.  Heavy ties collapse bins, so
    the returned boundaries are strictly increasing and may be fewer than
    n - 1."""
    edges = df.select(F.col(col).cast("double").alias("_q")).approxQuantile(
        "_q", [i / n for i in range(1, n)], max(1e-6, err / n)
    )
    uniq: list[float] = []
    for e in edges:
        if not uniq or e > uniq[-1]:
            uniq.append(e)
    return uniq


def morton_key(x: Column, y: Column, bits: int = _BITS) -> Column:
    """Bit-interleave two [0, 2^bits) integer columns into a Morton key —
    a fold of shiftleft/or expressions, evaluated JVM-side."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        x_bit = F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1))
        y_bit = F.shiftrightunsigned(y, i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(x_bit, 2 * i)).bitwiseOR(
            F.shiftleft(y_bit, 2 * i + 1)
        )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = _BITS,
    writer_options: dict | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Morton curve of
    (col_x, col_y): route each row to the file that owns its compact
    curve segment, sort within partitions so row-group stats are tight
    too.  The segment boundaries are the key's sketch quantiles and
    ``repartitionById`` sends segment i to task i, so the layout is the
    same on every run (``repartitionByRange`` draws its boundary sample
    with a seed that moves with the session's RDD count).

    Regime note: with F files over 2 dimensions, each file's per-
    dimension min/max envelope spans roughly sqrt(1/F) of that
    dimension, so pruning a p-wide predicate band needs
    sqrt(1/F) < ~(1-p) margin to bite — at F=8 the envelope is ~35%
    per dimension and a 10% band intersects nearly every file, while
    F=16/32 skip 30-60% (measured in SCALE.md §10).  At 100 TB F is in
    the tens of thousands and the envelopes are sub-percent."""
    keyed = df.withColumn(
        "_zkey",
        morton_key(_rank01(df, col_x, bits), _rank01(df, col_y, bits), bits),
    )
    edges = _sketch_edges(keyed, "_zkey", n_files, 0.1)
    file_id = _bucket_expr(F.col("_zkey").cast("double"), edges).cast("int")
    (
        keyed.repartitionById(n_files, file_id)
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .options(**(writer_options or {}))
        .parquet(path)
    )


def _parquet_files(path: str) -> list[str]:
    """All data files under ``path``, recursing into hive-style
    ``key=value`` partition directories (``hilbert_write`` routes each
    curve bucket to its own directory), sorted for determinism."""
    import os

    out: list[str] = []
    for root, _dirs, names in os.walk(path):
        out.extend(
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        )
    return sorted(out)


def files_pruned_by_minmax(
    path: str, predicates: dict[str, tuple[float, float]]
) -> dict[str, int]:
    """Footer-stat pruning decision per file, exactly as a parquet reader
    makes it: a file is skippable when, for ANY predicate column, its
    [min, max] envelope does not intersect the predicate's
    [lo, hi] interval.  Returns {"total": N, "skipped": M}."""
    import pyarrow.parquet as pq

    total = skipped = 0
    for fpath in _parquet_files(path):
        total += 1
        md = pq.ParquetFile(fpath).metadata
        cols = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        skip = False
        for col, (lo, hi) in predicates.items():
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cols[col]).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins and (min(mins) > hi or max(maxs) < lo):
                skip = True
                break
        skipped += skip
    return {"total": total, "skipped": skipped}


# ---------------------------------------------------------------------------
# Hilbert-curve variant: tighter envelopes than Morton at the same cost.
# ---------------------------------------------------------------------------


def hilbert_d(keyed: DataFrame, bits: int = _BITS) -> DataFrame:
    """Append a ``_hd`` Hilbert-distance column computed from integer
    coordinate columns ``_hx``/``_hy`` in [0, 2^bits) — the classic
    xy→d iteration (quadrant digit + rotate/reflect).  The iteration
    carries per-step state (x, y, d mutate under rotation), which would
    duplicate the whole expression tree if nested naively — each step is
    therefore materialized as its own projection, keeping the plan
    linear in ``bits`` (16 narrow Projects, all whole-stage codegen).
    Consumes ``_hx``/``_hy`` (mutated in place)."""
    keyed = keyed.withColumn("_hd", F.lit(0).cast("long"))
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        keyed = keyed.select(
            "*",
            rx.alias("_rx"),
            ry.alias("_ry"),
        )
        keyed = keyed.withColumn(
            "_hd",
            F.col("_hd")
            + F.lit(s).cast("long")
            * F.lit(s)
            * (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry")),
        )
        # rotate the quadrant: when ry == 0, reflect about the FULL grid
        # (n-1, not s-1 — x still carries untouched low bits) if rx == 1,
        # then swap x/y; each step reads the PREVIOUS step's columns, so
        # the swap is safe inside one select.
        n_minus_1 = (1 << bits) - 1
        nx = F.when(
            F.col("_ry") == 0,
            F.when(
                F.col("_rx") == 1, F.lit(n_minus_1) - F.col("_hy")
            ).otherwise(F.col("_hy")),
        ).otherwise(F.col("_hx"))
        ny = F.when(
            F.col("_ry") == 0,
            F.when(
                F.col("_rx") == 1, F.lit(n_minus_1) - F.col("_hx")
            ).otherwise(F.col("_hx")),
        ).otherwise(F.col("_hy"))
        keyed = keyed.select(
            *[c for c in keyed.columns if c not in ("_hx", "_hy", "_rx", "_ry")],
            nx.alias("_hx"),
            ny.alias("_hy"),
        )
    return keyed.drop("_hx", "_hy")


def hilbert_write(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = _BITS,
    writer_options: dict | None = None,
) -> None:
    """``zorder_write`` with the Hilbert curve instead of Morton: the
    Hilbert traversal has no long diagonal jumps, so file envelopes are
    typically tighter for the same file count (measured in SCALE.md
    §10).

    Routing is DETERMINISTIC (ADVICE r14): ``repartitionByRange`` draws
    its boundary sample with a non-deterministic seed, so file envelopes
    — and the measured skip fraction — jittered run to run.  Instead the
    bucket boundaries come from the same Greenwald-Khanna sketch the
    coordinate normalization already uses (``approxQuantile`` is a
    deterministic aggregate of the input), each row's curve bucket is a
    broadcast-literal comparison chain, and ``partitionBy`` routes every
    bucket to its own hive directory — one file per bucket because the
    hash repartition puts each whole bucket in one task.  Same scale
    shape as before (sketch pass + one shuffle, no global sort)."""
    keyed = hilbert_d(
        df.withColumn("_hx", _rank01(df, col_x, bits)).withColumn(
            "_hy", _rank01(df, col_y, bits)
        ),
        bits,
    )
    uniq = _sketch_edges(keyed, "_hd", n_files, 0.1)
    (
        keyed.withColumn(
            "_hb", _bucket_expr(F.col("_hd").cast("double"), uniq)
        )
        .repartition(max(n_files, 1), "_hb")
        .sortWithinPartitions("_hb", "_hd")
        .drop("_hd")
        .write.mode("overwrite")
        .options(**(writer_options or {}))
        .partitionBy("_hb")
        .parquet(path)
    )


def row_groups_pruned_by_minmax(
    path: str, predicates: dict[str, tuple[float, float]]
) -> dict[str, int]:
    """Row-group-granularity twin of ``files_pruned_by_minmax`` — the
    decision parquet readers actually make at production file sizes
    (1 GB files hold ~8 row groups; a file whose envelope straddles the
    predicate can still skip most of its groups when the data inside is
    curve-sorted, which is exactly what ``sortWithinPartitions`` on the
    clustering key buys).  Returns {"total": N, "skipped": M} over all
    row groups under ``path``."""
    import pyarrow.parquet as pq

    total = skipped = 0
    for fpath in _parquet_files(path):
        md = pq.ParquetFile(fpath).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            for col, (lo, hi) in predicates.items():
                st = md.row_group(rg).column(cols[col]).statistics
                if st is not None and st.has_min_max and (
                    st.min > hi or st.max < lo
                ):
                    skipped += 1
                    break
    return {"total": total, "skipped": skipped}
