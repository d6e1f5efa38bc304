"""Vector math over ``array<float>`` embedding columns — built-in
higher-order functions only (``zip_with`` + ``aggregate`` fold), evaluated
JVM-side.  Accumulation is in double with a fixed left-to-right fold order,
which both matches DuckDB's list kernels closely enough for rounded
comparison and is deterministic run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return _dsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(_dsum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    # NULL where either vector is all zeros: the cosine is undefined
    # there, and ANSI mode raises on the division.  DuckDB 1.0's
    # list_cosine_similarity clamps its NaN to -1.0 instead, which a
    # threshold filter drops and a descending rank puts last, as NULL.
    nn = norm(a) * norm(b)
    return dot(a, b) / F.when(nn > 0, nn)
