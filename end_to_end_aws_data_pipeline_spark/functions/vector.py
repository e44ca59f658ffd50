"""Vector math over ``array<float|double>`` columns, as expressions
(zip_with/aggregate folds): JVM-side, codegen'd, deterministic
left-to-right accumulation, so every oracle-checked operator gets the
same bits.

Elements are cast to DOUBLE before arithmetic so float32 storage widens
identically everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fsum(arr: Column) -> Column:
    """Sequential left fold sum of an array<double> (deterministic order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return fsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_norm(a: Column) -> Column:
    return F.sqrt(fsum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def dot_raw(a: Column, b: Column) -> Column:
    """Dot product of two already-double arrays (no per-element cast) —
    for pre-normalized vectors where cosine ≡ plain dot."""
    return fsum(F.zip_with(a, b, lambda x, y: x * y))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize (cosine on normalized vectors ≡ monotone in
    euclidean distance — the trick that lets euclidean LSH answer
    cosine queries)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)
