"""Vector math over array<float> embedding columns — pure Catalyst expressions.

No Python in the hot path: dot products and norms are built from
``zip_with``/``aggregate`` higher-order functions, which execute JVM-side and
whole-stage-codegen. At 100 TB this keeps similarity scoring fully
distributed and vectorizable; a Pandas-UDF variant would pay Arrow
serialization for no expressive gain at these dimensions (64-4096).

All math is done in double precision with left-to-right accumulation so that
the DuckDB oracle (same accumulation order) produces bit-identical results;
scores surfaced to oracle-checked queries are rounded to 6 decimals as a
final guard (see queries.py).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; both inputs must already be array<double>."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_lit(a: Column, b: list[float]) -> Column:
    """:func:`cosine` of an array<double> column against a driver-side
    vector, passed as an array<double> literal. Catalyst does not
    constant-fold higher-order functions, so the literal's norm is
    computed here once (:func:`py_norm`, bit-equal to :func:`norm`)
    instead of once per row."""
    return dot(a, F.lit(np.asarray(b, dtype=np.float64))) / (
        norm(a) * F.lit(py_norm(b))
    )


def py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side :func:`dot`: the same left-to-right double accumulation
    as an explicit loop (numpy sums pairwise and ``sum()`` is compensated
    on Python >= 3.12), so driver and executor results are bit-equal."""
    acc = 0.0
    for x, y in zip(a, b, strict=True):
        acc += x * y
    return acc


def py_norm(a: list[float]) -> float:
    """Driver-side :func:`norm`, bit-equal to it (see :func:`py_dot`)."""
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side :func:`cosine`. A zero-norm side has no direction and
    scores NaN (the Catalyst expression raises DIVIDE_BY_ZERO under ANSI
    mode instead)."""
    den = py_norm(a) * py_norm(b)
    return py_dot(a, b) / den if den else math.nan


def cosine_sql(a: str, b: str) -> str:
    """DuckDB SQL with the same accumulation order as :func:`cosine`."""
    d = (f"list_aggregate(list_transform(list_zip({a}, {b}),"
         f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')")
    na = (f"sqrt(list_aggregate(list_transform({a},"
          f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))")
    nb = (f"sqrt(list_aggregate(list_transform({b},"
          f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))")
    return f"({d} / ({na} * {nb}))"
