"""Native vector expressions shared by the similarity operators.
Pure Column builders — zip_with/aggregate stay inside
whole-stage codegen (no Python per row)."""

from __future__ import annotations

from pyspark.sql import functions as F


def dot(a, b):
    """Dot product of two array<double> columns. The fold order (left
    to right, 0.0 seed) is load-bearing: the DuckDB oracles mirror it
    so float results are bit-identical."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)
