"""Vector math over ARRAY<FLOAT> columns as native Catalyst expressions.

Used by the similarity-search operators. Everything here is
``F.aggregate`` / ``F.zip_with`` over array columns — JVM-side,
codegen-friendly, zero Python workers — which is the correct baseline
for oracle-checked results. The throughput path for large fan-outs
(brute-force top-k against many queries) is the Arrow/numpy kernel in
``operators.similarity`` which computes the same values blockwise.

All arithmetic is promoted to double *before* accumulating so results
match a double-precision oracle to ~1 ulp; callers round to 6 decimals
before ranking for cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sql_dot(a: str, b: str) -> str:
    """DuckDB fragment: double-precision dot product."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
