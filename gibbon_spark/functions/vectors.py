"""Vector math over ``array<float>`` embedding columns — pure JVM-side
expressions (zip_with + aggregate fold), no UDFs.

The fold is a *sequential* left fold, which makes the double-precision
result deterministic and reproducible across engines — important for
oracle-checked similarity queries. Inputs are cast float→double first
(exact widening) so Spark and DuckDB accumulate identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: sum_i a[i]*b[i].

    NOTE: higher-order functions (aggregate/zip_with) are evaluated by
    Spark's *interpreted* expression path — correct but ~20× slower than
    codegen. Use :func:`dot_fixed` in hot paths when the dimension is
    known (the engine's embedding ops all do)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fixed(a: Column, b: Column, dims: int) -> Column:
    """Dot product unrolled to a flat arithmetic expression over
    GetArrayItem — stays inside whole-stage codegen. The summation is
    the identical left-to-right order as :func:`dot`'s fold (starting
    from 0.0), so the double result is bit-for-bit the same and SQL
    oracles don't notice the swap.

    Indexes the RAW array and casts each element — never index a
    ``transform()``-produced array: Catalyst inlines the transform into
    every GetArrayItem, turning O(d) into O(d²) per row."""
    acc: Column = F.lit(0.0)
    for i in range(dims):
        acc = acc + (
            F.element_at(a, i + 1).cast("double")
            * F.element_at(b, i + 1).cast("double")
        )
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
