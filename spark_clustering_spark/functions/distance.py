"""Vector distance / similarity expressions — pure Catalyst, no UDFs.

These are the Spark-first re-expression of the reference's scalar
``compute_dist`` (reference kmeans.java:254-260: sqrt of summed squared
per-dimension differences). Built from ``zip_with`` + ``aggregate`` so
the whole computation stays inside whole-stage codegen; per-row
evaluation order over the array is fixed left-to-right, which makes the
doubles bit-identical across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def sq_euclidean(a: Column, b: Column) -> Column:
    """Sum of squared per-dimension differences (no sqrt)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean(a: Column, b: Column) -> Column:
    """L2 distance. Reference objective uses the *unsquared* form
    (SURVEY.md Q4): objective = sum of these, not of their squares."""
    return F.sqrt(sq_euclidean(a, b))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def dot_dec(a: Column, b: Column) -> Column:
    """Dot product accumulated in exact scale-8 decimal — bit-identical
    to a grouped `sum(cast(x*y AS DECIMAL(38,8)))` over exploded
    dimensions (each per-dim double product is one IEEE op; the exact
    decimal fold is order-free), but it runs INSIDE whole-stage
    codegen per row instead of shuffling dimension-cardinality rows.

    Precision is deliberately 28, not 38: DECIMAL(38,8) + DECIMAL(38,8)
    in Spark overflows the 38-digit cap and silently REDUCES the result
    scale to 7 — a per-step rounding that made the fold diverge from
    the oracle's exact sum in the 8th decimal (caught by the r6 full
    sf0.001 sweep). (28,8)+(28,8) → (29,8) stays under the cap, so
    every step is exact and the cast back to (28,8) only re-asserts
    the type (20 integer digits of headroom)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("decimal(28,8)")),
        F.lit(0).cast("decimal(28,8)"),
        lambda acc, v: (acc + v).cast("decimal(28,8)"),
    )
