"""Vector math over ``array<float>`` columns — Catalyst-native higher-order
functions (zip_with / aggregate), no Python in the hot path.

Used by the vector-search operator (reference: HNSW cosine k-NN,
index_definiton/index.json:44-55 — semantics reproduced exactly, brute-force;
see operators/similarity.py for the LSH-bucketed scale path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (a zero
    vector has no direction, and dividing by its norm raises under ANSI)."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_sql(a: str, b: str) -> str:
    """DuckDB oracle equivalent (double-precision, same formula)."""
    da = f"list_transform({a}, x -> x::double)"
    db = f"list_transform({b}, x -> x::double)"
    return (
        f"list_dot_product({da}, {db}) / "
        f"(sqrt(list_dot_product({da}, {da})) * sqrt(list_dot_product({db}, {db})))"
    )
