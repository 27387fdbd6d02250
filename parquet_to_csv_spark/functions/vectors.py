"""Vector math as native Column expressions (SURVEY.md E3).

All JVM-side — no Python boundary, so a 100 TB embedding scan stays
vectorized. Embeddings are ``array<float>``; we accumulate in double
for precision and cross-engine (DuckDB oracle) agreement.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot_product(a: Column, b: Column) -> Column:
    """⟨a,b⟩ with double accumulation (left fold, index order)."""
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
    """Cosine similarity; null/zero-norm safe (returns NULL)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > F.lit(0.0), dot_product(a, b) / denom)
