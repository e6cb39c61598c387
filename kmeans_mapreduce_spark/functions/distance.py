"""Vector similarity expressions over ``array<double>`` columns, all
JVM-side (SURVEY §2.1 scalar functions): no UDF, no Python on the hot
path.

The 2-D squared Euclidean distance and its nearest-centroid argmin live
in one place, ``operators.kmeans.assign``; the n-D argmin is
``operators.kmeans_nd.assign_nd``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_nd(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_nd(a: Column) -> Column:
    return F.sqrt(dot_nd(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity between two ``array<double>`` columns.

    ``try_divide`` → NULL for zero-norm vectors (ANSI mode would error);
    callers filtering ``cosine >= t`` drop such rows, the right
    semantics for degenerate embeddings at scale."""
    return F.try_divide(dot_nd(a, b), norm_nd(a) * norm_nd(b))
