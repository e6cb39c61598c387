"""Distance expressions — the engine's only scalar math, all JVM-side.

The reference computes Euclidean distance in interpreted Python, twice
over (``/root/reference/master.py:305-313`` and the duplicate
``mapper.py:19-27``), then re-squares it for comparison
(``mapper.py:42``) — net semantics: *squared* Euclidean distance.
Here the same math is a Catalyst expression inside whole-stage codegen:
no UDF, no Python on the hot path (SURVEY §2.1 scalar functions).

Multiplication (not ``pow``) is used everywhere so the Spark plan and
the DuckDB oracle run the identical IEEE-754 op sequence —
bit-reproducible distances, which lets per-row oracle checks compare
unrounded doubles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sq_dist_2d(x: Column, y: Column, cx: Column, cy: Column) -> Column:
    """Squared Euclidean distance in 2-D: (x−cx)² + (y−cy)²."""
    dx = x - cx
    dy = y - cy
    return dx * dx + dy * dy


def nearest_centroid_2d(
    x: Column, y: Column, centers: Sequence[tuple[int, float, float]]
) -> Column:
    """Arg-min over K *literal* centroids, as one narrow expression.

    Returns ``struct(d2 DOUBLE, cid INT)`` of the winning centroid.
    ``array_min`` over structs compares lexicographically — (d2, cid) —
    so ties break to the lowest cid, matching the reference's strict
    ``<`` first-wins scan (``/root/reference/mapper.py:43``;
    SURVEY §2.3.7).

    Scale rationale: the reference ships centroids to every mapper as
    RPC payload then loops in Python (``master.py:184-188``,
    ``mapper.py:35-51``). The Spark-native equivalent for driver-held
    centers is NOT a crossJoin — it is this unrolled expression: zero
    shuffle, zero broadcast variable, K×(4 flops) per row inside
    whole-stage codegen. At 100 TB this is a pure map stage that scans
    each parquet row-group once.
    """
    candidates = [
        F.struct(
            sq_dist_2d(x, y, F.lit(float(cx)), F.lit(float(cy))).alias("d2"),
            F.lit(int(cid)).cast("int").alias("cid"),
        )
        for cid, cx, cy in centers
    ]
    return F.array_min(F.array(*candidates))


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
