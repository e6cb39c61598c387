"""n-D k-means over array<double> columns (SURVEY §7 Phase 4 / FIXTURES F6).

One nearest-centroid assignment, :func:`assign_nd`: a ``mapInPandas``
pass over ``kmeans.seq_argmin_d2``, whose squared distances fold
dimension by dimension in float64 — the op order of the DuckDB twins'
``list_sum(list_transform(...))`` fold, so unrounded distances match
them bit for bit. The centers ride in the task closure, so the plan is
O(1) in K·dim. :func:`fit_nd` runs the engine's one Arrow Lloyd step,
``kmeans.lloyd_step_arrow``, which scores through the same kernel and
emits per-partition centroid sums from that pass, so the driver sees
O(partitions×K) rows; its means are rounded before any gate sees them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from kmeans_mapreduce_spark.operators.kmeans import (
    lloyd_step_arrow,
    normalize_partitions,
    round_half_up,
    seq_argmin_d2,
)

NDCenter = tuple[int, list[float]]


def assign_nd(points: DataFrame, centers: list[NDCenter]) -> DataFrame:
    """Nearest-centroid assignment of the ``vec`` column (an array of
    numbers): ``points``' own columns, types unchanged, plus
    ``cid INT`` and the winning squared distance ``min_d2 DOUBLE``.
    Ties go to the lowest cid (centers sorted by cid, first minimum
    wins)."""
    if not centers:
        raise ValueError("assign_nd: empty centers")
    order = sorted((int(c), [float(x) for x in v]) for c, v in centers)
    cids = np.array([c for c, _ in order], dtype=np.int32)
    C = np.array([v for _, v in order], dtype=np.float64)
    schema = StructType(
        points.schema.fields
        + [
            StructField("cid", IntegerType(), False),
            StructField("min_d2", DoubleType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            w, d2 = seq_argmin_d2(x, C)
            yield pdf.assign(cid=cids[w], min_d2=d2)

    return points.mapInPandas(fn, schema=schema)


def fit_nd(
    points: DataFrame,
    k: int,
    max_iter: int = 10,
    tol: float = 1e-4,
    seed: int = 42,
    init_centers: list[NDCenter] | None = None,
    round_digits: int | None = None,
):
    """n-D Lloyd loop. Init: first k points by point_id (deterministic)
    unless explicit centers are given. Returns (centers, wssse_history,
    sizes).

    ``round_digits``: round each iteration's per-dimension means
    (HALF_UP, like ``F.round``/DuckDB) before they become the next
    generation's centers — with fixed init and ``tol=0.0`` this makes
    the whole loop deterministic across engines, which is how
    ``kmeans_nd_fit_fixed`` puts ``fit_nd`` itself under the DuckDB
    hash gate (mirroring the 2-D ``kmeans_fit_fixed``)."""
    pts = normalize_partitions(points.select("point_id", "vec")).cache()
    try:
        if init_centers is None:
            first = pts.orderBy("point_id").limit(k).collect()
            centers = [(i, list(r["vec"])) for i, r in enumerate(first)]
        else:
            centers = [(int(c), [float(x) for x in v]) for c, v in init_centers]
        history: list[float] = []
        sizes: dict[int, int] = {}
        for _ in range(max_iter):
            means, sizes, sse = lloyd_step_arrow(pts, centers)
            if round_digits is not None:
                means = {
                    c: [round_half_up(x, round_digits) for x in v]
                    for c, v in means.items()
                }
            history.append(sse)
            centers = [
                (cid, list(means.get(cid, cvec))) for cid, cvec in centers
            ]  # empty clusters keep previous center (sequential-kmeans.py:46-48 policy)
            if len(history) >= 2 and abs(history[-2] - history[-1]) < tol:
                break
        return centers, history, sizes
    finally:
        pts.unpersist()
