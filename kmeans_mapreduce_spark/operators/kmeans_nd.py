"""n-D k-means over array<double> columns (SURVEY §7 Phase 4 / FIXTURES F6).

One nearest-centroid assignment, :func:`assign_nd`: a ``mapInPandas``
pass over :func:`seq_argmin_d2`, whose squared distances fold dimension
by dimension in float64 — the op order of the DuckDB twins'
``list_sum(list_transform(...))`` fold, so unrounded distances match
them bit for bit. The centers ride in the task closure, so the plan is
O(1) in K·dim. The Lloyd step :func:`lloyd_step_nd` scores with one
numpy matmul per Arrow batch instead (``|points|×dim @ dim×K``) and
emits per-partition centroid sums from the same pass, so the shuffle
carries O(partitions×K) rows; its means are rounded before any gate
sees them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

NDCenter = tuple[int, list[float]]


def seq_argmin_d2(X, C):
    """Nearest row of ``C`` for each row of ``X``: squared distances
    accumulated DIM-SEQUENTIALLY in float64 (``acc += (x_d − c_d)²`` in
    index order — the op sequence of the twins'
    ``list_sum(list_transform(...))`` fold), winner = ``argmin``'s
    first minimum (ties to the lowest row of ``C``). ONE implementation
    so the bit-identity promise to the SQL twins cannot drift between
    consumers. Returns ``(winner_idx, min_d2)`` arrays."""
    acc = np.zeros((len(X), len(C)))
    for d in range(C.shape[1]):
        diff = X[:, d, None] - C[None, :, d]
        acc += diff * diff
    w = acc.argmin(axis=1)
    return w, acc[np.arange(len(X)), w]


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


def _assign_batches(centers_arr: np.ndarray):
    """Build a mapInPandas function: per Arrow batch, vectorized
    nearest-centroid via one matmul; accumulates across the partition's
    batches and emits ONE K-row partial frame per partition — the
    driver sees O(partitions × K) rows regardless of N (yielding per
    10k-row Arrow batch instead would send N/10k × K rows up)."""
    k, dim = centers_arr.shape
    sq_c = (centers_arr ** 2).sum(axis=1)  # K

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_acc = np.zeros(k, dtype=np.int64)
        sse_acc = np.zeros(k)
        vsum_acc = np.zeros((k, dim))
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            x = np.stack(pdf["vec"].to_numpy())  # N×dim
            # argmin_c |x|² − 2x·c + |c|² (|x|² constant per row)
            scores = -2.0 * (x @ centers_arr.T) + sq_c  # N×K
            cid = scores.argmin(axis=1)
            d2 = (x ** 2).sum(axis=1) + scores[np.arange(len(x)), cid]
            n_acc += np.bincount(cid, minlength=k)
            sse_acc += np.bincount(cid, weights=d2, minlength=k)
            np.add.at(vsum_acc, cid, x)
        if seen:
            live = n_acc > 0
            yield pd.DataFrame(
                {
                    "cid": np.arange(k, dtype=np.int32)[live],
                    "n": n_acc[live],
                    "sse": sse_acc[live],
                    "vsum": [v.tolist() for v in vsum_acc[live]],
                }
            )

    return fn


def lloyd_step_nd(
    points: DataFrame, centers: list[NDCenter]
) -> tuple[dict[int, list[float]], dict[int, int], float]:
    """One n-D Lloyd iteration: mapInPandas partial sums → tiny final
    reduce on the driver (K × num_batches rows — same contract as the
    2-D ``lloyd_step``, with numpy doing the distance math)."""
    order = sorted(centers)
    centers_arr = np.array([c for _, c in order], dtype=np.float64)
    cid_of_row = {i: cid for i, (cid, _) in enumerate(order)}
    dim = centers_arr.shape[1]
    partials = points.select("point_id", "vec").mapInPandas(
        _assign_batches(centers_arr),
        schema=f"cid INT, n LONG, sse DOUBLE, vsum ARRAY<DOUBLE>",
    )
    rows = partials.collect()
    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    sse = 0.0
    for r in rows:
        c = cid_of_row[r["cid"]]
        sums[c] = sums.get(c, np.zeros(dim)) + np.array(r["vsum"])
        counts[c] = counts.get(c, 0) + r["n"]
        sse += r["sse"]
    means = {c: (sums[c] / counts[c]).tolist() for c in sums}
    return means, counts, sse


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
    from kmeans_mapreduce_spark.operators.kmeans import round_half_up
    pts = points.select("point_id", "vec")
    from kmeans_mapreduce_spark.operators.kmeans import normalize_partitions

    pts = normalize_partitions(pts).cache()
    try:
        if init_centers is None:
            first = pts.orderBy("point_id").limit(k).collect()
            centers = [(i, list(r["vec"])) for i, r in enumerate(first)]
        else:
            centers = [(int(c), [float(x) for x in v]) for c, v in init_centers]
        history: list[float] = []
        sizes: dict[int, int] = {}
        for _ in range(max_iter):
            means, sizes, sse = lloyd_step_nd(pts, centers)
            if round_digits is not None:
                means = {
                    c: [round_half_up(x, round_digits) for x in v]
                    for c, v in means.items()
                }
            history.append(sse)
            centers = [
                (cid, means.get(cid, cvec)) for cid, cvec in centers
            ]  # empty clusters keep previous center (sequential-kmeans.py:46-48 policy)
            if len(history) >= 2 and abs(history[-2] - history[-1]) < tol:
                break
        return centers, history, sizes
    finally:
        pts.unpersist()
