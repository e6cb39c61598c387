"""Independent numpy Lloyd's loop: the correctness reference for fits.

It follows the engine's textbook semantics (``operators.kmeans.fit``):
squared Euclidean distance computed as ``dx*dx + dy*dy`` in float64, ties
to the lowest cid, WSSSE of the *current* centres recorded before each
update, and an empty cluster re-seeded uniformly inside the data's
bounding box from ``random.Random(seed + 1)``. Only the summation order of
the per-cluster sums differs from Spark's, so results agree to rounding.
"""

from __future__ import annotations

import random

import numpy as np

CHUNK = 1 << 16  # rows per block: the temporaries stay in cache

# Stated tolerances for comparing a fit with the reference. Summation-order
# rounding moves a centre by ~1e-13 of the data's extent. A wrong
# assignment of even one point moves its cluster's mean by about
# spread / cluster size, which is above 1e-6 of the extent for clusters of
# a few thousand points, as in the tests; on the benchmark's 8 M points
# (1 M a cluster) a single flip between near-equidistant centres is
# tolerated.
CENTRE_TOL = 1e-6  # absolute, as a share of the bounding-box extent
WSSSE_RTOL = 1e-9


def lloyd(
    x: np.ndarray,
    y: np.ndarray,
    init: list[tuple[int, float, float]],
    max_iter: int,
    seed: int,
) -> tuple[list[tuple[int, float, float]], list[float]]:
    """Run ``max_iter`` Lloyd iterations from ``init`` with no early exit.
    Returns the final centres (sorted by cid) and the WSSSE history."""
    centres = sorted((int(c), float(cx), float(cy)) for c, cx, cy in init)
    cids = [c for c, _, _ in centres]
    k = len(centres)
    bounds = (float(x.min()), float(x.max()), float(y.min()), float(y.max()))
    rng = random.Random(seed + 1)
    history: list[float] = []
    for _ in range(max_iter):
        cx = np.array([c[1] for c in centres])
        cy = np.array([c[2] for c in centres])
        n = np.zeros(k, dtype=np.int64)
        sx = np.zeros(k)
        sy = np.zeros(k)
        sse = 0.0
        for lo in range(0, len(x), CHUNK):
            bx, by = x[lo : lo + CHUNK], y[lo : lo + CHUNK]
            best = np.full(len(bx), np.inf)
            a = np.zeros(len(bx), dtype=np.int64)
            d2, dy, closer = np.empty_like(bx), np.empty_like(bx), np.empty(len(bx), bool)
            for j in range(k):
                np.subtract(bx, cx[j], out=d2)
                np.multiply(d2, d2, out=d2)
                np.subtract(by, cy[j], out=dy)
                np.multiply(dy, dy, out=dy)
                np.add(d2, dy, out=d2)
                np.less(d2, best, out=closer)  # strict: the lowest cid wins ties
                np.copyto(a, j, where=closer)
                np.minimum(best, d2, out=best)
            n += np.bincount(a, minlength=k)
            sx += np.bincount(a, weights=bx, minlength=k)
            sy += np.bincount(a, weights=by, minlength=k)
            sse += float(best.sum())
        history.append(sse)
        nxt = []
        for i, cid in enumerate(cids):
            if n[i] > 0:
                nxt.append((cid, sx[i] / n[i], sy[i] / n[i]))
            else:
                min_x, max_x, min_y, max_y = bounds
                nxt.append((cid, rng.uniform(min_x, max_x), rng.uniform(min_y, max_y)))
        centres = nxt
    return centres, history


def compare_fit(
    centres: list[tuple[int, float, float]],
    history: list[float],
    ref_centres: list[tuple[int, float, float]],
    ref_history: list[float],
    extent: float,
) -> list[str]:
    """Problems found comparing a fit with the reference; empty if equal
    within ``CENTRE_TOL`` and ``WSSSE_RTOL``."""
    problems: list[str] = []
    got = sorted((int(c), float(cx), float(cy)) for c, cx, cy in centres)
    if [c for c, _, _ in got] != [c for c, _, _ in ref_centres]:
        return [f"cids differ: {[c for c, _, _ in got]}"]
    worst = max(
        max(abs(a[1] - b[1]), abs(a[2] - b[2])) for a, b in zip(got, ref_centres)
    )
    if worst > CENTRE_TOL * extent:
        problems.append(f"centre off by {worst:.3g} > {CENTRE_TOL:g} x extent {extent:.3g}")
    if len(history) != len(ref_history):
        problems.append(f"{len(history)} iterations, reference ran {len(ref_history)}")
    elif not np.allclose(history, ref_history, rtol=WSSSE_RTOL, atol=0.0):
        problems.append(f"WSSSE history {history[-1]!r} vs reference {ref_history[-1]!r}")
    return problems
