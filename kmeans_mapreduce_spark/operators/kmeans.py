"""2-D Lloyd's k-means as pure DataFrame operators (SURVEY §2.1 O6–O13).

Reference architecture being replaced (``/root/reference``): master
splits the input into M files (master.py:50-77), RPCs centroids to M
mapper processes (master.py:179-189) which write mod-R partition files
(mapper.py:53-74), R reducers pull them over an R×M gRPC mesh
(reducer.py:59-139) and emit per-cluster means (reducer.py:29-44); the
master loops until |ΔWSSSE| < 0.5 (master.py:352-366), re-scanning the
raw input twice per iteration for the objective (master.py:315-332).

The Spark-native shape: per iteration, one action —
a narrow arg-min map (no shuffle, no crossJoin: centers are K literals
inside whole-stage codegen; :func:`assign` builds it, the engine's one
2-D nearest-centroid plan, shared by the Lloyd step, the registry
queries and streaming scoring) feeding one partial+final hash aggregation
whose shuffle carries O(partitions × K) rows, not O(N) like the
reference (no map-side combine there — BASELINE.md §2). Under the
session's default AQE the K-row exchange is its own query stage, so
the action runs as 2 Spark jobs. WSSSE falls out
of the same aggregation: zero extra scans. Centroids live on the driver
between iterations (K rows), exactly like MLlib's own KMeans; plans are
rebuilt from literals each iteration so lineage stays O(1).

Semantics are textbook Lloyd's, fixing the reference's accidents
(SURVEY §2.3): cluster identity survives aggregation (cid, not
partition index), init/repair sample uniformly within the true bounding
box, ties break to the lowest cid (strict ``<`` first-wins,
mapper.py:43), convergence on |ΔWSSSE| < tol with an iteration cap.

Investigated and rejected (round 8): running the WHOLE loop as ONE
barrier-mode job with ``BarrierTaskContext.allGather`` syncing the
K-row partials per iteration. The idea is sound (job-submission
overhead paid once) but Spark 4.1.2's ``runBarrier`` polls its RPC
future with a hardcoded ``Thread.sleep(1000)`` (BarrierTaskContext,
bytecode-verified), so every global sync costs ≥1 s wall — measured
1.002 s/allGather flat, i.e. 10 s of pure sleep for a 10-iteration
fit that the per-job loop finishes in <3 s. Barrier scheduling also
requires every partition concurrently resident (caps input at cluster
slots). If the poll interval ever becomes tunable, the one-job design
is worth revisiting for many-iteration fits.
"""

from __future__ import annotations

import random
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Center = tuple[int, float, float]  # (cid, cx, cy)


def round_half_up(x: float, digits: int) -> float:
    """HALF_UP decimal rounding of a double — the same semantics as
    Spark's ``F.round`` (BigDecimal HALF_UP over the shortest decimal
    repr) and DuckDB's ``ROUND`` (half away from zero). Python's
    built-in ``round`` is half-to-even, which diverges on exact
    representable half-ties (dyadic values like x.0078125); driver-side
    means that re-enter the oracle-gated loop must round identically
    to both engines."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-digits), rounding=decimal.ROUND_HALF_UP
        )
    )


def normalize_partitions(df: DataFrame) -> DataFrame:
    """Bound the per-iteration fixed cost of a cached Lloyd-loop input:
    cap over-partitioned inputs at 2× parallelism (many small files
    multiply the per-task launch cost by every iteration; measured 1.5×
    above linear at 304 partitions) and raise under-partitioned ones to
    parallelism/4 (a 3-row-group parquet caches as 3 partitions and
    caps the loop at 3-way compute — but full-width fan-out of a K-row
    partial agg loses to per-task overhead: on the Arrow step, 64-way
    measured 2.4× slower than 8-way; a quarter of the cores is the
    measured sweet spot). ONE shuffle, amortized over all iterations.
    Shared by the 2-D ``fit`` (Catalyst step), the n-D ``fit_nd``
    (:func:`lloyd_step_arrow`) and ``similarity.fit_pq_codebooks``
    (its fused per-subspace Arrow pass) — retune here, not per-copy."""
    spark_ctx = df.sparkSession.sparkContext
    target = spark_ctx.defaultParallelism * 2
    floor = max(2, spark_ctx.defaultParallelism // 4)
    n0 = df.rdd.getNumPartitions()
    if n0 > 4 * target:
        return df.repartition(target)
    if n0 < floor:
        return df.repartition(floor)
    return df


# ---------------------------------------------------------------------------
# O6 — nearest-centroid assignment (the "map", mapper.py:35-51)
# ---------------------------------------------------------------------------

def assign(points: DataFrame, centers: list[Center]) -> DataFrame:
    """Assign each point to its nearest centroid (squared Euclidean):
    ``points``' own columns plus ``min_d2 DOUBLE`` and ``cid INT``.

    The engine's one 2-D nearest-centroid plan: the Lloyd step, the
    registry queries and streaming scoring all use it (a narrow map, so
    it runs unchanged on a streaming DataFrame). The K centers arrive
    as ONE ``selectExpr`` text batch that the JVM parses in a few ms; a
    Column-API tree costs a Py4J round-trip per node (~0.3 s/iteration
    of the sf0.1 loop). Each literal is ``CAST('repr' AS DOUBLE)``: a
    finite double's shortest repr round-trips exactly and nan/inf parse.
    Distances are ``(x−cx)*(x−cx) + (y−cy)*(y−cy)``, the DuckDB twins'
    IEEE op order; ``least`` then ``CASE WHEN d_i = min_d2`` in cid
    order breaks ties to the lowest cid (strict ``<`` first-wins,
    mapper.py:43). Spark orders NaN above every double, so a nan center
    never beats a finite one. The ``__d{i}`` distance columns are
    projected away.
    """
    ordered = sorted((int(c), float(x), float(y)) for c, x, y in centers)
    d = [f"__d{i}" for i in range(len(ordered))]
    d_exprs = []
    for di, (_, cx, cy) in zip(d, ordered):
        lx, ly = f"CAST('{cx!r}' AS DOUBLE)", f"CAST('{cy!r}' AS DOUBLE)"
        d_exprs.append(f"((x - {lx})*(x - {lx}) + (y - {ly})*(y - {ly})) AS {di}")
    min_expr = f"least({','.join(d)})" if len(d) > 1 else d[0]
    case_expr = (
        "CASE "
        + " ".join(f"WHEN {di} = min_d2 THEN {cid}" for di, (cid, _, _) in zip(d, ordered))
        + " END AS cid"
    )
    keep = ["`" + c.replace("`", "``") + "`" for c in points.columns]
    return (
        points.selectExpr("*", *d_exprs)
        .selectExpr(*keep, f"{min_expr} AS min_d2", *d)
        .selectExpr(*keep, "min_d2", case_expr)
    )


def seq_argmin_d2(X, C):
    """Nearest row of ``C`` for each row of ``X``: the engine's one numpy
    nearest-centroid kernel. Squared distances accumulate
    DIM-SEQUENTIALLY in float64 (``acc += (x_d − c_d)²`` in index
    order — the op sequence of the n-D twins'
    ``list_sum(list_transform(...))`` fold, and at d=2
    ``(0 + dx²) + dy²``, which equals :func:`assign`'s ``dx² + dy²``
    bit for bit); the winner is ``argmin``'s first minimum (ties to the
    lowest row of ``C``, mapper.py:43). A nan center never wins, as in
    :func:`assign` and DuckDB, which order NaN above every double: when
    a center is non-finite its nan distances become +inf before the
    argmin. The centers are checked once per call, so finite ones keep
    the pass to one fold. Returns ``(winner_idx, min_d2)`` arrays."""
    import numpy as np

    acc = np.zeros((len(X), len(C)))
    diff = np.empty_like(acc)  # one scratch matrix, reused per dimension
    for d in range(C.shape[1]):
        np.subtract(X[:, d, None], C[None, :, d], out=diff)
        diff *= diff
        acc += diff
    if not np.isfinite(C).all():
        acc[np.isnan(acc)] = np.inf
    w = acc.argmin(axis=1)
    return w, acc[np.arange(len(X)), w]


def accumulate_nearest(X, C, n, vsum):
    """Score ``X`` against ``C`` with :func:`seq_argmin_d2` and add each
    row into its winner's count ``n`` and coordinate sum ``vsum``, in
    place (rows in order, so the sums do not depend on how a partition
    splits into batches). Returns the kernel's ``(winner_idx, min_d2)``."""
    import numpy as np

    w, d2 = seq_argmin_d2(X, C)
    n += np.bincount(w, minlength=len(C))
    np.add.at(vsum, w, X)
    return w, d2


# ---------------------------------------------------------------------------
# O8 — per-cluster mean (the "reduce", reducer.py:29-44)
# ---------------------------------------------------------------------------

def recompute(assigned: DataFrame) -> DataFrame:
    """New centroid = mean of assigned points, plus member count.

    Catalyst plans partial+final HashAggregate automatically — the
    map-side combine the reference lacks (its shuffle carries every
    point: mapper.py:53-74). Clusters with no members are absent here;
    see :func:`repair_empty`.
    """
    return assigned.groupBy("cid").agg(
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# O9 — bounding box (master.py:274-303)
# ---------------------------------------------------------------------------

def bbox(points: DataFrame) -> DataFrame:
    """Global min/max of both coordinates in one partial+final agg."""
    return points.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# O10 — WSSSE objective (master.py:315-332)
# ---------------------------------------------------------------------------

def wssse(assigned: DataFrame) -> DataFrame:
    """Σ min-squared-distance. Reuses O6's output: the reference instead
    re-scans the raw input twice per iteration (called twice at
    master.py:365) — two full O(N·K) passes this plan never does."""
    return assigned.agg(F.sum("min_d2").alias("wssse"))


# ---------------------------------------------------------------------------
# O11 — seeded init (master.py:81-88, textbook bounds per SURVEY §2.3.3)
# ---------------------------------------------------------------------------

def init_random(
    k: int, bounds: tuple[float, float, float, float], seed: int = 42
) -> list[Center]:
    """K uniform samples within the data bounding box.

    All randomness stays on the driver (like the reference's
    master-side init) so runs are reproducible regardless of
    partitioning. The reference scrambles axes/signs when passing
    bounds (master.py:346-347); intent per getInputRange
    (master.py:274-303) is the true box — implemented here.
    """
    min_x, max_x, min_y, max_y = bounds
    rng = random.Random(seed)
    return [
        (cid, rng.uniform(min_x, max_x), rng.uniform(min_y, max_y))
        for cid in range(k)
    ]


def kmpp_scores(points: DataFrame, cands: list[tuple[float, float]]) -> DataFrame:
    """One k-means|| round's D²-scoring: distance of every point to its
    nearest current candidate — the quantity Bahmani's sampling weights
    by. Returns ``points`` plus a ``d2 DOUBLE`` column; shared by the
    :func:`init_kmeans_parallel` loop and the oracle-gated
    ``kmeans_kmpp_round*`` queries so the gated math IS the init's math.

    A narrow Arrow ``mapInPandas`` pass (no shuffle): candidates ride in
    the closure, so the plan stays the same width however many
    candidates the rounds add (~rounds·2k). A literal expression over
    that many candidates is one huge generated method — measured 8×
    slower under whole-stage codegen than interpreted (26.0 s vs
    3.2 s for one 81-candidate D² job at sf0.1 on 4 cores).
    ``d2`` is :func:`seq_argmin_d2`'s ``min_d2``, so it equals
    :func:`assign`'s bit for bit."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    C = np.array(cands, dtype=np.float64)

    def score(batches):
        for pdf in batches:
            _, d2 = seq_argmin_d2(pdf[["x", "y"]].to_numpy(np.float64), C)
            yield pdf.assign(d2=d2)

    schema = StructType([*points.schema.fields, StructField("d2", DoubleType())])
    return points.mapInPandas(score, schema)


def kmpp_round_probs(
    points: DataFrame,
    cands: list[tuple[float, float]],
    l: int,
    phi_digits: int = 2,
    prob_digits: int = 6,
) -> DataFrame:
    """The deterministic half of one k-means|| sampling round: per-point
    d² and the sampling probability min(1, l·d²/φ), as ONE plan — φ is
    a cross-joined broadcast 1-row sum, rounded to ``phi_digits`` so
    both engines divide by a bit-identical scalar. Everything up to the
    seeded coin-flip is SQL-expressible; this is what the oracle gates
    (the flip itself stays rows-only by declared contract)."""
    scored = kmpp_scores(points, cands)
    phi = scored.agg(F.round(F.sum("d2"), phi_digits).alias("__phi"))
    # phi can ROUND to 0.0 near convergence: the division would yield
    # NULL (non-ANSI div-by-zero), which F.least silently skips,
    # turning every prob into 1.0 — guard to the degenerate-cover
    # answer (nothing left worth sampling) on both engines
    prob = F.when(
        F.col("__phi") > 0,
        F.least(F.lit(1.0), F.lit(float(l)) * F.col("d2") / F.col("__phi")),
    ).otherwise(F.lit(0.0))
    return (
        scored.crossJoin(F.broadcast(phi))
        .select(
            "*",
            F.round(prob, prob_digits).alias("prob"),
        )
        .drop("__phi")
    )


def init_kmeans_parallel(
    points: DataFrame,
    k: int,
    seed: int = 42,
    rounds: int = 5,
    oversample: int | None = None,
) -> list[Center]:
    """k-means|| init (Bahmani et al., VLDB 2012) — the scale-correct
    seeding the reference lacks (its uniform-box init needs many Lloyd
    iterations to recover from bad seeds; D²-sampling starts near the
    final solution).

    Each round: score every point against the current candidate set
    (:func:`kmpp_scores` — no shuffle), Σd² via one aggregate, then
    sample points with probability min(1, l·d²/φ) using a seeded
    per-round ``rand``. Candidates (≈ rounds·l total, driver-tiny) are
    weighted by their nearest-point counts — the cluster sizes of one
    :func:`lloyd_step_arrow` pass — and reduced to k with a
    deterministic weighted Lloyd on the driver (scored by
    :func:`seq_argmin_d2`). O(rounds) passes over the data, exactly
    like MLlib's implementation of the same paper.
    """
    import numpy as np

    l = oversample or 2 * k
    pts = points.select("x", "y")
    rng = random.Random(seed)
    frac = min(1.0, 100.0 / max(pts.count(), 1))
    first = pts.sample(False, frac, seed).limit(1).collect()
    if not first:
        first = pts.limit(1).collect()
    cands: list[tuple[float, float]] = [(first[0]["x"], first[0]["y"])]

    for r in range(rounds):
        scored = kmpp_scores(pts, cands)
        phi = scored.agg(F.sum("d2").alias("phi")).collect()[0]["phi"]
        if not phi or phi <= 0:
            break  # every point coincides with a candidate
        new = (
            scored.filter(
                F.rand(seed + 1000 + r) < (F.lit(float(l)) * F.col("d2") / F.lit(float(phi)))
            )
            .select("x", "y")
            .collect()
        )
        cands.extend((row["x"], row["y"]) for row in new)

    # weights: how many points each candidate wins
    _, sizes, _ = lloyd_step_arrow(pts, list(enumerate(cands)))
    weights = np.zeros(len(cands))
    for cid, n in sizes.items():
        weights[cid] = n

    # driver-side weighted Lloyd to reduce candidates → k (deterministic)
    arr = np.array(cands)
    if len(cands) <= k:
        out = [(i, float(x), float(y)) for i, (x, y) in enumerate(cands)]
        while len(out) < k:  # degenerate corpus: pad with jittered copies
            i = len(out)
            x, y = cands[i % len(cands)]
            out.append((i, x + rng.uniform(-1e-6, 1e-6), y + rng.uniform(-1e-6, 1e-6)))
        return out
    # seed with the k heaviest candidates, then a few weighted-Lloyd steps
    top = np.argsort(-weights, kind="stable")[:k]
    centers = arr[top].copy()
    for _ in range(20):
        a, _ = seq_argmin_d2(arr, centers)
        moved = 0.0
        for j in range(k):
            m = a == j
            w = weights[m]
            if w.sum() > 0:
                nc = (arr[m] * w[:, None]).sum(axis=0) / w.sum()
                moved += float(((nc - centers[j]) ** 2).sum())
                centers[j] = nc
        if moved < 1e-12:
            break
    return [(i, float(cx), float(cy)) for i, (cx, cy) in enumerate(centers)]


# ---------------------------------------------------------------------------
# O12 — empty-cluster repair (master.py:265-271 / sequential-kmeans.py:46-48)
# ---------------------------------------------------------------------------

def repair_empty(
    centers: list[Center],
    new_stats: dict[int, tuple[float, float]],
    bounds: tuple[float, float, float, float],
    rng: random.Random,
    policy: str = "reseed",
) -> list[Center]:
    """Guarantee exactly K centroids every generation.

    ``reseed``: empty clusters get a fresh uniform sample in the data
    bounding box (distributed reference semantics, master.py:265-271,
    with the sign-scramble fixed — SURVEY §2.3.3).
    ``keep``: retain the previous centroid (sequential reference
    semantics, sequential-kmeans.py:46-48).
    """
    min_x, max_x, min_y, max_y = bounds
    out: list[Center] = []
    for cid, old_x, old_y in centers:
        if cid in new_stats:
            nx, ny = new_stats[cid]
            out.append((cid, nx, ny))
        elif policy == "keep":
            out.append((cid, old_x, old_y))
        else:
            out.append((cid, rng.uniform(min_x, max_x), rng.uniform(min_y, max_y)))
    return out


def empty_clusters(expected: DataFrame, stats: DataFrame) -> DataFrame:
    """Declarative empty-cluster *detection*: expected cids anti-joined
    with observed cluster stats (the oracle-checkable face of O12)."""
    return expected.join(stats, "cid", "left_anti").select("cid")


# ---------------------------------------------------------------------------
# O13 — the iteration loop (master.py:352-366)
# ---------------------------------------------------------------------------

@dataclass
class KMeansResult:
    centers: list[Center]
    wssse_history: list[float] = field(default_factory=list)
    iterations: int = 0
    converged: bool = False
    cluster_sizes: dict[int, int] = field(default_factory=dict)


def lloyd_step_arrow(
    points: DataFrame, centers: list[tuple[int, Sequence[float]]]
) -> tuple[dict[int, tuple[float, ...]], dict[int, int], float]:
    """One Lloyd iteration via Arrow-vectorized partial aggregation, for
    every dimension: the n-D ``fit_nd``, the k-means|| candidate weights
    and streaming mini-batch k-means.

    Same contract as :func:`lloyd_step_sql` — ``(means, sizes, wssse)``
    — over ``(cid, coords)`` centers; means are tuples. Each point is
    the row of the frame's ``vec`` array column, or ``(x, y)`` when
    there is no ``vec``. ``mapInPandas`` folds each partition through
    :func:`accumulate_nearest` and emits one ``(cid, n, sse, vsum)``
    row per live cluster; the driver merges the rows in collect
    (partition) order, so float sums are deterministic per layout, and
    sees O(partitions × K) rows however large N is. Centers ride in the
    Python closure, never in plan text, so the plan keeps one width
    however many centers there are. It is not ``fit``'s step: its
    per-row Python cost made an 8 M-point fit ~6× the CPU of the
    Catalyst step.
    """
    import numpy as np
    import pandas as pd

    ordered = sorted((int(c), [float(v) for v in coords]) for c, coords in centers)
    cids = np.array([c for c, _ in ordered], dtype=np.int32)
    C = np.array([v for _, v in ordered], dtype=np.float64)
    k, dim = C.shape
    vec = "vec" in points.columns

    def partials(batches):
        n = np.zeros(k, dtype=np.int64)
        sse = np.zeros(k)
        vsum = np.zeros((k, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            if vec:
                X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            else:
                X = pdf[["x", "y"]].to_numpy(np.float64)
            w, d2 = accumulate_nearest(X, C, n, vsum)
            sse += np.bincount(w, weights=d2, minlength=k)
        live = n > 0
        if live.any():
            yield pd.DataFrame(
                {
                    "cid": cids[live],
                    "n": n[live],
                    "sse": sse[live],
                    "vsum": [v.tolist() for v in vsum[live]],
                }
            )

    rows = (
        (points.select("vec") if vec else points.select("x", "y"))
        .mapInPandas(partials, "cid INT, n LONG, sse DOUBLE, vsum ARRAY<DOUBLE>")
        .collect()
    )
    sums: dict[int, np.ndarray] = {}
    sizes: dict[int, int] = {}
    f_cur = 0.0
    for r in rows:
        c = r["cid"]
        sums[c] = sums.get(c, np.zeros(dim)) + np.array(r["vsum"])
        sizes[c] = sizes.get(c, 0) + r["n"]
        f_cur += r["sse"]
    means = {c: tuple((s / sizes[c]).tolist()) for c, s in sums.items()}
    return means, sizes, f_cur


def lloyd_step_sql(
    points_xy: DataFrame, centers: list[Center]
) -> tuple[dict[int, tuple[float, float]], dict[int, int], float]:
    """One Lloyd iteration as one action (2 Spark jobs under AQE: the
    K-row exchange is its own query stage).

    The :func:`assign` plan feeds one partial+final hash aggregate that
    returns per-cluster (mean, count) AND the WSSSE of the *current*
    centers; its exchange carries K rows per partition. Returns
    (means, sizes, wssse). Compare: the reference runs a full map
    phase, an R×M shuffle of every point, plus two extra whole-input
    scans for the objective — per iteration. It runs under the
    session's own confs. Fresh literals cost a codegen compile per
    iteration; even so, a 10-iteration fit measured on par with
    interpreted evaluation at 6 K points and faster from 60 K up.
    """
    rows = (
        assign(points_xy, centers)
        .groupBy("cid")
        .agg(
            F.avg("x").alias("cx"),
            F.avg("y").alias("cy"),
            F.count(F.lit(1)).alias("n"),
            F.sum("min_d2").alias("sse"),
        )
        .collect()
    )
    means = {r["cid"]: (r["cx"], r["cy"]) for r in rows}
    sizes = {r["cid"]: r["n"] for r in rows}
    f_cur = float(sum(r["sse"] for r in rows))
    return means, sizes, f_cur


# one step under two names; perfbench/tracing.py wraps each name
lloyd_step = lloyd_step_sql


def fit(
    points: DataFrame,
    k: int,
    max_iter: int = 20,
    tol: float = 0.5,
    seed: int = 42,
    init_centers: list[Center] | None = None,
    empty_policy: str = "reseed",
    init: str = "random",
    round_digits: int | None = None,
) -> KMeansResult:
    """Full Lloyd's loop: init → (assign → recompute → repair) → converge.

    Convergence: |f(prev) − f(cur)| < tol, matching the reference's δ=0.5
    absolute-WSSSE test (master.py:22,365) but with tol configurable.
    ``points`` is cached once (the reference re-reads points.txt 3+
    times per iteration); plans are rebuilt from driver-held centers
    each iteration so lineage does not grow across iterations. Every
    iteration is one :func:`lloyd_step_sql` job, run under the
    session's own confs: ``fit`` sets none, so concurrent queries on
    the same session are unaffected.

    ``round_digits``: round each iteration's means to this many decimals
    before they become the next generation's centers. With a fixed init
    and ``tol=0.0`` this makes the WHOLE loop deterministic across
    engines (rounding absorbs float summation-order noise), which is how
    the ``kmeans_fit_fixed`` query puts ``fit`` itself — repair path
    included — under the DuckDB hash gate.
    """
    points = normalize_partitions(points.select("x", "y")).cache()
    try:
        b = bbox(points).collect()[0]
        bounds = (b["min_x"], b["max_x"], b["min_y"], b["max_y"])
        if init_centers is None:
            if init == "k-means||":
                centers = init_kmeans_parallel(points, k, seed)
            else:
                centers = init_random(k, bounds, seed)
        else:
            centers = [(int(c), float(x), float(y)) for c, x, y in init_centers]

        rng = random.Random(seed + 1)
        result = KMeansResult(centers=centers)
        f_prev: float | None = None
        for it in range(max_iter):
            means, sizes, f_cur = lloyd_step_sql(points, centers)
            if round_digits is not None:
                means = {
                    c: (
                        round_half_up(mx, round_digits),
                        round_half_up(my, round_digits),
                    )
                    for c, (mx, my) in means.items()
                }
            result.wssse_history.append(f_cur)
            result.cluster_sizes = sizes
            centers = repair_empty(centers, means, bounds, rng, empty_policy)
            result.centers = centers
            result.iterations = it + 1
            if f_prev is not None and abs(f_prev - f_cur) < tol:
                result.converged = True
                break
            f_prev = f_cur
        return result
    finally:
        points.unpersist()
