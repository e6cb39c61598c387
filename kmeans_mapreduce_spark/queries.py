"""Query registry — the driver contract behind ``__spark_entry__.py``.

Every operator from SURVEY §2 exposes a ``queries()`` entry (PySpark
DataFrame builder) and, where ANSI-SQL-expressible, an ``oracle_sql()``
twin that DuckDB runs on the same parquet tables. Both sides are
generated from the SAME Python constants (centroid literals, rounding
digits, thresholds) so they cannot drift.

Each query is declared once, by one decorator on its builder (here,
in ``extensions.py``, ``analytics.py`` or ``replays.py``)::

    @query(twin=lambda: "SELECT ... FROM lineitem", unbenched=None)
    def q_my_query(spark, sf_dir): ...

The query's name is the function name without ``q_``. ``twin`` is a
zero-argument callable returning the DuckDB SQL (omit it for a
rows-only query and say why in the docstring); ``unbenched`` is the
written reason bench.py skips the query (omit it to have the query
timed). ``registry()`` and its views (``core_queries``,
``extension_queries``, ``core_oracle_sql``, ``extension_oracle_sql``,
``bench_tracked_queries``) are derived from these records; only the
driver window's order (``DRIVER_WINDOW_QUERIES``) is kept by hand.
Check a new query with ``python tools/check_oracle.py <sf_dir> <name>``.

Float discipline (FIXTURES.md): per-row arithmetic on identical inputs
is bit-identical across engines (same IEEE-754 op sequence — we use
``*`` not ``pow``), so row-level results are compared unrounded;
aggregates (AVG/SUM) differ by summation order, so both sides round —
6 decimals for means, 2 for large sums.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.operators import kmeans as km
from kmeans_mapreduce_spark.sources.derive import POINTS_2D_SQL, points_2d

# ---------------------------------------------------------------------------
# Shared constants (single source of truth for Spark AND oracle SQL)
# ---------------------------------------------------------------------------

# Fixed K=4 init inside the data bounding box (x≈0.9..110, y≈1..50 for the
# lineitem-derived point set) — fixing init removes all randomness from
# oracle comparisons (FIXTURES.md F2).
K4_CENTERS: list[tuple[int, float, float]] = [
    (0, 20.0, 10.0),
    (1, 40.0, 25.0),
    (2, 60.0, 40.0),
    (3, 90.0, 15.0),
]

# F5-style repair probe: cid 2 is unreachable → must be detected empty.
K3_FAR_CENTERS: list[tuple[int, float, float]] = [
    (0, 30.0, 15.0),
    (1, 70.0, 35.0),
    (2, 10000.0, 10000.0),
]

# Elbow-sweep fixed inits: one deterministic init per candidate k, all
# inside the data bounding box. Choosing k is THE model-selection loop
# around the reference's driver (its master exposes the WSSSE cost per
# run precisely so a user can run this sweep by hand); here it is one
# gated query.
K2_CENTERS: list[tuple[int, float, float]] = [
    (0, 30.0, 15.0),
    (1, 80.0, 35.0),
]
K8_CENTERS: list[tuple[int, float, float]] = [
    (0, 15.0, 8.0),
    (1, 30.0, 15.0),
    (2, 45.0, 22.0),
    (3, 60.0, 30.0),
    (4, 75.0, 38.0),
    (5, 90.0, 45.0),
    (6, 25.0, 40.0),
    (7, 100.0, 10.0),
]
ELBOW_SWEEP: list[tuple[int, list[tuple[int, float, float]]]] = [
    (2, K2_CENTERS),
    (4, K4_CENTERS),
    (8, K8_CENTERS),
]
ELBOW_ITERS = 2  # Lloyd iterations per candidate k

MEAN_DIGITS = 6  # rounding for AVG-derived values
SUM_DIGITS = 2  # rounding for big SUMs (wssse)
KMPP_L = 16  # k-means|| oversampling factor (2k for the k=8 fit)


def _cents_values_sql(centers: list[tuple[int, float, float]]) -> str:
    """VALUES list with explicit DOUBLE casts (DuckDB would otherwise
    type 20.0 as DECIMAL and do decimal arithmetic ≠ Spark's double)."""
    rows = ", ".join(
        f"({cid}, CAST({cx!r} AS DOUBLE), CAST({cy!r} AS DOUBLE))"
        for cid, cx, cy in centers
    )
    return f"(VALUES {rows})"


def _d2_exprs(center_sqls: list[tuple[str, str, str]]) -> list[str]:
    """Per-centroid squared-distance expressions over columns x, y."""
    return [
        f"(x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy})"
        for _, cx, cy in center_sqls
    ]


def _argmin_select_sql(center_sqls: list[tuple[str, str, str]]) -> tuple[str, str]:
    """Per-row arg-min as CASE/LEAST — no window, no cross join.

    First-wins tie-break (strict ``<`` scan, reference mapper.py:43)
    falls out of the CASE order with ``<=`` comparisons. Per-row form is
    duplicate-row-safe, unlike a window over point_id.
    """
    n = len(center_sqls)
    d = [f"d{i}" for i in range(n)]
    whens = []
    for i in range(n - 1):
        conds = " AND ".join(f"{d[i]} <= {d[j]}" for j in range(i + 1, n))
        whens.append(f"WHEN {conds} THEN {center_sqls[i][0]}")
    case = f"CASE {' '.join(whens)} ELSE {center_sqls[n - 1][0]} END"
    least = f"LEAST({', '.join(d)})"
    return case, least


def _assign_sql(centers: list[tuple[int, float, float]]) -> str:
    """Shared CTE prefix: pts → per-row distances → CASE arg-min.

    Both engines use scalar LEAST + CASE (``operators.kmeans.assign``
    on the Spark side) over the same op order; the oracle's text is
    generated here, independently of the engine's builder.
    """
    center_sqls = [
        (str(cid), f"CAST({cx!r} AS DOUBLE)", f"CAST({cy!r} AS DOUBLE)")
        for cid, cx, cy in centers
    ]
    d2 = _d2_exprs(center_sqls)
    dists = ", ".join(f"{e} AS d{i}" for i, e in enumerate(d2))
    case, least = _argmin_select_sql(center_sqls)
    return f"""
WITH pts AS ({POINTS_2D_SQL}),
cents(cid, cx, cy) AS {_cents_values_sql(centers)},
dists AS (
  SELECT point_id, x, y, {dists} FROM pts
),
assigned AS (
  SELECT point_id, x, y,
         CAST({case} AS INTEGER) AS cid,
         {least} AS min_d2
  FROM dists
)
"""


def _unrolled_loop_sql(n_iters: int) -> str:
    """``n_iters`` unrolled Lloyd iterations: each generation's centroids
    are scalar subqueries over the previous generation's means (rounded
    to MEAN_DIGITS, same as the Spark side rounds between iterations).

    COALESCE guard: if a cluster went empty, its scalar subquery is
    NULL; coalescing to 1e300 makes its distance effectively infinite so
    it can never win a point — the cid then vanishes from the final
    GROUP BY and the gate fails LOUDLY on row count, instead of NULL
    CASE conditions silently falling through to the ELSE centroid while
    the engine keeps the old center."""
    parts = [_assign_sql(K4_CENTERS)]
    prev = "assigned"
    for i in range(1, n_iters):
        parts.append(f""",
c{i} AS (
  SELECT cid, ROUND(AVG(x), {MEAN_DIGITS}) AS cx, ROUND(AVG(y), {MEAN_DIGITS}) AS cy
  FROM {prev} GROUP BY cid
)""")
        it_n = [
            (
                str(cid),
                f"COALESCE((SELECT cx FROM c{i} WHERE cid = {cid}), 1e300)",
                f"COALESCE((SELECT cy FROM c{i} WHERE cid = {cid}), 1e300)",
            )
            for cid, _, _ in K4_CENTERS
        ]
        d2 = _d2_exprs(it_n)
        dists = ", ".join(f"{e} AS d{j}" for j, e in enumerate(d2))
        case, least = _argmin_select_sql(it_n)
        parts.append(f""",
dists{i + 1} AS (
  SELECT point_id, x, y, {dists} FROM pts
),
assigned{i + 1} AS (
  SELECT point_id, x, y, CAST({case} AS INTEGER) AS cid FROM dists{i + 1}
)""")
        prev = f"assigned{i + 1}"
    parts.append(f"""
SELECT cid, ROUND(AVG(x), {MEAN_DIGITS}) AS cx,
       ROUND(AVG(y), {MEAN_DIGITS}) AS cy, COUNT(*) AS n
FROM {prev} GROUP BY cid
""")
    return "".join(parts)


def _unrolled_wssse_sql(
    centers: list[tuple[int, float, float]], n_iters: int
) -> str:
    """One candidate k's unrolled Lloyd chain ending in
    ``(wssse, n_points)`` — an elbow-table cell. Same per-iteration
    MEAN_DIGITS rounding and COALESCE-1e300 empty-cluster guard as
    :func:`_unrolled_loop_sql`; the final ``LEAST`` over the last
    generation's distance columns IS min_d2 of the final assignment,
    so no extra distance pass is needed."""
    parts = [_assign_sql(centers)]
    prev = "assigned"
    last_dists = "dists"
    for i in range(1, n_iters):
        parts.append(f""",
c{i} AS (
  SELECT cid, ROUND(AVG(x), {MEAN_DIGITS}) AS cx, ROUND(AVG(y), {MEAN_DIGITS}) AS cy
  FROM {prev} GROUP BY cid
)""")
        it_n = [
            (
                str(cid),
                f"COALESCE((SELECT cx FROM c{i} WHERE cid = {cid}), 1e300)",
                f"COALESCE((SELECT cy FROM c{i} WHERE cid = {cid}), 1e300)",
            )
            for cid, _, _ in centers
        ]
        d2 = _d2_exprs(it_n)
        dists = ", ".join(f"{e} AS d{j}" for j, e in enumerate(d2))
        case, _ = _argmin_select_sql(it_n)
        parts.append(f""",
dists{i + 1} AS (
  SELECT point_id, x, y, {dists} FROM pts
),
assigned{i + 1} AS (
  SELECT point_id, x, y, CAST({case} AS INTEGER) AS cid FROM dists{i + 1}
)""")
        last_dists = f"dists{i + 1}"
        prev = f"assigned{i + 1}"
    least = f"LEAST({', '.join(f'd{j}' for j in range(len(centers)))})"
    parts.append(f"""
SELECT ROUND(SUM({least}), {SUM_DIGITS}) AS wssse, COUNT(*) AS n_points
FROM {last_dists}
""")
    return "".join(parts)


def _elbow_sweep_sql() -> str:
    """UNION ALL of one unrolled chain per candidate k — each chain in
    its own parenthesized subquery so the CTE names don't collide."""
    subs = [
        f"SELECT {k} AS k, wssse, n_points"
        f" FROM ({_unrolled_wssse_sql(c, ELBOW_ITERS)})"
        for k, c in ELBOW_SWEEP
    ]
    return " UNION ALL ".join(subs)


def _kmpp_round2_sql() -> str:
    """Twin of q_kmeans_kmpp_round2: replay round 1, take the same
    deterministic top-T candidates, then min-of-many d² + re-φ + prob.
    MIN over the candidate cross join is order-insensitive and each
    per-candidate d² is the same (a-b)*(a-b) form, so per-row values
    stay bit-identical; φ and prob round like round 1."""
    cx = f"CAST({K4_CENTERS[0][1]!r} AS DOUBLE)"
    cy = f"CAST({K4_CENTERS[0][2]!r} AS DOUBLE)"
    l_lit = f"CAST({float(KMPP_L)!r} AS DOUBLE)"
    return f"""
WITH pts AS ({POINTS_2D_SQL}),
sc1 AS (
  SELECT point_id, x, y,
         (x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy}) AS d2
  FROM pts
),
phi1 AS (SELECT ROUND(SUM(d2), {SUM_DIGITS}) AS phi FROM sc1),
p1 AS (
  SELECT point_id, x, y,
         ROUND(CASE WHEN phi > 0 THEN LEAST(CAST(1.0 AS DOUBLE), {l_lit} * d2 / phi) ELSE 0.0 END, {MEAN_DIGITS}) AS prob
  FROM sc1 CROSS JOIN phi1
),
cands AS (
  SELECT x, y FROM (
    SELECT x, y FROM p1 ORDER BY prob DESC, point_id LIMIT {KMPP_T}
  )
  UNION ALL SELECT {cx} AS x, {cy} AS y
),
-- group per INPUT ROW (rid), not per point_id: the packed id is not
-- guaranteed unique (TESTDATA lineitem can repeat the full key), and
-- the Spark side scores per row — collapsing dups would drop rows
pts2 AS (
  SELECT row_number() OVER (ORDER BY point_id, x, y) AS rid, point_id, x, y
  FROM pts
),
sc2 AS (
  SELECT p.rid, ANY_VALUE(p.point_id) AS point_id,
         MIN((p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y)) AS d2
  FROM pts2 p CROSS JOIN cands c
  GROUP BY p.rid
),
phi2 AS (SELECT ROUND(SUM(d2), {SUM_DIGITS}) AS phi FROM sc2)
SELECT point_id, d2,
       ROUND(CASE WHEN phi > 0 THEN LEAST(CAST(1.0 AS DOUBLE), {l_lit} * d2 / phi) ELSE 0.0 END, {MEAN_DIGITS}) AS prob
FROM sc2 CROSS JOIN phi2"""


def _kmpp_round1_sql() -> str:
    """Twin of q_kmeans_kmpp_round1: d² to the fixed first center,
    φ = ROUND(SUM(d²), 2) so both engines divide by a bit-identical
    scalar, prob = ROUND(LEAST(1, l·d²/φ), 6)."""
    cx = f"CAST({K4_CENTERS[0][1]!r} AS DOUBLE)"
    cy = f"CAST({K4_CENTERS[0][2]!r} AS DOUBLE)"
    return f"""
WITH pts AS ({POINTS_2D_SQL}),
sc AS (
  SELECT point_id,
         (x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy}) AS d2
  FROM pts
),
phi AS (SELECT ROUND(SUM(d2), {SUM_DIGITS}) AS phi FROM sc)
SELECT point_id, d2,
       CASE WHEN phi > 0 THEN
         ROUND(LEAST(CAST(1.0 AS DOUBLE), CAST({float(KMPP_L)!r} AS DOUBLE) * d2 / phi), {MEAN_DIGITS})
       ELSE CAST(0.0 AS DOUBLE) END AS prob
FROM sc CROSS JOIN phi"""


# ---------------------------------------------------------------------------
# The registry: one @query record per builder
# ---------------------------------------------------------------------------


class Query(NamedTuple):
    """One registered query: its Spark builder, its DuckDB twin (a
    zero-argument callable that builds the oracle SQL on demand; None
    for a rows-only query) and, when bench.py does not time it in its
    tracked loop, the written reason why."""

    build: Callable[[SparkSession, str], DataFrame]
    twin: Callable[[], str] | None
    unbenched: str | None


_REGISTRY: dict[str, Query] = {}
# the modules whose @query builders make up the registry, in order
_MODULES = (
    __name__,
    "kmeans_mapreduce_spark.extensions",
    "kmeans_mapreduce_spark.analytics",
    "kmeans_mapreduce_spark.replays",
)


def query(
    *, twin: Callable[[], str] | None = None, unbenched: str | None = None
) -> Callable[[Callable[..., DataFrame]], Callable[..., DataFrame]]:
    """Register the decorated ``q_<name>`` builder as query ``<name>``
    and return it unchanged. Registering a name twice raises."""

    def register(build: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        if not build.__name__.startswith("q_"):
            raise ValueError(f"query builder {build.__name__!r} lacks the q_ prefix")
        name = build.__name__[2:]
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        _REGISTRY[name] = Query(build, twin, unbenched)
        return build

    return register


def registry() -> dict[str, Query]:
    """Every registered query, in declaration order: this module's
    builders, then extensions.py's, analytics.py's and replays.py's,
    whichever of the modules was imported first."""
    for module in _MODULES[1:]:
        importlib.import_module(module)
    return dict(
        sorted(
            _REGISTRY.items(),
            key=lambda item: _MODULES.index(item[1].build.__module__),
        )
    )


def _is_core(q: Query) -> bool:
    return q.build.__module__ == __name__


def core_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in registry().items() if _is_core(q)}


def extension_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in registry().items() if not _is_core(q)}


def core_oracle_sql() -> dict[str, str]:
    return {n: q.twin() for n, q in registry().items() if q.twin and _is_core(q)}


def extension_oracle_sql() -> dict[str, str]:
    return {
        n: q.twin() for n, q in registry().items() if q.twin and not _is_core(q)
    }


def bench_tracked_queries() -> list[str]:
    """The queries bench.py times in its tracked loop, in registry
    order: every one without an ``unbenched`` reason. Deriving the set
    from the registry means a query cannot silently fall through the
    bench (as kmeans_wssse once did: listed for the bench, never run)."""
    return [n for n, q in registry().items() if q.unbenched is None]


# Written reasons for ``unbenched=``, shared by the queries they cover.
_R_STREAM = (
    "streaming replay: wall is trigger cadence + state-store setup, not "
    "operator cost; operator scaling lives in the sessionize/TWS probe"
)
_R_EVAL = (
    "multi-probe eval loop (recall/sweep table); the probed operator's "
    "serving path is benched individually"
)
_R_FIT = (
    "iterative fit variant; the full-fit wall is benched via the core "
    "kmeans_fit10 / mllib_fit10 / kmeans_nd_fit_large / train:* entries"
)
_R_SUBSTEP = (
    "sub-step of the benched Lloyd fit (assign/recompute/wssse/bbox/"
    "init/repair are all inside kmeans_fit10's per-iteration wall)"
)
_R_JOINFAM = (
    "broadcast-dim join + aggregate, same plan shape as the benched "
    "join_revenue_by_nation / join_top_customers / sql_revenue_by_nation"
)
_R_EVENTAGG = (
    "single-shuffle aggregate variant of the benched events family "
    "(events_window_agg is the tracked canonical shape)"
)
_R_TEXTSCAN = (
    "narrow scan + aggregate variant of the benched text family "
    "(text_quality / text_tfidf / text_repetition track the shape)"
)


# ---------------------------------------------------------------------------
# Query implementations (Spark side)
# ---------------------------------------------------------------------------

@query(
    unbenched=(
        "raw 2-column scan; bench's warmup_count times the same scan"
    ),
    twin=lambda: POINTS_2D_SQL,
)
def q_points_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — schema'd point source (the derivation itself)."""
    return points_2d(spark, sf_dir)


@query(
    unbenched="timed directly by bench.py",
    twin=lambda: _assign_sql(K4_CENTERS) + "SELECT point_id, cid, min_d2 FROM assigned",
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — nearest-centroid assignment, narrow argmin form."""
    return km.assign(points_2d(spark, sf_dir), K4_CENTERS).select(
        "point_id", "cid", "min_d2"
    )


@query(
    unbenched=_R_SUBSTEP,
    twin=lambda: _assign_sql(K4_CENTERS)
    + f"""SELECT cid, ROUND(AVG(x), {MEAN_DIGITS}) AS cx,
       ROUND(AVG(y), {MEAN_DIGITS}) AS cy, COUNT(*) AS n
FROM assigned GROUP BY cid""",
)
def q_kmeans_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 — per-cluster mean + count (partial+final hash agg)."""
    assigned = km.assign(points_2d(spark, sf_dir), K4_CENTERS)
    return km.recompute(assigned).select(
        "cid",
        F.round("cx", MEAN_DIGITS).alias("cx"),
        F.round("cy", MEAN_DIGITS).alias("cy"),
        "n",
    )


@query(unbenched=_R_SUBSTEP, twin=lambda: f"""
WITH pts AS ({POINTS_2D_SQL})
SELECT MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM pts""")
def q_kmeans_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 — global bounding box (min/max are exact: no rounding)."""
    return km.bbox(points_2d(spark, sf_dir))


@query(
    twin=lambda: _assign_sql(K4_CENTERS)
    + f"SELECT ROUND(SUM(min_d2), {SUM_DIGITS}) AS wssse FROM assigned",
)
def q_kmeans_wssse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — clustering objective, reusing O6 (no input rescan)."""
    assigned = km.assign(points_2d(spark, sf_dir), K4_CENTERS)
    return km.wssse(assigned).select(F.round("wssse", SUM_DIGITS).alias("wssse"))


@query(
    unbenched=_R_SUBSTEP,
    twin=lambda: _assign_sql(K3_FAR_CENTERS)
    + """SELECT CAST(c.cid AS INTEGER) AS cid
FROM cents c
WHERE c.cid NOT IN (SELECT DISTINCT cid FROM assigned)""",
)
def q_kmeans_repair_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 — empty-cluster detection via anti-join (F5 probe)."""
    pts = points_2d(spark, sf_dir)
    stats = km.recompute(km.assign(pts, K3_FAR_CENTERS))
    expected = spark.createDataFrame(
        [(c,) for c, _, _ in K3_FAR_CENTERS], "cid INT"
    )
    return km.empty_clusters(expected, stats)


@query(unbenched=_R_FIT, twin=lambda: _unrolled_loop_sql(2))
def q_kmeans_loop2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 — two unrolled Lloyd iterations (the loop, oracle-checkable).

    Centroids are rounded to MEAN_DIGITS *between* iterations on both
    sides, making second-iteration inputs bit-identical across engines
    (otherwise summation-order noise could flip boundary points).
    """
    pts = points_2d(spark, sf_dir).cache()
    it1 = (
        km.recompute(km.assign(pts, K4_CENTERS))
        .select(
            "cid",
            F.round("cx", MEAN_DIGITS).alias("cx"),
            F.round("cy", MEAN_DIGITS).alias("cy"),
        )
        .collect()
    )
    centers1 = [(r["cid"], r["cx"], r["cy"]) for r in it1]
    # release the cache NOW: the caller's single action on the returned
    # frame costs one parquet re-scan, but a leaked cache would pin the
    # point set in executor memory for the rest of the driver's
    # ~120-query registry sweep
    pts.unpersist()
    out = km.recompute(km.assign(pts, centers1)).select(
        "cid",
        F.round("cx", MEAN_DIGITS).alias("cx"),
        F.round("cy", MEAN_DIGITS).alias("cy"),
        "n",
    )
    return out


@query(unbenched=_R_EVAL, twin=_elbow_sweep_sql)
def q_kmeans_elbow_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-selection elbow table: WSSSE after ELBOW_ITERS fixed-init
    Lloyd iterations for each candidate k — the k-vs-cost curve a user
    reads the "elbow" off. One cached point scan feeds every candidate;
    per-k work is the same narrow literal-argmin assignment as
    ``kmeans_assign`` (zero joins), so the sweep is K_candidates × the
    single-fit cost, embarrassingly parallel across candidates at
    scale. Centroids round to MEAN_DIGITS between iterations (the
    cross-engine determinism pin); the K-row collect per iteration is
    model state, not data."""
    from functools import reduce

    pts = points_2d(spark, sf_dir).cache()
    outs = []
    for k, c0 in ELBOW_SWEEP:
        centers = c0
        for _ in range(1, ELBOW_ITERS):
            rows = (
                km.recompute(km.assign(pts, centers))
                .select(
                    "cid",
                    F.round("cx", MEAN_DIGITS).alias("cx"),
                    F.round("cy", MEAN_DIGITS).alias("cy"),
                )
                .collect()
            )
            centers = [(r["cid"], r["cx"], r["cy"]) for r in rows]
        a = km.assign(pts, centers)
        outs.append(
            a.agg(
                F.round(F.sum("min_d2"), SUM_DIGITS).alias("wssse"),
                F.count(F.lit(1)).alias("n_points"),
            ).select(F.lit(k).alias("k"), "wssse", "n_points")
        )
    pts.unpersist()
    return reduce(lambda x, y: x.unionByName(y), outs)


@query(unbenched=_R_FIT, twin=lambda: _unrolled_loop_sql(3))
def q_kmeans_fit_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 under the hash gate: the REAL ``fit`` driver loop — its
    ``lloyd_step_sql`` step, repair path, convergence bookkeeping — made
    deterministic (fixed init, exactly 3 iterations via ``tol=0.0``,
    ``keep`` repair, per-iteration MEAN_DIGITS rounding) so the
    3-iteration unrolled SQL twin reproduces it value-for-value.
    ``kmeans_loop2`` proves the *pattern* for 2 hand-unrolled steps;
    this proves ``fit`` itself."""
    res = km.fit(
        points_2d(spark, sf_dir),
        k=4,
        max_iter=3,
        tol=0.0,
        seed=0,
        init_centers=K4_CENTERS,
        empty_policy="keep",
        round_digits=MEAN_DIGITS,
    )
    rows = [
        (cid, float(cx), float(cy), int(res.cluster_sizes.get(cid, 0)))
        for cid, cx, cy in res.centers
    ]
    return spark.createDataFrame(rows, "cid INT, cx DOUBLE, cy DOUBLE, n BIGINT")


@query(unbenched=_R_SUBSTEP, twin=_kmpp_round1_sql)
def q_kmeans_kmpp_round1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 under the hash gate: the deterministic scoring math of one
    k-means|| round (``init_kmeans_parallel``'s D² pass) — from a FIXED
    first center, per-point d² and the sampling probability
    min(1, l·d²/φ). The only part of k-means|| the gate can't replay is
    the seeded coin-flip; this pins everything upstream of it."""
    first = [(K4_CENTERS[0][1], K4_CENTERS[0][2])]
    out = km.kmpp_round_probs(
        points_2d(spark, sf_dir),
        first,
        l=KMPP_L,
        phi_digits=SUM_DIGITS,
        prob_digits=MEAN_DIGITS,
    )
    return out.select("point_id", "d2", "prob")


KMPP_T = 5  # deterministic candidate count for the gated round-2 query


@query(unbenched=_R_SUBSTEP, twin=_kmpp_round2_sql)
def q_kmeans_kmpp_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11, round >= 2 under the hash gate: the min-distance UPDATE step
    of k-means|| — d² against a *set* of candidate centers, re-φ, re-prob.

    The coin-flip itself stays rows-only, so round 1's sampled set is
    replaced by a deterministic proxy both engines can compute: the
    top-``KMPP_T`` points by round-1 probability (ties by point_id),
    collected to the driver exactly like the real init collects its
    sampled candidates (T rows, not data). This pins the part of
    rounds 2..r that round 1 couldn't: nearest-of-many scoring feeding
    the next φ."""
    first = [(K4_CENTERS[0][1], K4_CENTERS[0][2])]
    pts = points_2d(spark, sf_dir)
    r1 = km.kmpp_round_probs(
        pts, first, l=KMPP_L, phi_digits=SUM_DIGITS, prob_digits=MEAN_DIGITS
    )
    top = (
        r1.orderBy(F.desc("prob"), F.asc("point_id"))
        .limit(KMPP_T)
        .select("x", "y")
        .collect()
    )
    cands = first + [(float(r["x"]), float(r["y"])) for r in top]
    out = km.kmpp_round_probs(
        pts, cands, l=KMPP_L, phi_digits=SUM_DIGITS, prob_digits=MEAN_DIGITS
    )
    return out.select("point_id", "d2", "prob")


def _fit_gate_row(spark: SparkSession, pts: DataFrame, res) -> DataFrame:
    """The shared verification row behind the gated free-form fits
    (``kmeans_fit``, ``kmeans_fit_kmpp``): honest Lloyd invariants
    from fresh passes — monotone WSSSE history, an independent
    assignment at the RETURNED centers scoring no worse than the last
    recorded WSSSE — plus the twin-recomputable fixed-K4 reference
    WSSSE and the improvement verdict against it. One implementation
    so the two gates cannot drift."""
    ver = (
        km.assign(pts, res.centers)
        .agg(
            F.sum("min_d2").alias("w_ret"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .collect()[0]
    )
    w_k4 = (
        km.assign(pts, K4_CENTERS)
        .agg(F.round(F.sum("min_d2"), SUM_DIGITS).alias("w"))
        .collect()[0]["w"]
    )
    hist = res.wssse_history
    monotone = all(
        hist[i + 1] <= hist[i] + _lloyd_slack(hist[i])
        for i in range(len(hist) - 1)
    )
    fixpoint = ver["w_ret"] <= hist[-1] + _lloyd_slack(hist[-1])
    rows = [(
        len(res.centers),
        int(ver["n_points"]),
        float(w_k4),
        bool(monotone),
        bool(fixpoint),
        # same slack allowance as the monotone/fixpoint invariants:
        # w_ret is unrounded while w_k4 is SUM_DIGITS-rounded, so a
        # fit converging within rounding distance of the K4 reference
        # must not flap the boolean across runs/scales
        bool(ver["w_ret"] <= w_k4 + _lloyd_slack(w_k4)),
    )]
    return spark.createDataFrame(
        rows,
        "k_centers BIGINT, n_points BIGINT, wssse_k4 DOUBLE, "
        "monotone BOOLEAN, fixpoint BOOLEAN, improves_on_k4 BOOLEAN",
    )


def _fit_gate_sql() -> str:
    """Twin of ``_fit_gate_row``, shared by ``kmeans_fit`` and
    ``kmeans_fit_kmpp``: the free trajectory (seeded init, or the D²
    sampling of k-means||) is driver randomness, but its RESULT is
    gated — the twin recomputes the K4 reference WSSSE for real and
    pins the Lloyd invariants the engine verifies honestly
    (kmpp_round1/2 pin the D² scoring math separately)."""
    return _assign_sql(K4_CENTERS) + f"""SELECT CAST(8 AS BIGINT) AS k_centers,
       COUNT(*)::BIGINT AS n_points,
       ROUND(SUM(min_d2), {SUM_DIGITS}) AS wssse_k4,
       TRUE AS monotone, TRUE AS fixpoint, TRUE AS improves_on_k4
FROM assigned"""


@query(unbenched=_R_FIT, twin=_fit_gate_sql)
def q_kmeans_fit_kmpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 variant under the hash gate — k-means|| (Bahmani)
    D²-sampling init + Lloyd loop, gated with the same
    result-invariant recipe as the free-form ``kmeans_fit`` (the
    distributed seeded sampling keeps the trajectory out of SQL
    reach; its result still obeys Lloyd descent): monotone WSSSE
    history, an independent assignment pass at the returned centers
    scoring no worse than the last recorded WSSSE, and improvement
    over the fixed-K4 one-shot assignment whose WSSSE the twin
    recomputes for real. The D²-init's deterministic scoring math is
    separately hash-gated (kmpp_round1/round2); the it-beats-random
    property stays in pytest. Raw centers: ``operators.kmeans.fit``
    with ``init='k-means||'``."""
    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=8, max_iter=5, tol=0.5, seed=42, init="k-means||")
    return _fit_gate_row(spark, pts, res)


def q_kmeans_fit_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw free-form fit surface (final centroids + convergence
    bookkeeping) — what ``entry()`` returns as the flagship. Not in
    the gated registry: the gated ``kmeans_fit`` runs the SAME fit
    and emits its numerically-verified invariants instead (the
    seeded trajectory itself has no SQL twin)."""
    res = km.fit(points_2d(spark, sf_dir), k=8, max_iter=10, tol=0.5, seed=42)
    rows = [
        (cid, float(cx), float(cy), len(res.wssse_history), res.converged)
        for cid, cx, cy in res.centers
    ]
    return spark.createDataFrame(
        rows, "cid INT, cx DOUBLE, cy DOUBLE, iterations INT, converged BOOLEAN"
    )


def _lloyd_slack(h: float) -> float:
    """Reassociation allowance for cross-plan WSSSE comparisons: the
    fit loop's aggregate, the verification pass's aggregate, and (n-D)
    the Arrow step's per-partition partials all sum the same per-point
    terms in different orders; 1e-9 relative is ~100× above the measured float64
    reassociation noise and ~9 orders below any real Lloyd-descent
    violation."""
    return abs(h) * 1e-9 + 1e-6


@query(unbenched=_R_FIT, twin=_fit_gate_sql)
def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11+O13 under the hash gate — the FREE-FORM engine fit (seeded
    init, reseed repair, |ΔWSSSE| convergence), gated NUMERICALLY (r12
    verdict task 3). The seeded trajectory itself is driver-side
    randomness no SQL can replay, but its RESULT obeys
    engine-independent invariants: Lloyd descent is monotone
    (mean-update + reseed repair can only lower the objective), an
    independent assignment pass at the RETURNED centers can't score
    worse than the last recorded WSSSE, and a k=8 converged fit must
    beat the fixed K4 one-shot assignment (``kmeans_wssse``'s config).
    The query emits those verdicts computed honestly from fresh
    verification passes, plus the twin-computable K4 reference WSSSE
    as a real cross-engine value — so the gate fails if the free fit
    ever returns non-Lloyd output while the trajectory stays free.
    Users wanting the raw centers call ``operators.kmeans.fit`` (the
    exact call below; ``entry()`` returns that shape)."""
    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=8, max_iter=10, tol=0.5, seed=42)
    return _fit_gate_row(spark, pts, res)


# The driver window. The grading driver's CORRECTNESS gate verifies
# only the FIRST 50 entries of queries() (dict order), so
# ``driver_ordered`` puts these 50 names first, in this order; the rest
# of the registry follows in declaration order. Every query outside
# the window stays covered by the full three-scale oracle sweep
# (tools/check_oracle.py) and the pytest suite.
#
# How members are picked (the comments inside the list name each
# group):
# - anchors: one previously driver-green query per operator family,
#   kept from window to window as a regression canary;
# - new queries are gated from the window they land in, so a query
#   is hash-checked by the independent gate from birth;
# - the entrants of the previous window stay one more window;
# - the remaining slots are canaries spread across the families,
#   swapping members within each family between windows so repeat
#   gating keeps touching different plans, and re-gating the heaviest
#   regimes (kmeans_nd_fit_large, multimodal_mjpeg, ...).
# The list is an ordered policy, not per-query data, so it stays here
# rather than on the @query records.
DRIVER_WINDOW_QUERIES: list[str] = [
    # -- anchors: previously driver-green, one per family --
    "points_source",        # core source
    "kmeans_fit_fixed",     # core Lloyd loop (assign+recompute+repair)
    "text_tokens",          # text analysis
    "corpus_shuffle",       # sampling / curation
    "dedup_minhash_pairs",  # MinHash-LSH dedup
    "similarity_ann_ivf",   # IVF ANN
    "similarity_hybrid_rrf",  # hybrid lexical+vector retrieval
    "multimodal_meta",      # multimodal
    "events_stream_replay",  # streaming
    "table_time_travel",    # versioned tables
    # -- newest queries, gated from birth: the pHash image/video
    # near-dup family + its funnel composition, the
    # Q13/Q15/Q16/Q20/Q21 relational tail, and the deferred-null
    # left-outer stream-stream join replay --
    "multimodal_phash",
    "multimodal_phash_pairs",
    "multimodal_video_phash",
    "pipeline_image_dedup",
    "join_waiting_suppliers",
    "join_excess_stock",
    "join_custdist",
    "join_top_revenue_supplier",
    "join_supplier_cnt",
    "multimodal_afp",
    "multimodal_afp_pairs",
    "events_stream_join_outer_replay",
    # -- the previous window's entrants, kept one more window --
    "embeddings_pca",
    "kmeans_fit",
    "kmeans_nd_fit",
    "events_stream_ttl_dedup_tws_replay",
    "corpus_line_dedup",
    "join_min_cost_supplier",
    "events_anomaly_mad",
    "events_observed_metrics",
    "events_stream_native_dedup_replay",
    # -- regression canaries: previously driver-green, spread across
    # the families; members within each family swap between windows
    # so repeat-gating keeps touching different plans --
    "kmeans_wssse",
    "kmeans_nd_fit_large",
    "dedup_exact",
    "dedup_keep_best",
    "dedup_fuzzy_prefix",
    "dedup_semantic_trained",
    "similarity_ann_ivf_trained",
    "similarity_ann_pq_rerank_trained",
    "similarity_knn_graph",
    "embeddings_binary_quant",
    "text_quality",
    "corpus_temperature_mix",
    "corpus_url_dedup",
    "events_exact_quantiles",
    "events_gapfill",
    "join_small_quantity",
    "lineitem_pricing_summary",
    "multimodal_audio",
    "multimodal_mjpeg",
]



def driver_ordered(
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Reorder a query registry so DRIVER_WINDOW_QUERIES come first (in
    list order), everything else after in its original order."""
    head = {n: all_q[n] for n in DRIVER_WINDOW_QUERIES if n in all_q}
    return {**head, **{n: f for n, f in all_q.items() if n not in head}}
