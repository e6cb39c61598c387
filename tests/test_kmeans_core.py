"""Golden micro-fixtures (FIXTURES.md F4/F5) + operator unit tests.

Hand-computed expectations: values chosen to be exact in binary floating
point, so comparisons are exact (no tolerance needed).
"""

from __future__ import annotations

import pytest

from kmeans_mapreduce_spark.operators import kmeans as km
from kmeans_mapreduce_spark.schema import POINTS_2D

F4_POINTS = [
    (0, 0.0, 0.0),
    (1, 0.0, 2.0),
    (2, 2.0, 0.0),
    (3, 2.0, 2.0),
    (4, 10.0, 10.0),
    (5, 10.0, 12.0),
    (6, 12.0, 10.0),
    (7, 12.0, 12.0),
]
F4_CENTERS = [(0, 1.0, 1.0), (1, 11.0, 11.0)]


@pytest.fixture(scope="module")
def f4(spark):
    return spark.createDataFrame(F4_POINTS, POINTS_2D)


def test_assign_golden(f4):
    rows = {r["point_id"]: r for r in km.assign(f4, F4_CENTERS).collect()}
    for pid in range(4):
        assert rows[pid]["cid"] == 0
    for pid in range(4, 8):
        assert rows[pid]["cid"] == 1
    assert all(r["min_d2"] == 2.0 for r in rows.values())


def test_assign_tiebreak_lowest_cid(spark, f4):
    # (6,6) is exactly equidistant (50.0) from both centroids →
    # must go to cid 0 (strict `<` first-wins, reference mapper.py:43).
    extra = spark.createDataFrame([(99, 6.0, 6.0)], POINTS_2D)
    row = km.assign(extra, F4_CENTERS).collect()[0]
    assert row["cid"] == 0
    assert row["min_d2"] == 50.0


def test_assign_nonfinite_centers(spark, f4):
    """nan and inf centers parse as SQL literals and never beat a
    finite center; a point equidistant from two finite centers still
    goes to the lower cid, and a nan center listed first does not."""
    centers = [(0, float("nan"), 1.0), (1, float("inf"), 0.0), (2, 1.0, 1.0), (3, 11.0, 11.0)]
    extra = spark.createDataFrame([(99, 6.0, 6.0)], POINTS_2D)
    rows = {r["point_id"]: r for r in km.assign(f4.unionByName(extra), centers).collect()}
    assert {p: r["cid"] for p, r in rows.items()} == {
        0: 2, 1: 2, 2: 2, 3: 2, 4: 3, 5: 3, 6: 3, 7: 3, 99: 2
    }
    assert rows[99]["min_d2"] == 50.0
    assert all(r["min_d2"] == 2.0 for p, r in rows.items() if p != 99)


@pytest.mark.parametrize("step", ["lloyd_step_sql", "lloyd_step_arrow"])
def test_lloyd_step_matches_golden(spark, f4, step):
    """Both step implementations return the hand-computed F4 means,
    sizes and WSSSE, INCLUDING the first-wins tie-break: the (6,6)
    point is exactly equidistant (50.0) from both centroids and must
    count toward cid 0."""
    extra = spark.createDataFrame([(99, 6.0, 6.0)], POINTS_2D)
    pts = f4.unionByName(extra).select("x", "y")
    centers = F4_CENTERS
    if step == "lloyd_step_arrow":
        centers = [(c, (x, y)) for c, x, y in F4_CENTERS]
    means, sizes, sse = getattr(km, step)(pts, centers)
    assert means == {0: (2.0, 2.0), 1: (11.0, 11.0)}
    assert sizes == {0: 5, 1: 4}
    assert sse == 8 * 2.0 + 50.0


def test_recompute_golden(f4):
    assigned = km.assign(f4, F4_CENTERS)
    stats = {r["cid"]: r for r in km.recompute(assigned).collect()}
    assert stats[0]["cx"] == 1.0 and stats[0]["cy"] == 1.0 and stats[0]["n"] == 4
    assert stats[1]["cx"] == 11.0 and stats[1]["cy"] == 11.0 and stats[1]["n"] == 4


def test_wssse_golden(f4):
    assigned = km.assign(f4, F4_CENTERS)
    assert km.wssse(assigned).collect()[0]["wssse"] == 16.0


def test_bbox_golden(f4):
    b = km.bbox(f4).collect()[0]
    assert (b["min_x"], b["max_x"], b["min_y"], b["max_y"]) == (0.0, 12.0, 0.0, 12.0)


def test_empty_cluster_repair_policies(spark, f4):
    # F5: K=3 with an unreachable centroid → exactly K centroids out.
    centers3 = F4_CENTERS + [(2, 1000.0, 1000.0)]
    means, sizes, _ = km.lloyd_step(f4, centers3)
    assert 2 not in means
    import random

    reseeded = km.repair_empty(centers3, means, (0, 12, 0, 12), random.Random(0), "reseed")
    kept = km.repair_empty(centers3, means, (0, 12, 0, 12), random.Random(0), "keep")
    assert [c[0] for c in reseeded] == [0, 1, 2]
    assert kept[2] == (2, 1000.0, 1000.0)
    r2 = reseeded[2]
    assert 0 <= r2[1] <= 12 and 0 <= r2[2] <= 12


def test_empty_clusters_df(spark, f4):
    from pyspark.sql import functions as F

    expected = spark.range(3).select(F.col("id").cast("int").alias("cid"))
    stats = km.recompute(km.assign(f4, F4_CENTERS + [(2, 1000.0, 1000.0)]))
    empties = km.empty_clusters(expected, stats).collect()
    assert [r["cid"] for r in empties] == [2]


def test_fit_converges_and_is_fixpoint(f4):
    res = km.fit(f4, k=2, max_iter=10, tol=1e-9, init_centers=F4_CENTERS)
    # F4 init is already the fixpoint: converges immediately, WSSSE 16.
    assert res.converged
    assert res.wssse_history[0] == 16.0
    assert sorted(res.centers) == [(0, 1.0, 1.0), (1, 11.0, 11.0)]


def test_fit_leaves_session_confs_alone(spark, f4, monkeypatch):
    """fit's Lloyd steps run under the session's own AQE and
    whole-stage-codegen settings: a session-wide flip for the length of
    a fit would also change every query run concurrently on it."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    session = {k: spark.conf.get(k) for k in keys}
    seen = []
    step = km.lloyd_step_sql

    def recording_step(points, centers):
        seen.append({k: spark.conf.get(k) for k in keys})
        return step(points, centers)

    monkeypatch.setattr(km, "lloyd_step_sql", recording_step)
    km.fit(f4, k=2, max_iter=2, tol=0.0, init_centers=F4_CENTERS)
    assert seen == [session, session]
    assert {k: spark.conf.get(k) for k in keys} == session


@pytest.mark.parametrize("n_cands", [1, 70])
def test_kmpp_scores_matches_assign_bitwise(spark, n_cands):
    """The Arrow D² scoring of k-means|| is the same float64 op sequence
    as the literal-expression assignment: d2 equals assign's min_d2 bit
    for bit, with the input columns and types passed through — over one
    candidate and over more than 64, for a point exactly between two
    candidates and for points sitting exactly on a candidate."""
    import random as rnd

    r = rnd.Random(n_cands)
    cands = [(0.0, 0.0)] + [
        (r.uniform(-50, 50), r.uniform(-50, 50)) for _ in range(n_cands - 1)
    ]
    rows = [(i, r.uniform(-60, 60), r.uniform(-60, 60)) for i in range(2000)]
    rows += [(5000 + i, cx, cy) for i, (cx, cy) in enumerate(cands)]  # on a candidate
    if n_cands > 1:
        # equidistant from two candidates placed symmetrically about it
        cands += [(-1000.0, 0.0), (-1000.0, 4.0)]
        rows.append((9000, -1000.0, 2.0))
    pts = spark.createDataFrame(rows, POINTS_2D).repartition(4)
    scored = km.kmpp_scores(pts, cands)
    assert scored.dtypes == pts.dtypes + [("d2", "double")]
    got = {p: (x, y, d2) for p, x, y, d2 in scored.collect()}
    want = {
        row["point_id"]: (row["x"], row["y"], row["min_d2"])
        for row in km.assign(pts, [(i, x, y) for i, (x, y) in enumerate(cands)]).collect()
    }
    assert {p: tuple(v.hex() for v in t) for p, t in got.items()} == {
        p: tuple(v.hex() for v in t) for p, t in want.items()
    }
    assert all(got[5000 + i][2] == 0.0 for i in range(n_cands))
    if n_cands > 1:
        assert got[9000][2] == 4.0


def test_fit_wssse_nonincreasing(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=4, max_iter=6, tol=0.0, seed=42)
    hist = res.wssse_history
    assert len(hist) >= 2
    for prev, cur in zip(hist, hist[1:]):
        assert cur <= prev * (1 + 1e-9)


def test_kmeans_parallel_init_beats_random_first_iteration(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    rnd = km.fit(pts, k=4, max_iter=2, tol=0.0, seed=42)
    kmpp = km.fit(pts, k=4, max_iter=2, tol=0.0, seed=42, init="k-means||")
    assert sorted(c[0] for c in kmpp.centers) == [0, 1, 2, 3]
    # D²-sampled seeds start far closer to the optimum than uniform-box
    assert kmpp.wssse_history[0] < rnd.wssse_history[0]


def test_fit_always_k_centers(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=8, max_iter=3, tol=0.5, seed=7)
    assert sorted(c[0] for c in res.centers) == list(range(8))


def test_round_half_up_matches_both_engines(spark):
    """Driver-side mean rounding must agree with Spark F.round and
    DuckDB ROUND everywhere — including exactly-representable decimal
    half-ties (dyadic values like 1.0078125), where Python's built-in
    round() (half-to-even) diverges."""
    import random as rnd

    import duckdb
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators.kmeans import round_half_up

    vals = [
        1.0078125, -1.0078125, 33.0078125,  # dyadic 7-digit half-ties
        2.5e-6, -2.5e-6, 0.9999995, -0.9999995, 0.0, 123.456789499,
    ]
    r = rnd.Random(0)
    vals += [r.uniform(-1000, 1000) for _ in range(200)]
    # built-in round() must actually diverge on the planted ties
    assert round(1.0078125, 6) != round_half_up(1.0078125, 6)

    py = [round_half_up(v, 6) for v in vals]
    con = duckdb.connect()
    duck = [
        con.execute("SELECT ROUND(CAST(? AS DOUBLE), 6)", [v]).fetchone()[0]
        for v in vals
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i INT, v DOUBLE"
    ).select("i", F.round("v", 6).alias("r"))
    sp = [row["r"] for row in df.orderBy("i").collect()]
    assert py == duck
    assert py == sp


def test_elbow_sweep_wssse_monotone_in_k(spark):
    """The elbow table's point: more clusters → lower cost. With the
    fixed in-box inits, WSSSE must strictly decrease across the
    candidate ks, and every row must cover the full point set."""
    from kmeans_mapreduce_spark.queries import q_kmeans_elbow_sweep

    rows = sorted(
        q_kmeans_elbow_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 4, 8]
    assert len({r["n_points"] for r in rows}) == 1
    ws = [r["wssse"] for r in rows]
    assert ws[0] > ws[1] > ws[2]


@pytest.mark.parametrize("via", ["lloyd_step_sql", "assign_nd", "arrow_d2", "arrow_d64"])
def test_nonfinite_center_never_wins(spark, monkeypatch, via):
    """A nan center never wins, whichever path scores it: the SQL step
    (nan/inf centers are CAST('nan'/'inf' AS DOUBLE) literals in its
    own Catalyst plan, and no Arrow step runs), the n-D assignment and
    the Arrow step at d=2 and d=64. Nothing crashes and all 3 points
    land on the one finite center (Spark and DuckDB order NaN above
    every double; an inf center is infinitely far)."""
    import collections

    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    xy = [(0.0, 0.0), (1.0, 1.0), (10.0, 10.0)]
    pts = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(xy)], "point_id INT, x DOUBLE, y DOUBLE"
    )
    nan = float("nan")
    if via == "lloyd_step_sql":

        def no_arrow(*_a, **_k):
            raise AssertionError("lloyd_step_sql ran an Arrow step")

        monkeypatch.setattr(km, "lloyd_step_arrow", no_arrow)
        means, sizes, sse = km.lloyd_step_sql(pts, [(0, nan, 0.0), (1, 10.0, 10.0)])
        assert sizes == {1: 3}
        assert means == {1: (11.0 / 3, 11.0 / 3)}
        assert sse == 200.0 + 162.0 + 0.0
        _, sizes2, _ = km.lloyd_step_sql(pts, [(0, float("inf"), 0.0), (1, 0.0, 0.0)])
        assert sizes2 == {1: 3}
        return
    dim = 64 if via == "arrow_d64" else 2
    # d=64: the 2-D points padded with zeros, so distances are unchanged
    vec = F.array(F.col("x"), F.col("y"), *[F.lit(0.0)] * (dim - 2)).alias("vec")
    nd_pts = pts.select("point_id", vec)
    finite = [10.0, 10.0] + [0.0] * (dim - 2)
    centers = [(0, [nan] + [0.0] * (dim - 1)), (1, finite)]
    if via == "assign_nd":
        rows = knd.assign_nd(nd_pts, centers).collect()
        sizes = collections.Counter(r["cid"] for r in rows)
        assert sorted(r["min_d2"] for r in rows) == [0.0, 162.0, 200.0]
    else:
        means, sizes, sse = km.lloyd_step_arrow(nd_pts if dim > 2 else pts, centers)
        assert means == {1: tuple([11.0 / 3, 11.0 / 3] + [0.0] * (dim - 2))}
        assert sse == 200.0 + 162.0 + 0.0
    assert sizes == {1: 3}


@pytest.mark.parametrize("case", ["2d_k4", "nd_k4", "nd_k256"])
def test_arrow_step_agrees_with_assignment(spark, sf_dir, case):
    """The Arrow Lloyd step's cluster sizes are the per-cid counts of the
    assignment pass at the same centers, and its WSSSE is their
    Σ min_d2 up to reassociation: on the sf0.001 points with the K=4
    registry centers, and on the embeddings with the ND_CENTROID_IDS
    rows (K=4) and the first 256 rows (K=256)."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.extensions import ND_CENTROID_IDS
    from kmeans_mapreduce_spark.operators import kmeans_nd as knd
    from kmeans_mapreduce_spark.queries import K4_CENTERS, _lloyd_slack
    from kmeans_mapreduce_spark.sources.derive import points_2d
    from kmeans_mapreduce_spark.sources.loaders import load_table

    if case == "2d_k4":
        pts = points_2d(spark, sf_dir)
        assigned = km.assign(pts, K4_CENTERS)
        centers = [(c, (x, y)) for c, x, y in K4_CENTERS]
    else:
        pts = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("point_id"),
            F.transform("embedding", lambda v: v.cast("double")).alias("vec"),
        )
        rows = pts.orderBy("point_id").collect()
        if case == "nd_k4":
            rows = [r for r in rows if r["point_id"] in ND_CENTROID_IDS]
        centers = [(i, list(r["vec"])) for i, r in enumerate(rows[:256])]
        assigned = knd.assign_nd(pts, centers)
    want = {
        r["cid"]: (r["n"], r["sse"])
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("min_d2").alias("sse"))
        .collect()
    }
    _, sizes, sse = km.lloyd_step_arrow(pts, centers)
    assert sizes == {c: n for c, (n, _) in want.items()}
    w = sum(s for _, s in want.values())
    assert abs(sse - w) <= _lloyd_slack(w)


def _py_fold_d2(x, c):
    acc = 0.0
    for a, b in zip(x, c):
        acc += (a - b) * (a - b)
    return acc


@pytest.mark.parametrize("via", ["assign_nd", "assign_cells"])
def test_nd_assignment_matches_python_fold_bitwise(spark, via):
    """The one n-D nearest-centroid assignment, called on (point_id INT,
    vec ARRAY<FLOAT>) and through the (vec_id, embedding) adapter: on
    the 500 sf0.001 embeddings the unrounded d2 equals, by float.hex, a
    pure-Python fold from 0.0 adding (a-b)*(a-b) in index order (the
    twins' op order); a duplicate center listed FIRST under a higher
    cid loses the tie to the lower cid; the input columns keep their
    types."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators import dedup as dd
    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = emb.orderBy("vec_id").collect()
    centers = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows[:5])
    ]
    centers.insert(0, (9, centers[0][1]))
    if via == "assign_nd":
        pts = emb.select(
            F.col("vec_id").cast("int").alias("point_id"),
            F.col("embedding").alias("vec"),
        )
        out = knd.assign_nd(pts, centers)
        key, cid, d2 = "point_id", "cid", "min_d2"
    else:
        out = dd.assign_cells(emb, centers, out="cell", keep_d2="d2")
        key, cid, d2 = "vec_id", "cell", "d2"
    assert out.dtypes == [
        (key, "int" if via == "assign_nd" else "bigint"),
        (out.columns[1], "array<float>"),
        (cid, "int"),
        (d2, "double"),
    ]
    got = {r[key]: (r[cid], r[d2].hex()) for r in out.collect()}
    assert len(got) == 500
    for r in rows:
        x = [float(v) for v in r["embedding"]]
        want_d2, want_cid = min((_py_fold_d2(x, c), c_id) for c_id, c in centers)
        assert got[r["vec_id"]] == (want_cid, want_d2.hex()), r["vec_id"]
    assert got[rows[0]["vec_id"]] == (0, (0.0).hex())


def test_build_ivf_index_cells_match_assign_nd(spark):
    """The IVF index build runs the same argmin kernel: its cell is
    assign_nd's cid, duplicate-center ties included."""
    from kmeans_mapreduce_spark.operators import dedup as dd
    from kmeans_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(6).collect()
    ]
    centers = list(enumerate([first[0]] + first))  # cid 1 duplicates cid 0
    ivf = {
        r["vec_id"]: r["cell"] for r in sim.build_ivf_index(emb, centers).collect()
    }
    nd = {
        r["vec_id"]: r["cell"]
        for r in dd.assign_cells(emb, centers, out="cell").collect()
    }
    assert len(ivf) == 500 and ivf == nd
    assert 1 not in set(nd.values())
