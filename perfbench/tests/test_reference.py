import numpy as np

from perfbench import inputs, reference


def test_micro_golden_set():
    # FIXTURES.md F4: two squares of four points, one iteration.
    x = np.array([0.0, 0.0, 2.0, 2.0, 10.0, 10.0, 12.0, 12.0])
    y = np.array([0.0, 2.0, 0.0, 2.0, 10.0, 12.0, 10.0, 12.0])
    centres, history = reference.lloyd(x, y, [(0, 1.0, 1.0), (1, 11.0, 11.0)], 1, 42)
    assert centres == [(0, 1.0, 1.0), (1, 11.0, 11.0)]
    assert history == [16.0]


def test_tie_goes_to_the_lowest_cid():
    x, y = np.array([6.0]), np.array([6.0])
    centres, _ = reference.lloyd(x, y, [(1, 11.0, 11.0), (0, 1.0, 1.0)], 1, 42)
    assert centres[0] == (0, 6.0, 6.0)


def test_empty_cluster_reseeds_inside_the_box():
    x = np.array([0.0, 1.0, 2.0])
    y = np.array([0.0, 1.0, 2.0])
    centres, _ = reference.lloyd(x, y, [(0, 1.0, 1.0), (1, 1000.0, 1000.0)], 1, 7)
    _, cx, cy = centres[1]
    assert 0.0 <= cx <= 2.0 and 0.0 <= cy <= 2.0


def test_blocking_does_not_change_the_result(monkeypatch):
    rng = np.random.default_rng(0)
    x, y = rng.normal(size=5000), rng.normal(size=5000)
    init = [(c, float(x[c]), float(y[c])) for c in range(4)]
    whole_c, whole_h = reference.lloyd(x, y, init, 3, 1)
    monkeypatch.setattr(reference, "CHUNK", 64)
    c, h = reference.lloyd(x, y, init, 3, 1)
    # only the summation order of the per-cluster sums changes
    assert reference.compare_fit(c, h, whole_c, whole_h, extent=1.0) == []


def test_reference_matches_kmeans_fit(spark, tmp_path):
    from kmeans_mapreduce_spark.operators import kmeans

    path = str(tmp_path / "points.parquet")
    inputs.write_points(path, 3000, 2, seed=5)
    x, y = inputs.read_points(path)
    init = [(c, float(x[i]), float(y[i])) for c, i in enumerate(range(0, 3000, 375))]
    res = kmeans.fit(spark.read.parquet(path), k=8, max_iter=6, tol=0.0, seed=9, init_centers=init)
    ref_c, ref_h = reference.lloyd(x, y, init, 6, 9)
    extent = float(max(np.ptp(x), np.ptp(y)))
    assert reference.compare_fit(res.centers, res.wssse_history, ref_c, ref_h, extent) == []
    moved = [(c, cx + 0.01 * extent, cy) for c, cx, cy in ref_c]
    assert reference.compare_fit(moved, ref_h, ref_c, ref_h, extent)
