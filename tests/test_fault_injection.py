"""Fault injection: a task that fails on its first attempt is re-run by
Spark's scheduler, and the result is the same, bit for bit.

The reference simulates a mapper that answers with an error status and
has its master re-dispatch the work. Here the scheduler owns retries
(``local[N,F]`` allows F - 1 retries per task in local mode), so the
check is that the engine's own code neither breaks nor changes under
them. One subprocess runs under ``local[2,2]`` (the test session is
already running with no retries), computes each result once clean and
once with an identity ``mapInPandas`` that raises on attempt 0 spliced
into it, and prints both. The Lloyd loop and the k-NN graph take it on
their input; the TTL-dedup replay takes it on the stateful operator's
output, so the task that fails is the one that has already updated its
state store, and the retry must start again from the committed state.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    from pyspark import TaskContext

    from kmeans_mapreduce_spark import extensions as X
    from kmeans_mapreduce_spark.operators import kmeans as km
    from kmeans_mapreduce_spark.queries import K4_CENTERS
    from kmeans_mapreduce_spark.session import get_spark
    from kmeans_mapreduce_spark.sources.derive import points_2d
    from kmeans_mapreduce_spark.streaming import stream_ops as so

    sf_dir, marks = sys.argv[1], sys.argv[2]

    def fail_first_attempt(batches):
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0:
            name = f"{ctx.stageId()}-{ctx.partitionId()}"
            open(os.path.join(marks, name), "w").close()
            raise RuntimeError("injected first-attempt failure")
        yield from batches

    def inject(df):
        return df.mapInPandas(fail_first_attempt, df.schema)

    def fit(points):
        res = km.fit(points, k=4, max_iter=3, tol=0.0, init_centers=K4_CENTERS)
        return {
            "centers": [[c, x.hex(), y.hex()] for c, x, y in res.centers],
            "wssse": [w.hex() for w in res.wssse_history],
            "sizes": sorted(res.cluster_sizes.items()),
        }

    def rows(df):
        return sorted(
            [v.hex() if isinstance(v, float) else v for v in r]
            for r in df.collect()
        )

    spark = get_spark("fault-injection")
    pts = points_2d(spark, sf_dir)
    out = {"fit": fit(pts)}
    out["fit_injected"] = fit(inject(pts))
    out["fit_marks"] = len(os.listdir(marks))

    out["knn"] = rows(X.q_similarity_knn_graph(spark, sf_dir))
    load_table = X.load_table

    def load_injected(spark, sf_dir, name):
        df = load_table(spark, sf_dir, name)
        return inject(df) if name == "embeddings" else df

    X.load_table = load_injected
    out["knn_injected"] = rows(X.q_similarity_knn_graph(spark, sf_dir))
    out["knn_marks"] = len(os.listdir(marks)) - out["fit_marks"]

    done = len(os.listdir(marks))
    out["ttl"] = rows(X.q_events_stream_ttl_dedup_replay(spark, sf_dir))
    dedup_ttl = so.stream_dedup_ttl
    so.stream_dedup_ttl = lambda stream, **kw: inject(dedup_ttl(stream, **kw))
    out["ttl_injected"] = rows(X.q_events_stream_ttl_dedup_replay(spark, sf_dir))
    out["ttl_marks"] = len(os.listdir(marks)) - done
    spark.stop()
    print(json.dumps(out))
    """
)


def test_first_attempt_failures_are_retried_to_identical_results(tmp_path):
    marks = tmp_path / "marks"
    marks.mkdir()
    env = {
        **os.environ,
        "SPARK_GRAFT_MASTER": "local[2,2]",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "2",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_SMOKE, str(marks)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # the injection really fired (and every failed task was retried:
    # otherwise the job, and the subprocess, would have failed)
    assert out["fit_marks"] > 0
    assert out["knn_marks"] > 0
    assert out["ttl_marks"] > 0
    # the Lloyd loop: same centers, WSSSE history and sizes, to the bit
    assert out["fit_injected"] == out["fit"]
    # the barrier-bearing k-NN graph: same sorted rows, floats to the bit
    assert out["knn"], "k-NN graph came back empty"
    assert out["knn_injected"] == out["knn"]
    # the TTL-dedup replay: same sorted rows out of the retried state
    assert out["ttl"], "TTL-dedup replay came back empty"
    assert out["ttl_injected"] == out["ttl"]
