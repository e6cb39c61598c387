import pytest

from perfbench import tracing


@pytest.fixture
def traced_run(spark, tmp_path):
    """Three ops in a session with the event log on: a two-step fit, a
    query with a Python UDF stage behind a barrier, and a JVM-only count."""
    from pyspark import SparkContext

    from kmeans_mapreduce_spark import extensions
    from kmeans_mapreduce_spark.operators import kmeans
    from kmeans_mapreduce_spark.session import get_spark

    evdir = tmp_path / "eventlog"
    evdir.mkdir()
    spark.stop()
    tracing.set_event_log(SparkContext._jvm, str(evdir))
    try:
        session = get_spark("perfbench-traced")
        sc = session.sparkContext
        spans = tracing.Spans()
        points = session.createDataFrame(
            [(i, float(i % 7), float(i % 5)) for i in range(200)], "point_id LONG, x DOUBLE, y DOUBLE"
        )
        ops = [
            lambda: kmeans.fit(points, k=2, max_iter=2, tol=0.0, init_centers=[(0, 0.0, 0.0), (1, 6.0, 4.0)]),
            lambda: extensions.narrow_barrier(
                session.range(100, numPartitions=2).mapInPandas(lambda it: it, "id LONG")
            ).count(),
            lambda: session.range(1000, numPartitions=2).count(),
        ]
        with tracing.instrument(spans):
            for i, op in enumerate(ops):
                spans.op = i
                sc.setJobGroup(f"op{i}", "test")
                with spans.span("op"):
                    op()
        session.stop()
    finally:
        tracing.set_event_log(SparkContext._jvm, None)
    return tracing.read_event_log(str(evdir)), spans


def test_instrument_restores_every_name(spark):
    from kmeans_mapreduce_spark import extensions
    from kmeans_mapreduce_spark.barrier import narrow_barrier
    from kmeans_mapreduce_spark.operators import kmeans

    before = (kmeans.lloyd_step_sql, extensions.narrow_barrier)
    with tracing.instrument(tracing.Spans()):
        assert extensions.narrow_barrier is not narrow_barrier
        assert kmeans.lloyd_step_sql is not before[0]
    assert (kmeans.lloyd_step_sql, extensions.narrow_barrier) == before


def test_event_log_parses_into_layers(traced_run):
    log, spans = traced_run
    assert {j.group for j in log.jobs.values()} >= {"op0", "op1", "op2"}
    per_op = [
        tracing.layer_metrics(log, _only(spans, i), lambda op: f"op{op}", cores=2)
        for i in range(3)
    ]
    fit, udf, count = per_op
    assert fit["kmeans.steps"] == 2
    assert fit["kmeans.jobs_per_step"] >= 1
    assert 0 <= fit["kmeans.step_exec_s"] <= fit["kmeans.step_s"]
    assert fit.get("barrier.materializations", 0) == 0
    assert udf["barrier.materializations"] == 1
    assert udf["functions.python_stages"] >= 1
    assert count.get("functions.python_stages", 0) == 0
    assert count.get("kmeans.steps", 0) == 0
    for m in per_op:
        assert m["spark.jobs"] >= 1
        assert m["spark.tasks"] >= 1
        assert m["spark.failed_tasks"] == 0
        assert 0 <= m["spark.in_job_s"]
        assert m["spark.driver_gap_s"] >= -0.01  # ms clock granularity


def _only(spans, op):
    out = tracing.Spans()
    out.items = [s for s in spans.items if s.op == op]
    return out


def test_union_of_overlapping_intervals():
    assert tracing._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert tracing._union_s([]) == 0.0


def test_streaming_progress_goes_to_the_op_that_ran_it():
    def batch(t, rows, state_rows):
        return {
            "timestamp": f"2026-01-01T00:00:0{t}.000Z",
            "durationMs": {"triggerExecution": 400},
            "sources": [{"numInputRows": rows}],
            "stateOperators": [{"commitTimeMs": 50, "numRowsTotal": state_rows, "memoryUsedBytes": 1000}],
        }

    base = tracing._iso_ms("2026-01-01T00:00:00.000Z")
    spans = tracing.Spans()
    spans.items = [
        tracing.Span(0, "op", base, base + 2000),
        tracing.Span(0, "build", base, base + 1500),
        tracing.Span(1, "op", base + 2000, base + 3000),
    ]
    log = tracing.EventLog(
        jobs={0: tracing.Job(0, "op1", base + 2100, base + 2600, [0])},
        stages={0: tracing.StageTotals(tasks=2, run_ms=800, cpu_ns=300_000_000, python=True)},
        block_bytes_by_job={},
        progress=[batch(0, 10, 7), batch(1, 0, 0)],
    )
    m = tracing.layer_metrics(log, spans, lambda op: f"op{op}", cores=2)
    assert m["streaming.batches"] == 2 and m["streaming.data_batches"] == 1
    assert m["streaming.trigger_exec_s"] == 0.8
    assert abs(m["streaming.setup_s"] - 0.7) < 1e-9
    assert m["streaming.state_rows"] == 7
    assert m["spark.jobs"] == 0.5  # one job over two ops
    assert abs(m["functions.python_s"] - 0.25) < 1e-9  # (0.8 - 0.3) s over two ops
    assert abs(m["spark.slot_util"] - 0.8) < 1e-9  # 0.8 s run / (0.5 s in-job x 2 cores)
