"""Registry-wide smoke: EVERY queries() entry must execute at sf0.001
and return a stable schema — the cheap guard against runtime breaks
(renamed columns, broken imports, bad plans) in queries the oracle
sweep isn't run on in CI. Value correctness lives in
tools/check_oracle.py; this only proves the surface executes.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# iterative / heavyweight entries exercised by their own dedicated
# tests — excluded here to keep the smoke pass fast
SLOW = {
    "kmeans_fit",
    "kmeans_fit_kmpp",
    "kmeans_nd_fit",
    "kmeans_nd_fit_fixed",
    "kmeans_fit_fixed",
    "kmeans_mllib",
    "corpus_quality_classifier",
}


def _registry():
    import __spark_entry__ as entry

    q = entry.queries()
    return sorted(n for n in q if n not in SLOW)


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as entry

    q, o = entry.queries(), entry.oracle_sql()
    assert set(o) <= set(q), sorted(set(o) - set(q))


def test_bench_never_clobbers_better_conditioned_artifact(tmp_path):
    """r14 verdict task 2 + r15 verdict task 3a: a worse-conditioned
    degraded rerun must never overwrite a better-conditioned artifact —
    neither a clean one (r13's 153.99 s baseline replaced by a
    7.13%-steal rerun) nor a better degraded one (r15: the driver's
    2.73%-steal run displaced the builder's committed 1.76%-steal
    artifact). Clean runs always write through; diverted filenames
    take an attempt counter (ADVICE r15)."""
    import json

    from bench import _divert_if_worse_conditioned

    p = tmp_path / "bench_r99.json"

    def run(health, steal=None, gbps=None):
        d = {"health": {"verdict": health, "reasons": []}}
        if steal is not None:
            d["cpu_steal_pct"] = steal
        if gbps is not None:
            d["mem_stream_gbps_start"] = gbps
            d["mem_stream_gbps_end"] = gbps
        return d

    # no prior artifact: write through
    assert _divert_if_worse_conditioned(str(p), run("degraded")) == str(p)
    p.write_text(json.dumps(run("clean", 0.1, 11.0)))
    # clean prior + degraded new: divert
    assert _divert_if_worse_conditioned(
        str(p), run("degraded", 2.0, 10.0)
    ) == str(tmp_path / "bench_r99_degraded.json")
    # a SECOND diverted rerun takes an attempt counter, never silently
    # overwriting the first diverted artifact (ADVICE r15)
    (tmp_path / "bench_r99_degraded.json").write_text("{}")
    assert _divert_if_worse_conditioned(
        str(p), run("degraded", 2.0, 10.0)
    ) == str(tmp_path / "bench_r99_degraded2.json")
    # clean prior + clean new: write through (fresher clean run wins)
    assert _divert_if_worse_conditioned(str(p), run("clean", 0.5)) == str(p)
    # degraded prior 1.76% steal: a WORSE degraded run (2.73%) diverts,
    # a better one (0.5%) and a clean one write through (counter skips
    # only files that EXIST — _degraded2 was returned but never written)
    p.write_text(json.dumps(run("degraded", 1.76, 10.0)))
    assert _divert_if_worse_conditioned(
        str(p), run("degraded", 2.73, 10.0)
    ) == str(tmp_path / "bench_r99_degraded2.json")
    assert _divert_if_worse_conditioned(
        str(p), run("degraded", 0.5, 10.0)
    ) == str(p)
    assert _divert_if_worse_conditioned(str(p), run("clean", 0.2)) == str(p)
    # legacy prior with NO health key = unknown-conditioned: stays
    # replaceable even by a degraded run (explicit ADVICE r15 decision)
    p.write_text(json.dumps({"value": 1.0}))
    assert _divert_if_worse_conditioned(
        str(p), run("degraded", 2.0, 10.0)
    ) == str(p)


def test_bench_stdout_line_anchors_prev_round_queries(tmp_path):
    """r15 verdict task 3b: the budgeted stdout line's slowest-first
    fill made PERF blind to wins — a query that sped up fell off the
    line and was filed "dropped_from_bench" (12 phantom drops in r15).
    The anchor helper must return exactly the PREVIOUS round's
    parsed-line names so they print first."""
    import json

    from bench import _prev_round_stdout_queries

    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"parsed": {"queries": {"old_q": 1.0}}})
    )
    (tmp_path / "BENCH_r15.json").write_text(
        json.dumps({"parsed": {"queries": {"q_a": 2.0, "q_b": 0.5}}})
    )
    # latest round BELOW the current one wins
    assert _prev_round_stdout_queries(str(tmp_path), "16") == {"q_a", "q_b"}
    # current-or-later artifacts are ignored (never anchor on self)
    (tmp_path / "BENCH_r16.json").write_text(
        json.dumps({"parsed": {"queries": {"self_q": 1.0}}})
    )
    assert _prev_round_stdout_queries(str(tmp_path), "16") == {"q_a", "q_b"}
    # unparseable prev degrades to no anchors, never raises
    (tmp_path / "BENCH_r15.json").write_text("not json")
    assert _prev_round_stdout_queries(str(tmp_path), "16") == set()


def test_bench_badness_orders_unknown_steal_worst():
    """ADVICE r14: a pass with no steal sample is UNKNOWN, not
    0%-steal — in the both-degraded tie-break it must lose to any
    measured steal, and the DRAM stream rate breaks remaining ties."""
    from bench import _badness

    def mm(steal, gbps, verdict="degraded"):
        extra = {"health": {"verdict": verdict, "reasons": []}}
        if steal is not None:
            extra["cpu_steal_pct"] = steal
        if gbps is not None:
            extra["mem_stream_gbps_start"] = gbps
            extra["mem_stream_gbps_end"] = gbps
        return extra

    # the REAL module-level function (ADVICE r15: no source-grep pins,
    # no re-implementation): degraded flag, then steal (None sorts
    # worst), then -min(gbps)
    assert _badness(mm(5.0, 10.0)) < _badness(mm(None, 10.0))
    assert _badness(mm(2.0, 11.0)) < _badness(mm(2.0, 3.0))
    assert _badness(mm(0.1, 11.0, "clean")) < _badness(mm(0.0, 11.0))
    # no-health-key legacy artifact = unknown: loses to any measured
    # run, clean or degraded-with-samples
    assert _badness(mm(0.1, 11.0, "clean")) < _badness({})
    assert _badness(mm(2.0, 10.0)) < _badness({})


def test_bench_accounting_is_a_partition():
    """No query silently falls through the bench: the tracked set is
    exactly the registry minus the queries declared ``unbenched``, and
    every such declaration carries a written reason. (kmeans_wssse was
    once listed for the bench but never run; with bench membership on
    each query's own @query record there is no second list to drift.)"""
    from kmeans_mapreduce_spark.queries import bench_tracked_queries, registry

    reg = registry()
    unbenched = {n for n, q in reg.items() if q.unbenched is not None}
    assert set(bench_tracked_queries()) == set(reg) - unbenched
    empty = [n for n in unbenched if not reg[n].unbenched.strip()]
    assert not empty, f"empty reasons: {empty}"


def test_query_registers_each_name_once_and_keeps_the_builder():
    """@query refuses a second registration of a name, and returns the
    builder itself: every registry entry is the plain module-level
    function (no wrapper), so direct ``X.q_*`` calls and attribute
    patching see the same object the registry serves."""
    import sys

    from kmeans_mapreduce_spark import queries as Q

    reg = Q.registry()

    def q_points_source(spark, sf_dir):
        raise AssertionError("never built")

    with pytest.raises(ValueError, match="points_source"):
        Q.query(twin=lambda: "SELECT 1")(q_points_source)
    assert Q.registry()["points_source"].build is Q.q_points_source
    assert len(Q.registry()) == len(reg)
    for name, q in reg.items():
        assert name == q.build.__name__[2:]
        assert getattr(sys.modules[q.build.__module__], q.build.__name__) is q.build
        assert q.build.__code__.co_name == q.build.__name__, name


def test_driver_window_samples_every_family():
    """The grading driver verifies only the first 50 queries() entries;
    that prefix must (a) exactly realize DRIVER_WINDOW_QUERIES — every
    listed name registered, no typos silently shrinking the window —
    and (b) keep one representative of each operator family inside the
    window, with all but the declared rows-only queries oracle-gated."""
    import __spark_entry__ as entry
    from kmeans_mapreduce_spark.queries import DRIVER_WINDOW_QUERIES

    q, o = entry.queries(), entry.oracle_sql()
    assert len(DRIVER_WINDOW_QUERIES) == 50
    missing = [n for n in DRIVER_WINDOW_QUERIES if n not in q]
    assert not missing, f"window names not registered: {missing}"
    first50 = list(q)[:50]
    assert first50 == DRIVER_WINDOW_QUERIES

    # round-12 rotation: representatives follow the rotated window —
    # anchors where the family keeps one, a growth or canary pick
    # otherwise
    families = {
        "core-loop": "kmeans_fit_fixed",
        "minhash-lsh": "dedup_minhash_pairs",
        "semantic-dedup": "dedup_semantic_trained",
        "ivf-ann": "similarity_ann_ivf",
        "pq-ann": "similarity_ann_pq_rerank_trained",
        "trained-serving": "similarity_ann_ivf_trained",
        "hybrid-rrf": "similarity_hybrid_rrf",
        "multimodal": "multimodal_meta",
        "multimodal-video": "multimodal_mjpeg",
        "multimodal-audio": "multimodal_audio",
        "text": "text_quality",
        "url-dedup": "corpus_url_dedup",
        "sampling": "corpus_temperature_mix",
        "embeddings-quant": "embeddings_binary_quant",
        "events": "events_exact_quantiles",
        "time-travel": "table_time_travel",
        "streaming": "events_stream_replay",
        "streaming-stateful": "events_stream_native_dedup_replay",
        # round-13 promotions + growth (kept one more round)
        "free-fit-gate": "kmeans_fit",
        "nd-free-fit-gate": "kmeans_nd_fit",
        "pca-gate": "embeddings_pca",
        "streaming-tws": "events_stream_ttl_dedup_tws_replay",
        "line-dedup": "corpus_line_dedup",
        "q2-join": "join_min_cost_supplier",
        "anomaly": "events_anomaly_mad",
        "observe": "events_observed_metrics",
        # round-14 growth (gated from this round)
        "image-near-dup": "multimodal_phash_pairs",
        "audio-near-dup": "multimodal_afp_pairs",
        "video-near-dup": "multimodal_video_phash",
        "image-dedup-funnel": "pipeline_image_dedup",
        "q21-join": "join_waiting_suppliers",
        "q20-join": "join_excess_stock",
        "q13-join": "join_custdist",
        "q15-join": "join_top_revenue_supplier",
        "q16-join": "join_supplier_cnt",
        "streaming-outer-join": "events_stream_join_outer_replay",
    }
    for fam, name in families.items():
        assert name in first50, f"family {fam} missing from driver window"
        assert name in o, f"family {fam} representative lost its oracle"


def test_tracked_replays_record_progress_split():
    """Every streaming replay in the registry, bench-tracked or not, is
    declared in replays.py and records its micro-batch progress into
    replays.REPLAY_PROGRESS under its own registry name (r12 verdict
    task 2: the bench derives the setup-vs-compute split from it — a
    replay that skips the instrumentation would silently re-distort the
    headline total with setup wall)."""
    import inspect
    import re

    from kmeans_mapreduce_spark import replays as R
    from kmeans_mapreduce_spark.queries import bench_tracked_queries, registry

    reg = {n: q.build for n, q in registry().items() if n.endswith("_replay")}
    assert any(n in reg for n in bench_tracked_queries()), (
        "replay split exists because replays are benched"
    )
    # both harness entry points wait through the one step that records
    for entry in (R._drain_bounded_replay, R._maintain_replay):
        assert "_await_replay(" in inspect.getsource(entry), entry
    assert "_record_replay_progress(name, q)" in inspect.getsource(
        R._await_replay
    )
    for n, build in reg.items():
        assert build.__module__ == R.__name__, f"{n} is not declared in replays.py"
        # the harness call carries the registry name as a literal, not
        # a diverging alias
        call = (
            r"(_drain_bounded_replay|_maintain_replay)\("
            rf'(?:[^()]|\([^()]*\))*?"{n}"'
        )
        assert re.search(call, inspect.getsource(build)), (
            f"{n} never records its replay progress under its own name"
        )


def test_replay_progress_populated_by_cheapest_tracked_replay(spark):
    """Runtime half of the split contract: running a tracked replay
    leaves a well-formed progress record behind."""
    from kmeans_mapreduce_spark import replays as R

    R.REPLAY_PROGRESS.pop("events_stream_enrich_replay", None)
    df = R.q_events_stream_enrich_replay(spark, SF)
    assert df.count() >= 0
    p = R.REPLAY_PROGRESS["events_stream_enrich_replay"]
    assert set(p) == {
        "n_batches", "n_data_batches", "trigger_exec_ms", "add_batch_ms",
    }
    assert p["n_batches"] >= 1
    assert p["n_data_batches"] >= 1
    assert p["trigger_exec_ms"] > 0


@pytest.mark.parametrize("name", _registry())
def test_query_executes(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF)
    cols = df.columns
    assert cols, name
    df.limit(5).collect()  # any runtime break surfaces here
