"""Structured Streaming tests: the streaming operators must agree with
their batch twins on identical data (semantics parity), and the custom
stateful sessionizer must carry state across micro-batches.

Input: the driver's events table, re-written as TWO time-ordered
parquet files so ``maxFilesPerTrigger=1`` yields two micro-batches with
sessions that straddle the batch boundary.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

PBSHIM_DIR = pathlib.Path(__file__).resolve().parent.parent / "tools" / "pbshim"

from kmeans_mapreduce_spark.operators import events as ev
from kmeans_mapreduce_spark.sources.loaders import load_table
from kmeans_mapreduce_spark.streaming import stream_ops as so

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Two time-ordered parquet files → two deterministic micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    e = load_table(spark, SF, "events").withColumn(
        "ts_sec", F.expr("ts div 1000000000")
    )
    mid = e.approxQuantile("ts_sec", [0.5], 0.0)[0]
    e.filter(F.col("ts_sec") <= mid).drop("ts_sec").coalesce(1).write.parquet(
        f"{out}/f0"
    )
    e.filter(F.col("ts_sec") > mid).drop("ts_sec").coalesce(1).write.parquet(
        f"{out}/f1"
    )
    # flatten: move part files into one dir with ordered names
    import glob
    import shutil

    dest = str(tmp_path_factory.mktemp("events_flat"))
    for i, sub in enumerate(["f0", "f1"]):
        for j, p in enumerate(sorted(glob.glob(f"{out}/{sub}/part-*.parquet"))):
            shutil.copy(p, f"{dest}/{i:02d}_{j}.parquet")
    return dest


@pytest.fixture(scope="module")
def schema(spark):
    return load_table(spark, SF, "events").schema


def test_stream_window_counts_matches_batch(spark, events_dir, schema):
    stream = so.events_stream(spark, events_dir, schema)
    agg = so.stream_window_counts(stream, watermark_sec=None)
    so.run_stream_to_memory(agg, "win_counts", mode="complete")
    got = {
        (int(r["w"]["start"].timestamp()), r["event_type"]): (
            r["n_events"],
            round(r["value_sum"], 2),
        )
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in ev.window_agg(load_table(spark, SF, "events")).collect()
    }
    assert set(got) == set(want)
    assert got == want


def test_stream_scoring_stateless(spark, events_dir, schema):
    """The batch assign plan scores a streaming DataFrame unchanged."""
    from kmeans_mapreduce_spark.operators import kmeans as km

    centers = [(0, 0.0, 0.0), (1, 100.0, 100.0)]
    stream = so.events_stream(spark, events_dir, schema).select(
        F.col("value").alias("x"), (F.col("user_id") % 100).cast("double").alias("y")
    )
    scored = km.assign(stream, centers)
    so.run_stream_to_memory(scored, "scored", mode="append")
    rows = spark.table("scored").collect()
    assert len(rows) == load_table(spark, SF, "events").count()
    assert {r["cid"] for r in rows} <= {0, 1}
    assert all(r["min_d2"] >= 0 for r in rows)


def test_stream_dedup_exact_across_batches(spark, tmp_path_factory):
    import pandas as pd

    out = str(tmp_path_factory.mktemp("docs_stream"))
    # batch 0: docs 5,6 (dups); batch 1: doc 2 dups them with a SMALLER
    # id — keeper must stay first-seen (5), running min must drop to 2
    pd.DataFrame(
        {"doc_id": [5, 6], "text": ["hello world", "hello world"]}
    ).to_parquet(f"{out}/00.parquet")
    pd.DataFrame({"doc_id": [2], "text": ["hello world"]}).to_parquet(
        f"{out}/01.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    so.run_stream_to_memory(so.stream_dedup_exact(stream), "dedup_stream", "update")
    rows = spark.table("dedup_stream").collect()
    # one fp, two batches → two rows; count carries 2 → 3 across the
    # batch boundary; min_doc_id is the batching-invariant global min
    assert [
        (r["keep_doc_id"], r["min_doc_id"], r["n_copies"], r["is_new"])
        for r in sorted(rows, key=lambda r: r["n_copies"])
    ] == [(5, 5, 2, True), (5, 2, 3, False)]


def test_stream_window_counts_append_mode_drops_late(spark, tmp_path_factory):
    """Production append-mode path: 3 micro-batches, a real watermark,
    a late row behind it. The late row must be DROPPED (window [0,300)
    emits without it), closed windows must match the batch twin on the
    non-late subset, and the still-open tail window must not emit."""
    import pandas as pd

    W = ev.WINDOW_SEC  # 300
    out = str(tmp_path_factory.mktemp("late_stream"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "ts": [r[0] * S for r in rows],
                "event_type": [r[1] for r in rows],
                "value": [float(r[2]) for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # Spark propagates TWO watermarks per stateful op: eviction uses the
    # current batch's, the late-row filter uses the PREVIOUS batch's —
    # so a late row is only dropped once it arrives ≥2 batches after the
    # event that advanced the watermark past it.
    # b0: two rows in w[0,300); 1000 advances the watermark to 700
    write("00", [(10, "a", 1.0), (20, "a", 2.0), (1000, "a", 4.0)])
    # b1: evicts w[0,300) (emits WITHOUT any late row); 2500 advances
    #     the watermark to 2200
    write("01", [(1100, "a", 8.0), (2500, "a", 16.0)])
    # b2: ts=50 is LATE (late-filter watermark 700 > window end 300) →
    #     DROPPED; w[900,1200) evicts; w[3000,3300) stays open
    write("02", [(50, "a", 100.0), (3000, "a", 32.0)])

    stream = (
        spark.readStream.schema("ts LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    agg = so.stream_window_counts(stream, watermark_sec=W)
    so.run_stream_to_memory(agg, "late_win", mode="append")
    rows = spark.table("late_win").collect()
    emitted = [
        (int(r["w"]["start"].timestamp()), r["n_events"], r["value_sum"])
        for r in rows
    ]
    got = {w: (n, v) for w, n, v in emitted}
    # batch twin over the NON-LATE subset
    batch = spark.createDataFrame(
        [(10 * S, "a", 1.0), (20 * S, "a", 2.0), (1000 * S, "a", 4.0),
         (1100 * S, "a", 8.0), (2500 * S, "a", 16.0), (3000 * S, "a", 32.0)],
        "ts LONG, event_type STRING, value DOUBLE",
    )
    want = {
        r["window_start"]: (r["n_events"], r["value_sum"])
        for r in ev.window_agg(batch).collect()
    }
    # w[0,300) emitted EXACTLY once, without the late row — a dropped
    # late row can neither join the window nor re-create evicted state
    assert [e for e in emitted if e[0] == 0] == [(0, 2, 3.0)]
    assert got[900] == want[900] == (2, 12.0)
    # the tail window never closed → never emitted in append mode
    assert 3000 not in got
    # and everything that DID emit agrees with the batch twin
    assert all(got[w] == want[w] for w in got)


def test_stream_sessionize_timeout_evicts_idle_user(spark, tmp_path_factory):
    """EventTimeTimeout eviction: a user who goes quiet must have their
    open session flushed once the watermark passes last_ts + gap — not
    pinned in the state store forever."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("sess_timeout"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] * S for r in rows],
                "event_id": [r[2] for r in rows],
                "value": [float(r[3]) for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # times start at 1000 (not 0: the initial watermark is epoch 0 and
    # the late-event filter is inclusive, so ts=0 rows would be dropped)
    # b0: user 1 events at 1000,1010; user 2 at 1000. gap=60, delay=10.
    write("00", [(1, 1000, 0, 1.0), (1, 1010, 1, 2.0), (2, 1000, 2, 4.0)])
    # b1: user 2 at 6985 → closes their first session by gap; advances
    #     the watermark to 6975, far past user 1's timeout at 1070
    write("01", [(2, 6985, 3, 8.0)])
    # b2: user 3 at 7000 — the batch in which user 1's timeout fires
    #     (u2's new timeout 7045 and u3's 7060 stay above the final
    #     watermark 6990, so neither flushes — deterministic output)
    write("02", [(3, 7000, 4, 16.0)])

    stream = (
        spark.readStream.schema(
            "user_id LONG, ts LONG, event_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    sess = so.stream_sessionize(stream, gap_sec=60, watermark_sec=10)
    so.run_stream_to_memory(sess, "sess_timeout", mode="update")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): r[
            "value_sum"
        ]
        for r in spark.table("sess_timeout").collect()
    }
    assert got == {
        (1, 1000, 1010, 2): 3.0,  # flushed by timeout, not by an event
        (2, 1000, 1000, 1): 4.0,  # closed normally by the 6985 event
    }


def test_stream_sessionize_carries_state_across_batches(spark, events_dir, schema):
    stream = so.events_stream(spark, events_dir, schema)
    sess = so.stream_sessionize(stream)
    so.run_stream_to_memory(sess, "sessions", mode="update")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): round(
            r["value_sum"], 2
        )
        for r in spark.table("sessions").collect()
    }
    # batch truth: every session except each user's LAST (still open in
    # the state store when the stream drains)
    batch = ev.sessionize(load_table(spark, SF, "events")).collect()
    last_idx = {}
    for r in batch:
        last_idx[r["user_id"]] = max(
            last_idx.get(r["user_id"], -1), r["session_idx"]
        )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): r[
            "value_sum"
        ]
        for r in batch
        if r["session_idx"] != last_idx[r["user_id"]]
    }
    assert got == want
    assert len(got) > 0  # the fixture really produces closed sessions


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path_factory):
    """The cross-batch dedup state must behave identically on the
    RocksDB state-store provider — the backend a production deployment
    uses for state larger than executor heap (the docstring's scale
    claim, actually exercised)."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("docs_rocks"))
    pd.DataFrame(
        {"doc_id": [0, 1], "text": ["hello world", "hello world"]}
    ).to_parquet(f"{out}/00.parquet")
    pd.DataFrame({"doc_id": [2], "text": ["hello world"]}).to_parquet(
        f"{out}/01.parquet"
    )
    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        so.run_stream_to_memory(
            so.stream_dedup_exact(stream), "dedup_rocks", "update"
        )
        rows = spark.table("dedup_rocks").collect()
        assert [
            (r["keep_doc_id"], r["n_copies"], r["is_new"])
            for r in sorted(rows, key=lambda r: r["n_copies"])
        ] == [(0, 2, True), (0, 3, False)]
    finally:
        if prev is None:
            spark.conf.unset(prov)
        else:
            spark.conf.set(prov, prev)


def test_stream_dedup_state_survives_restart(spark, tmp_path_factory):
    """Checkpointed state must survive a full query stop/restart: the
    duplicate count continues from the persisted state store, not from
    zero — the recovery contract a production ingestion stream relies
    on."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("docs_restart"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    sink = str(tmp_path_factory.mktemp("sink")) + "/rows"

    def run_available():
        # memory sink can't recover from a checkpoint; foreachBatch +
        # parquet append is the restartable-sink shape
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        q = (
            so.stream_dedup_exact(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: two duplicate docs → state records (keep=0, n=2)
    pd.DataFrame(
        {"doc_id": [0, 1], "text": ["hello world", "hello world"]}
    ).to_parquet(f"{out}/00.parquet")
    run_available()
    first = [
        (r["keep_doc_id"], r["n_copies"], r["is_new"])
        for r in spark.read.parquet(sink).collect()
    ]
    assert first == [(0, 2, True)]

    # stop everything, add a third duplicate, restart from the SAME
    # checkpoint: count must continue 2 → 3 with the original keeper
    pd.DataFrame({"doc_id": [2], "text": ["hello world"]}).to_parquet(
        f"{out}/01.parquet"
    )
    run_available()
    rows = sorted(
        (r["keep_doc_id"], r["n_copies"], r["is_new"])
        for r in spark.read.parquet(sink).collect()
    )
    assert rows == [(0, 2, True), (0, 3, False)]  # state carried over


def test_stream_lsh_candidates_match_batch_across_batches(spark, tmp_path_factory):
    """Streaming LSH near-dup candidates must equal the batch pipeline's
    candidate set even when the colliding docs arrive in DIFFERENT
    micro-batches (the cross-batch state is the whole point)."""
    import pandas as pd

    from kmeans_mapreduce_spark.operators import dedup as dd

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (2, "the quick brown fox jumps over a lazy cat"),    # near dup
        (3, "completely different words about spark engines here"),
        (4, "der die das und der die das und der die"),
    ]
    out = str(tmp_path_factory.mktemp("lsh_stream"))
    # split so the identical pair (0,1) straddles the batch boundary
    pd.DataFrame([d for d in docs if d[0] in (0, 3)],
                 columns=["doc_id", "text"]).to_parquet(f"{out}/00.parquet")
    pd.DataFrame([d for d in docs if d[0] in (1, 2, 4)],
                 columns=["doc_id", "text"]).to_parquet(f"{out}/01.parquet")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    so.run_stream_to_memory(
        so.stream_minhash_lsh_candidates(stream), "lsh_cands", "update"
    )
    got = {
        (r["doc_a"], r["doc_b"]) for r in spark.table("lsh_cands").collect()
    }

    batch_docs = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    want = {
        (r["doc_a"], r["doc_b"])
        for r in dd.candidate_pairs(
            dd.lsh_bands_from_array(dd.minhash_signature_array(batch_docs))
        ).collect()
    }
    assert got == want
    assert (0, 1) in got  # the cross-batch identical pair was found


def test_stream_kmeans_minibatch_converges_toward_batch_centers(
    spark, tmp_path_factory
):
    """Streaming mini-batch k-means over two micro-batches of a
    well-separated 2-cluster set must land each center near its true
    cluster mean, and cut WSSSE versus the init — the model improves
    as batches flow."""
    import pandas as pd

    from kmeans_mapreduce_spark.operators import kmeans as km

    out = str(tmp_path_factory.mktemp("km_stream"))
    ckpt = str(tmp_path_factory.mktemp("km_ckpt"))
    # two tight clusters around (0,0) and (10,10), split across batches
    rows0 = [(float(i % 5) / 10, float(i % 7) / 10) for i in range(100)]
    rows0 += [(10 + float(i % 5) / 10, 10 + float(i % 7) / 10) for i in range(100)]
    rows1 = [(float(i % 3) / 10, float(i % 4) / 10) for i in range(100)]
    rows1 += [(10 + float(i % 3) / 10, 10 + float(i % 4) / 10) for i in range(100)]
    pd.DataFrame(rows0, columns=["x", "y"]).to_parquet(f"{out}/00.parquet")
    pd.DataFrame(rows1, columns=["x", "y"]).to_parquet(f"{out}/01.parquet")

    stream = (
        spark.readStream.schema("x DOUBLE, y DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    init = [(0, 2.0, 2.0), (1, 8.0, 8.0)]
    q, state = so.stream_kmeans_minibatch(stream, init, ckpt)
    q.awaitTermination()
    assert state.batches == 2
    got = {c: (x, y) for c, x, y in state.centers}
    # each center inside its cluster's bounding box, far from init
    assert 0.0 <= got[0][0] <= 0.5 and 0.0 <= got[0][1] <= 0.7
    assert 10.0 <= got[1][0] <= 10.5 and 10.0 <= got[1][1] <= 10.7

    all_pts = spark.createDataFrame(rows0 + rows1, "x DOUBLE, y DOUBLE")
    pts = all_pts.withColumn("point_id", F.monotonically_increasing_id())
    wssse_init = km.wssse(km.assign(pts, init)).collect()[0]["wssse"]
    wssse_mini = km.wssse(km.assign(pts, state.centers)).collect()[0]["wssse"]
    assert wssse_mini < wssse_init / 10


def test_stream_stream_range_join_matches_batch(spark, events_dir, schema):
    """Watermarked stream-stream self-join: purchases within 30 min of
    each click. The emitted pair set must equal the batch join on the
    same data (files are time-split, so every match's right side
    arrives in the same or a later batch than its left side and no
    on-time state is evicted early)."""
    stream = so.events_stream(spark, events_dir, schema)
    joined = so.stream_stream_range_join(
        stream, "click", "purchase", horizon_sec=1800, watermark_sec=600
    )
    so.run_stream_to_memory(joined, "ss_join", "append")
    got = {
        (r["user_id"], r["event_id"], r["l_ts_sec"], r["r_ts_sec"],
         round(r["r_value"], 2))
        for r in spark.table("ss_join").collect()
    }

    e = load_table(spark, SF, "events").withColumn(
        "ts_sec", F.expr("ts div 1000000000")
    )
    left = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_sec"
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts_sec").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    want = {
        (r["user_id"], r["event_id"], r["ts_sec"], r["r_ts"],
         round(r["r_value"], 2))
        for r in left.join(
            right,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("ts_sec"))
            & (F.col("r_ts") < F.col("ts_sec") + 1800),
        ).collect()
    }
    assert want, "fixture must produce at least one click->purchase match"
    assert got == want


def test_stream_hll_registers_match_batch(spark, events_dir, schema):
    """Streaming sketch maintenance: after draining the stream, the
    stateful register table equals the batch registers exactly (max is
    order-insensitive), so the estimates agree bit-for-bit — with
    constant state (types x 256 rows), unlike streaming dropDuplicates."""
    from kmeans_mapreduce_spark.operators import sketches as sk

    stream = so.events_stream(spark, events_dir, schema)
    so.run_stream_to_memory(
        so.stream_hll_registers(stream, "user_id", ["event_type"]),
        "hll_regs",
        "complete",
    )
    got = spark.table("hll_regs")
    want = sk.hll_registers(
        load_table(spark, SF, "events"), "user_id", ["event_type"]
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    est_stream = {
        r["event_type"]: r["est"]
        for r in sk.hll_estimate(got, ["event_type"], "est").collect()
    }
    est_batch = {
        r["event_type"]: r["est"]
        for r in sk.hll_estimate(want, ["event_type"], "est").collect()
    }
    assert est_stream == est_batch


def test_stream_static_enrich_matches_batch_join(spark, events_dir, schema):
    """Stream-static broadcast join: every streamed event picks up its
    dim attributes exactly as the batch join computes them; events
    without a dim row survive with nulls (left join)."""
    dim = (
        load_table(spark, SF, "events")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)  # half the users have a dim row
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = so.events_stream(spark, events_dir, schema)
    so.run_stream_to_memory(
        so.stream_static_enrich(stream, dim), "enriched", "append"
    )
    got = {
        (r["event_id"], r["tier"]) for r in spark.table("enriched").collect()
    }
    want = {
        (r["event_id"], r["tier"])
        for r in load_table(spark, SF, "events")
        .join(dim, "user_id", "left")
        .collect()
    }
    assert got == want
    assert any(t is None for _, t in got), "unmatched events must keep nulls"


def test_stream_stream_outer_join_emits_nulls_after_watermark(
    spark, tmp_path_factory
):
    """Left-outer stream-stream join: a click with no purchase in its
    horizon is emitted with null right columns — but only after the
    watermark proves no match can still arrive (the deferred-null
    semantics batch outer joins don't have)."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ss_outer"))
    sec = 1_000_000_000  # ns
    base = 5_000  # keep clear of epoch 0: the initial watermark's late
    # filter is inclusive and would drop ts==0 rows (see memory notes)
    # batch 0: user 1 click matched by a purchase; user 2 click never matched
    pd.DataFrame(
        {
            "event_id": [0, 1, 2],
            "ts": [base * sec, (base + 100) * sec, base * sec],
            "user_id": [1, 1, 2],
            "event_type": ["click", "purchase", "click"],
            "value": [1.0, 50.0, 1.0],
        }
    ).to_parquet(f"{out}/00.parquet")
    # batches 1-2: far-future click+purchase pairs advance BOTH branch
    # watermarks (each branch is watermarked after its type filter, so
    # only its own type moves it) past l_time + horizon, proving user
    # 2's click unmatched
    for i, t in enumerate([base + 10_000, base + 20_000], start=1):
        pd.DataFrame(
            {
                "event_id": [100 + i, 200 + i],
                "ts": [t * sec, t * sec],
                "user_id": [9, 9],
                "event_type": ["click", "purchase"],
                "value": [0.0, 0.0],
            }
        ).to_parquet(f"{out}/{i:02d}.parquet")
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    joined = so.stream_stream_range_join(
        stream, "click", "purchase", horizon_sec=1800, watermark_sec=600,
        join_type="left_outer",
    )
    so.run_stream_to_memory(joined, "ss_outer", "append")
    rows = {(r["user_id"], r["r_ts_sec"], r["r_value"])
            for r in spark.table("ss_outer").collect()}
    assert (1, 5_100, 50.0) in rows, "matched pair must still emit"
    assert (2, None, None) in rows, "unmatched click must emit nulls"


def test_stream_funnel_matches_batch_counts(spark, events_dir, schema):
    """Per-step distinct-user counts from the streamed funnel (state
    straddling the two micro-batches) must equal the batch funnel."""
    stream = so.events_stream(spark, events_dir, schema)
    out = so.stream_funnel(stream)
    so.run_stream_to_memory(out, "funnel_steps", mode="update")
    emitted = spark.sql("select * from funnel_steps").collect()
    # exactly-once per (user, step)
    seen = [(r["user_id"], r["step"]) for r in emitted]
    assert len(seen) == len(set(seen))
    got = {}
    for r in emitted:
        got[r["step"]] = got.get(r["step"], 0) + 1
    batch = {
        r["step"]: r["n_users"]
        for r in ev.funnel(load_table(spark, SF, "events")).collect()
    }
    assert got == batch


def test_stream_merge_upsert_serving_table(spark, tmp_path_factory):
    """Change stream → parquet serving table: micro-batch 2's updates
    must overwrite batch 1's rows for the same key (latest version
    wins), inserts must appear, and replaying the stream from scratch
    over the same files must converge to the same table (idempotent
    merge = exactly-once effect)."""
    import pandas as pd

    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("merge_stream")
    src = str(base / "src")
    import os

    os.makedirs(src)
    pd.DataFrame(
        {"k": [1, 2], "v": ["a", "b"], "ver": [10, 10]}
    ).to_parquet(f"{src}/00.parquet")
    pd.DataFrame(
        {"k": [2, 3], "v": ["B", "c"], "ver": [20, 20]}
    ).to_parquet(f"{src}/01.parquet")

    def run(target, ckpt):
        stream = (
            spark.readStream.schema("k LONG, v STRING, ver LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = so.stream_merge_upsert(stream, target, "k", "ver", ckpt)
        q.awaitTermination(120)
        return {
            r["k"]: (r["v"], r["ver"])
            for r in spark.read.parquet(target).collect()
        }

    t1 = str(base / "t1")
    got = run(t1, str(base / "ck1"))
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 20)}
    # fresh checkpoint, same source files -> same table (idempotent)
    got2 = run(t1, str(base / "ck2"))
    assert got2 == got


def test_stream_quality_monitor_flags_bad_batch(spark, tmp_path_factory):
    """Two micro-batches — one clean, one with planted violations —
    must each land in the audit log with their own batch counts."""
    import os

    import pandas as pd

    from kmeans_mapreduce_spark.operators import quality as qc
    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("qmon")
    src = str(base / "src")
    os.makedirs(src)
    pd.DataFrame({"k": [1, 2], "price": [10.0, 20.0]}).to_parquet(
        f"{src}/00.parquet"
    )
    pd.DataFrame(
        {"k": pd.array([3, None], dtype="Int64"), "price": [-5.0, 30.0]}
    ).to_parquet(f"{src}/01.parquet")
    stream = (
        spark.readStream.schema("k LONG, price DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    log = str(base / "log")
    q = so.stream_quality_monitor(
        stream,
        [qc.not_null("k"), qc.in_range("price", 0.0, 100.0)],
        log,
        str(base / "ck"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(log).collect()
    # 2 batches x 2 checks
    assert len(rows) == 4
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], {})[r["check"]] = r["violations"]
    batches = sorted(by_batch)
    clean, dirty = by_batch[batches[0]], by_batch[batches[1]]
    # file order = batch order with maxFilesPerTrigger=1
    assert clean == {"not_null(k)": 0, "in_range(price,0.0,100.0)": 0}
    assert dirty == {"not_null(k)": 1, "in_range(price,0.0,100.0)": 1}
    # replay (fresh checkpoint, same source) rewrites the same
    # batch_id partitions instead of appending duplicates: the audit
    # log is exactly-once under foreachBatch's at-least-once contract
    q2 = so.stream_quality_monitor(
        stream,
        [qc.not_null("k"), qc.in_range("price", 0.0, 100.0)],
        log,
        str(base / "ck_replay"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(log).count() == 4


def test_stream_logreg_sgd_reduces_log_loss(spark, tmp_path_factory):
    """Online SGD over two document micro-batches must reduce the
    model's full-data log-loss below the w=0 baseline (ln 2) — the
    model learns as batches flow, with weights on the driver."""
    import numpy as np
    import pandas as pd

    out = str(tmp_path_factory.mktemp("lr_stream"))
    ckpt = str(tmp_path_factory.mktemp("lr_ckpt"))
    # separable corpus: long diverse stopword-rich docs (label 1) vs
    # short repetitive docs (label 0), split across two files
    def doc(i, good):
        if good:
            return " ".join(f"w{i}x{j}" for j in range(60)) + " the of and to"
        return " ".join(["junk"] * 8)

    rows0 = [(i, doc(i, i % 2 == 0), "en", "s", 10) for i in range(40)]
    rows1 = [(100 + i, doc(100 + i, i % 2 == 0), "en", "s", 10) for i in range(40)]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    pd.DataFrame(rows0, columns=cols).to_parquet(f"{out}/00.parquet")
    pd.DataFrame(rows1, columns=cols).to_parquet(f"{out}/01.parquet")

    stream = (
        spark.readStream.schema(
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q, state = so.stream_logreg_sgd(stream, ckpt)
    q.awaitTermination()
    assert state.batches == 2 and state.seen == 80

    from kmeans_mapreduce_spark.operators import logreg as lg

    feats = lg.featurized(
        spark.read.parquet(out), binary=True, engineered=True
    ).collect()
    D = lg.LR_BUCKETS
    X = np.zeros((len(feats), D + lg.N_ENGINEERED))
    y = np.zeros(len(feats))
    for i, r in enumerate(feats):
        X[i, np.asarray(r["fb"], dtype=np.int64)] = 1.0
        X[i, D:] = np.asarray(r["fx"])
        y[i] = r["y"]
    z = X @ state.w + state.b
    p = 1.0 / (1.0 + np.exp(-z))
    eps = 1e-12
    loss = -np.mean(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
    assert loss < np.log(2.0) * 0.9  # well below the w=0 baseline


def test_stream_span_first_seen_across_batches(spark, tmp_path_factory):
    import pandas as pd

    from kmeans_mapreduce_spark.functions.hashing import HASH_SPACE

    out = str(tmp_path_factory.mktemp("span_stream"))
    # batch 0: doc 5 contributes spans "a b" and "c d"; batch 1: doc 2
    # repeats "a b" at pos 0 with a SMALLER doc_id — the owner must
    # drop to (2, 0) across the batch boundary, count must reach 2
    pd.DataFrame({"doc_id": [5], "text": ["a b c d"]}).to_parquet(
        f"{out}/00.parquet"
    )
    pd.DataFrame({"doc_id": [2], "text": ["a b"]}).to_parquet(
        f"{out}/01.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    so.run_stream_to_memory(
        so.stream_span_first_seen(stream, span_words=2), "span_stream", "update"
    )
    rows = spark.table("span_stream").collect()
    assert all(0 <= r["span_fp"] < HASH_SPACE for r in rows)
    folded = {}
    for r in rows:
        cur = folded.get(r["span_fp"])
        cand = (r["first_doc_id"], r["first_pos"], r["n_occurrences"])
        if cur is None:
            folded[r["span_fp"]] = cand
        else:
            folded[r["span_fp"]] = (
                *min(cur[:2], cand[:2]),
                max(cur[2], cand[2]),
            )
    # two distinct spans: "a b" owned by (2, 0) with 2 occurrences,
    # "c d" by (5, 1) with 1
    assert sorted(folded.values()) == [(2, 0, 2), (5, 1, 1)]


def test_stream_sessionize_late_events_never_overlap_emitted(spark, tmp_path_factory):
    """Review-pass regression: a late event that belongs to an
    already-emitted session is dropped (not grafted onto the open
    session, which would rewind its start across the emitted row); a
    late gap-island between the emitted and open sessions becomes its
    own closed session; a late event within a gap of the open session
    merges with a bounded rewind."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("sess_late"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] * S for r in rows],
                "event_id": [r[2] for r in rows],
                "value": [float(r[3]) for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    write("00", [(1, 1000, 0, 1.0), (1, 1010, 1, 2.0)])
    write("01", [(1, 1500, 2, 4.0)])   # closes [1000,1010], opens 1500
    write("02", [
        (1, 1005, 3, 8.0),    # stale: inside emitted session -> dropped
        (1, 1200, 4, 16.0),   # gap-island -> own closed session
        (1, 1490, 5, 32.0),   # within gap of open session -> merges
    ])
    write("03", [(1, 2000, 6, 64.0)])  # closes the merged open session

    stream = (
        spark.readStream.schema(
            "user_id LONG, ts LONG, event_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    so.run_stream_to_memory(
        so.stream_sessionize(stream, gap_sec=30), "sess_late", "update"
    )
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"], r["value_sum"])
        for r in spark.table("sess_late").collect()
    )
    assert got == [
        (1000, 1010, 2, 3.0),   # emitted before the late events arrive
        (1200, 1200, 1, 16.0),  # the island
        (1490, 1500, 2, 36.0),  # bounded rewind: start 1490, never <=1010
    ]


def test_stream_trainers_refuse_reused_checkpoint(tmp_path):
    """A checkpoint directory holding committed batches must be
    refused up front: the model state is driver-held and fresh, so
    resuming would silently skip those batches' contribution."""
    import pytest as _pytest

    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    with _pytest.raises(ValueError, match="driver-held"):
        so._require_fresh_checkpoint(str(ckpt), "stream_kmeans_minibatch")
    # a fresh dir passes silently
    so._require_fresh_checkpoint(str(tmp_path / "fresh"), "x")


def test_stream_dedup_tws_matches_applyinpandas_api(spark, tmp_path_factory):
    """Spark 4 transformWithStateInPandas variant: identical rows to
    the applyInPandasWithState form on the same 2-batch input
    (cross-batch keeper, running min, is_new transition). Skips when
    no protobuf runtime can be found (TWS's driver/worker protocol
    needs it; it is in pyspark's install_requires on real clusters)."""
    import pytest

    # Dependency: the `protobuf` runtime (imports as `google.protobuf`)
    # behind pyspark's generated StateMessage_pb2. The wheel is not
    # installed and there is no network, but the google-cloud-sdk on
    # this image bundles a pure-Python 6.32 runtime —
    # tools/pbshim/sitecustomize.py (activated for workers via
    # PYTHONPATH in tests/conftest.py) makes it importable and relaxes
    # the one-minor-behind gencode check. Activate the same shim here
    # for the driver process, then skip only if even that is absent.
    import importlib.util as _ilu

    if _ilu.find_spec("google") is None or _ilu.find_spec("google.protobuf") is None:
        import runpy

        runpy.run_path(
            str(PBSHIM_DIR / "sitecustomize.py"), run_name="pbshim"
        )
    pytest.importorskip(
        "google.protobuf",
        reason="missing wheel: protobuf (google.protobuf runtime for "
        "pyspark.sql.streaming.proto.StateMessage_pb2); not installed, "
        "no network, and no google-cloud-sdk bundled copy on this host",
    )
    import pandas as pd

    out = str(tmp_path_factory.mktemp("docs_tws"))
    pd.DataFrame(
        {"doc_id": [5, 6], "text": ["hello world", "hello world"]}
    ).to_parquet(f"{out}/00.parquet")
    pd.DataFrame({"doc_id": [2], "text": ["hello world"]}).to_parquet(
        f"{out}/01.parquet"
    )
    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        so.run_stream_to_memory(
            so.stream_dedup_exact_tws(stream), "dedup_tws", "update"
        )
    finally:
        if prev is not None:
            spark.conf.set(prov, prev)
        else:
            spark.conf.unset(prov)
    rows = spark.table("dedup_tws").collect()
    assert [
        (r["keep_doc_id"], r["min_doc_id"], r["n_copies"], r["is_new"])
        for r in sorted(rows, key=lambda r: r["n_copies"])
    ] == [(5, 5, 2, True), (5, 2, 3, False)]


def test_stream_dedup_tws_analyzes_without_protobuf(spark):
    """The TWS plan must ANALYZE (schema + API wiring) even where the
    protobuf runtime dependency is absent — only execution needs it."""
    df = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text")
    )
    out = so.stream_dedup_exact_tws(df)
    assert out.schema.simpleString() == (
        "struct<fp:bigint,keep_doc_id:bigint,min_doc_id:bigint,"
        "n_copies:bigint,is_new:boolean>"
    )
    assert out.isStreaming


def test_stream_rollup_maintain_additive_and_replay_safe(spark, tmp_path_factory):
    """Two micro-batches fold additively into the state table (groups
    merge across batches; exact cents); a fresh-checkpoint rerun over
    the same files re-delivers batches with the SAME deterministic ids,
    which the committed-batch-id guard must skip — state unchanged, no
    double counting (the additive-merge idempotence recipe)."""
    import os

    import pandas as pd

    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("rollup_stream")
    src = str(base / "src")
    os.makedirs(src)
    S = 1_000_000_000
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [100 * S, 200 * S],          # both hour 0
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "value": [1.01, 2.02],
            "props": ["", ""],
        }
    ).to_parquet(f"{src}/00.parquet")
    pd.DataFrame(
        {
            "event_id": [2, 3],
            "ts": [300 * S, 4000 * S],         # hour 0 again + hour 1
            "user_id": [3, 4],
            "event_type": ["click", "view"],
            "value": [0.97, 5.00],
            "props": ["", ""],
        }
    ).to_parquet(f"{src}/01.parquet")

    target = str(base / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(
                "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
                "value DOUBLE, props STRING"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = so.stream_rollup_maintain(stream, target, ckpt)
        q.awaitTermination(120)
        return {
            (r["event_type"], r["hour"]): (r["n_events"], r["cents_sum"])
            for r in spark.read.parquet(target).collect()
        }

    got = run(str(base / "ck1"))
    assert got == {("click", 0): (3, 400), ("view", 1): (1, 500)}
    # fresh checkpoint, same files: batch ids restart at 0 → every
    # batch is ≤ the committed max and must be skipped
    got2 = run(str(base / "ck2"))
    assert got2 == got


def test_stream_m4_maintain_merges_extrema_across_batches(
    spark, tmp_path_factory
):
    """M4 state merges across micro-batches: min/max fold, first keeps
    batch 1's earliest event, last moves to batch 2's latest; a
    fresh-checkpoint replay of the same files leaves state unchanged
    (batch-id guard)."""
    import os

    import pandas as pd

    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("m4_stream")
    src = str(base / "src")
    os.makedirs(src)
    S = 1_000_000_000
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [100 * S, 200 * S],          # hour 0
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "value": [5.00, 1.00],
            "props": ["", ""],
        }
    ).to_parquet(f"{src}/00.parquet")
    pd.DataFrame(
        {
            "event_id": [2, 3],
            "ts": [50 * S, 300 * S],           # hour 0: earlier + latest
            "user_id": [3, 4],
            "event_type": ["click", "click"],
            "value": [9.00, 3.00],
            "props": ["", ""],
        }
    ).to_parquet(f"{src}/01.parquet")

    target = str(base / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(
                "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
                "value DOUBLE, props STRING"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = so.stream_m4_maintain(stream, target, ckpt)
        q.awaitTermination(120)
        return {
            (r["event_type"], r["bucket"]): (
                r["n_events"],
                r["min_cents"],
                r["max_cents"],
                r["first_key"]["cents"],
                r["last_key"]["cents"],
            )
            for r in spark.read.parquet(target).collect()
        }

    got = run(str(base / "ckpt1"))
    # file order is lexicographic: batch 0 = 00.parquet, batch 1 = 01
    assert got == {("click", 0): (4, 100, 900, 900, 300)}
    # fresh checkpoint replays both batches with the same ids → skipped
    again = run(str(base / "ckpt2"))
    assert again == got


def test_stream_versioned_append_exactly_once(spark, tmp_path_factory):
    """Each micro-batch commits one append version; the final table
    equals the full input; a fresh-checkpoint replay re-delivers the
    same deterministic batch ids and commits NOTHING new."""
    import os

    import pandas as pd

    from kmeans_mapreduce_spark.sources.loaders import (
        read_version,
        table_history,
    )
    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("ver_stream")
    src = str(base / "src")
    os.makedirs(src)
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(
        f"{src}/00.parquet"
    )
    pd.DataFrame({"k": [3], "v": ["c"]}).to_parquet(f"{src}/01.parquet")
    target = str(base / "tbl")

    def run(ckpt):
        stream = (
            spark.readStream.schema("k LONG, v STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = so.stream_versioned_append(stream, target, ckpt)
        q.awaitTermination(120)

    run(str(base / "ckpt1"))
    rows = sorted(
        (r["k"], r["v"]) for r in read_version(spark, target).collect()
    )
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    hist = table_history(target)
    assert [h["mode"] for h in hist] == ["append", "append"]

    run(str(base / "ckpt2"))  # replay: same batch ids → all skipped
    assert table_history(target) == hist
    rows2 = sorted(
        (r["k"], r["v"]) for r in read_version(spark, target).collect()
    )
    assert rows2 == rows


def test_stream_versioned_append_guard_survives_vacuum(
    spark, tmp_path_factory
):
    """The exactly-once guard must hold even after vacuum prunes every
    manifest carrying a batch_id: interleaved non-stream commits push
    the stream's manifests past keep_last, retention sweeps them, and a
    fresh-checkpoint replay would re-commit duplicates if the
    high-water mark lived only in the manifests. The _stream_hwm
    sidecar (which vacuum never touches) is the guard of record."""
    import os

    import pandas as pd

    from kmeans_mapreduce_spark.sources.loaders import (
        commit_version,
        read_version,
        vacuum_versions,
    )
    from kmeans_mapreduce_spark.streaming import stream_ops as so

    base = tmp_path_factory.mktemp("ver_stream_vac")
    src = str(base / "src")
    os.makedirs(src)
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(
        f"{src}/00.parquet"
    )
    pd.DataFrame({"k": [3], "v": ["c"]}).to_parquet(f"{src}/01.parquet")
    target = str(base / "tbl")

    def run(ckpt):
        stream = (
            spark.readStream.schema("k LONG, v STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = so.stream_versioned_append(stream, target, ckpt)
        q.awaitTermination(120)

    run(str(base / "ckpt1"))
    # two interleaved NON-stream commits (no batch_id), then vacuum
    # keep_last=2: both batch_id-bearing manifests are pruned
    extra = spark.createDataFrame([(9, "z")], "k LONG, v STRING")
    commit_version(spark, target, extra, mode="append")
    commit_version(spark, target, extra, mode="append")
    vacuum_versions(target, keep_last=2, orphan_min_age_sec=0.0)
    assert not os.path.exists(os.path.join(target, "_log", "0.json"))
    assert not os.path.exists(os.path.join(target, "_log", "1.json"))

    before = sorted(
        (r["k"], r["v"]) for r in read_version(spark, target).collect()
    )
    run(str(base / "ckpt2"))  # checkpoint reset → replays batches 0, 1
    after = sorted(
        (r["k"], r["v"]) for r in read_version(spark, target).collect()
    )
    assert after == before  # no duplicate re-commits


def test_stream_sessionize_tws_matches_v1_api(spark, tmp_path_factory):
    """Spark 4 transformWithStateInPandas sessionizer with PER-KEY
    EVENT-TIME TIMERS: identical closed-session rows to the
    applyInPandasWithState form on the same 3-batch input — including
    the timer-driven idle eviction (user 1 flushes when the watermark
    passes last+gap, exactly like v1's EventTimeTimeout). The fold is
    one shared function so only the timer/state plumbing is under
    test. Skips when no protobuf runtime can be found."""
    import importlib.util as _ilu

    if _ilu.find_spec("google") is None or _ilu.find_spec("google.protobuf") is None:
        import runpy

        runpy.run_path(str(PBSHIM_DIR / "sitecustomize.py"), run_name="pbshim")
    pytest.importorskip(
        "google.protobuf",
        reason="missing wheel: protobuf (TWS driver/worker protocol)",
    )
    import pandas as pd

    out = str(tmp_path_factory.mktemp("sess_tws"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] * S for r in rows],
                "event_id": [r[2] for r in rows],
                "value": [float(r[3]) for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # same fixture as the v1 eviction test (see its comments)
    write("00", [(1, 1000, 0, 1.0), (1, 1010, 1, 2.0), (2, 1000, 2, 4.0)])
    write("01", [(2, 6985, 3, 8.0)])
    write("02", [(3, 7000, 4, 16.0)])

    def drain(build, name):
        stream = (
            spark.readStream.schema(
                "user_id LONG, ts LONG, event_id LONG, value DOUBLE"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        so.run_stream_to_memory(
            build(stream, gap_sec=60, watermark_sec=10), name, "update"
        )
        return {
            (
                r["user_id"], r["session_start"], r["session_end"],
                r["n_events"],
            ): r["value_sum"]
            for r in spark.table(name).collect()
        }

    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        tws = drain(so.stream_sessionize_tws, "sess_tws")
        v1 = drain(so.stream_sessionize, "sess_tws_v1")
    finally:
        if prev is not None:
            spark.conf.set(prov, prev)
        else:
            spark.conf.unset(prov)
    assert tws == v1
    assert tws == {
        (1, 1000, 1010, 2): 3.0,  # flushed by the expired TIMER
        (2, 1000, 1000, 1): 4.0,  # closed normally by the 6985 event
    }


def test_stream_sessionize_tws_state_survives_restart(spark, tmp_path_factory):
    """The TWS sessionizer's ValueState AND registered timers must
    survive a full stop/restart from the checkpoint: an open session
    started before the restart closes correctly after it (state
    carried), and the timer-driven idle flush still fires for a user
    whose events all predate the restart (timers carried). Skips when
    no protobuf runtime can be found."""
    import importlib.util as _ilu

    if _ilu.find_spec("google") is None or _ilu.find_spec("google.protobuf") is None:
        import runpy

        runpy.run_path(str(PBSHIM_DIR / "sitecustomize.py"), run_name="pbshim")
    pytest.importorskip("google.protobuf")
    import pandas as pd

    out = str(tmp_path_factory.mktemp("sess_tws_restart"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_tws"))
    sink = str(tmp_path_factory.mktemp("sink_tws")) + "/rows"
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] * S for r in rows],
                "event_id": [r[2] for r in rows],
                "value": [float(r[3]) for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    def run_available():
        stream = (
            spark.readStream.schema(
                "user_id LONG, ts LONG, event_id LONG, value DOUBLE"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        q = (
            so.stream_sessionize_tws(stream, gap_sec=60, watermark_sec=10)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        # run 1: users 1 and 2 open sessions; nothing closes
        write("00", [(1, 1000, 0, 1.0), (1, 1010, 1, 2.0), (2, 1000, 2, 4.0)])
        run_available()
        out_schema = (
            "user_id BIGINT, session_start BIGINT, session_end BIGINT, "
            "n_events BIGINT, value_sum DOUBLE"
        )
        # foreachBatch writes schema-only part files for empty batches;
        # the contract is zero ROWS closed before the restart
        assert spark.read.schema(out_schema).parquet(sink).count() == 0

        # restart: user 2's late event extends their session then a far
        # event closes it (STATE carried across restart), and the
        # watermark advance fires user 1's idle TIMER (timer carried)
        write("01", [(2, 1020, 3, 8.0)])
        write("02", [(2, 6985, 4, 16.0), (3, 7000, 5, 32.0)])
        run_available()
        got = {
            (
                r["user_id"], r["session_start"], r["session_end"],
                r["n_events"],
            ): r["value_sum"]
            for r in spark.read.parquet(sink).collect()
        }
        assert got == {
            (1, 1000, 1010, 2): 3.0,   # timer flush, pre-restart state
            (2, 1000, 1020, 2): 12.0,  # closed by the 6985 event
        }
    finally:
        if prev is not None:
            spark.conf.set(prov, prev)
        else:
            spark.conf.unset(prov)


def test_stream_dedup_ttl_suppresses_and_reemits(spark, tmp_path_factory):
    """TTL dedup fold across batches: a repeat within the TTL is
    suppressed (but refreshes the clock — the debounce contract), a
    repeat beyond it re-emits with its gap, and keys are independent."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ttl_stream"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "event_id": [r[2] for r in rows],
                "ts": [r[3] * S for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # ttl=100. u1/click: 1000 emit, 1050 suppressed (refreshes clock),
    # 1140 suppressed (90 after 1050 — only the refresh makes this
    # suppressed, distinguishing debounce from since-last-EMIT), 1300
    # re-emits (gap 160). u1/error at 1060: independent key, emits.
    write("00", [(1, "click", 0, 1000), (1, "click", 1, 1050)])
    write("01", [(1, "click", 2, 1140), (1, "error", 3, 1060)])
    write("02", [(1, "click", 4, 1300)])

    stream = (
        spark.readStream.schema(
            "user_id LONG, event_type STRING, event_id LONG, ts LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    ded = so.stream_dedup_ttl(stream, ttl_sec=100)
    so.run_stream_to_memory(ded, "ttl_dedup", mode="update")
    got = sorted(
        (r["event_id"], r["gap_sec"]) for r in spark.table("ttl_dedup").collect()
    )
    assert got == [(0, None), (3, None), (4, 160)]


def test_stream_dedup_ttl_eviction_bounds_state(spark, tmp_path_factory):
    """EventTimeTimeout eviction: once the watermark passes
    last_seen + ttl the key's state is dropped — emission-free by
    construction (anything it could still suppress has expired), and
    the key's next event emits with gap_sec NULL exactly like a fresh
    key (that is what dropping the state means)."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ttl_evict"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "event_id": [r[2] for r in rows],
                "ts": [r[3] * S for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # ttl=100, watermark=10. b0: u1 at 1000 (timeout arms at 1100).
    # b1: u2 at 5000 advances the watermark to 4990. b2: u3 at 5010 —
    # u1 has NO data this batch, so its expired timer fires: state
    # removed, nothing emitted (a key with data in the same batch is
    # processed as data instead — API semantics). b3: u1 again at
    # 6000 → emitted as a FRESH key (gap NULL), though the true gap
    # (5000) would also have emitted.
    write("00", [(1, "click", 0, 1000)])
    write("01", [(2, "click", 1, 5000)])
    write("02", [(3, "click", 2, 5010)])
    write("03", [(1, "click", 3, 6000)])

    stream = (
        spark.readStream.schema(
            "user_id LONG, event_type STRING, event_id LONG, ts LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    ded = so.stream_dedup_ttl(stream, ttl_sec=100, watermark_sec=10)
    so.run_stream_to_memory(ded, "ttl_evict", mode="update")
    got = sorted(
        (r["event_id"], r["gap_sec"]) for r in spark.table("ttl_evict").collect()
    )
    assert got == [(0, None), (1, None), (2, None), (3, None)]


def test_stream_dedup_ttl_tws_matches_v1_api(spark, tmp_path_factory):
    """The TWS TTL-dedup (transformWithStateInPandas + per-key
    event-time timers) emits IDENTICAL rows to the v1
    applyInPandasWithState form on the same multi-batch input —
    including the timer-driven eviction (a key with no data whose
    watermark passed last_seen+ttl is dropped emission-free, so its
    next event reads gap NULL like a fresh key). The fold is one
    shared function (_ttl_fold_batch); only the timer/state plumbing
    differs, and this pins it."""
    import importlib.util as _ilu

    if _ilu.find_spec("google") is None or _ilu.find_spec("google.protobuf") is None:
        import runpy

        runpy.run_path(str(PBSHIM_DIR / "sitecustomize.py"), run_name="pbshim")
    pytest.importorskip(
        "google.protobuf",
        reason="missing wheel: protobuf (TWS driver/worker protocol)",
    )
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ttl_tws"))
    S = 1_000_000_000

    def write(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "event_id": [r[2] for r in rows],
                "ts": [r[3] * S for r in rows],
            }
        ).to_parquet(f"{out}/{name}.parquet")

    # same shape as the v1 eviction fixture: suppression + refresh in
    # batch 0, watermark advance in batch 1, data-free timer fire for
    # u1 in batch 2, fresh re-emission in batch 3
    write("00", [(1, "click", 0, 1000), (1, "click", 1, 1050)])
    write("01", [(2, "click", 2, 5000)])
    write("02", [(3, "click", 3, 5010)])
    write("03", [(1, "click", 4, 6000), (1, "click", 5, 6010)])

    def drain(build, name):
        stream = (
            spark.readStream.schema(
                "user_id LONG, event_type STRING, event_id LONG, ts LONG"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        so.run_stream_to_memory(
            build(stream, ttl_sec=100, watermark_sec=10), name, "update"
        )
        return sorted(
            (r["user_id"], r["event_type"], r["event_id"], r["ts_sec"],
             r["gap_sec"])
            for r in spark.table(name).collect()
        )

    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        tws = drain(so.stream_dedup_ttl_tws, "ttl_tws")
        v1 = drain(so.stream_dedup_ttl, "ttl_tws_v1")
    finally:
        if prev is not None:
            spark.conf.set(prov, prev)
        else:
            spark.conf.unset(prov)
    assert tws == v1
    # sorted by (user_id, ...): u1's events first, then u2, u3
    assert [(e, g) for _, _, e, _, g in tws] == [
        (0, None),   # u1: first arrival emits (1050 suppressed)
        (4, None),   # u1: evicted by the timer → fresh again
        # u1 event 5 at 6010 suppressed (gap 10 ≤ ttl 100)
        (2, None),   # u2: fresh key
        (3, None),   # u3: fresh key
    ]


def test_stream_dedup_ttl_ordered_split_equals_batch_lag(spark, tmp_path_factory):
    """The replay-gate invariant stated on stream_dedup_ttl: an
    EVENT-TIME-ORDERED multi-batch split (no row behind the watermark
    at any batch boundary, no eviction between a key's events) equals
    the batch LAG formulation row-for-row — pinned here over ~60
    pseudo-random events in 3 ordered batches with the watermark on."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ttl_split"))
    S = 1_000_000_000
    ttl = 50

    # deterministic pseudo-random events: 4 users x 2 types, times
    # spread so some gaps are < ttl (suppressed) and some > (re-emit)
    evs = []
    for i in range(60):
        u = (i * 7) % 4
        et = "click" if (i * 5) % 3 else "error"
        ts = 1000 + i * 17 + ((i * 13) % 29)
        evs.append((u, et, i, ts))
    evs.sort(key=lambda e: e[3])
    thirds = [evs[:20], evs[20:40], evs[40:]]
    for b, rows in enumerate(thirds):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "event_id": [r[2] for r in rows],
                "ts": [r[3] * S for r in rows],
            }
        ).to_parquet(f"{out}/{b:02d}.parquet")

    stream = (
        spark.readStream.schema(
            "user_id LONG, event_type STRING, event_id LONG, ts LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    ded = so.stream_dedup_ttl(stream, ttl_sec=ttl, watermark_sec=5)
    so.run_stream_to_memory(ded, "ttl_split", mode="update")
    got = sorted(
        (r["event_id"], r["gap_sec"])
        for r in spark.table("ttl_split").collect()
    )

    # batch LAG reference in pure python
    last: dict = {}
    want = []
    for u, et, eid, ts in sorted(evs, key=lambda e: (e[3], e[2])):
        prev = last.get((u, et))
        gap = None if prev is None else ts - prev
        if gap is None or gap > ttl:
            want.append((eid, gap))
        last[(u, et)] = ts
    assert got == sorted(want) and len(got) > 5


def test_stream_join_outer_replay_split_invariant(spark, tmp_path_factory):
    """The gate's determinism claim (r13 verdict task 5): the drained
    left-outer row SET is invariant to the ordered-split file count —
    2-file and 3-file event-time-ordered splits produce identical
    (matched + deferred-null) sets, because ordered batches keep every
    row ahead of the watermark and the null set is fixed by the FINAL
    watermark only."""
    from kmeans_mapreduce_spark import replays as R

    sf = "/root/testdata/sf0.001"
    got = {}
    for n_files in (2, 3):
        split = R._write_event_time_ordered_split(spark, sf, n_files=n_files)
        stream = (
            spark.readStream.schema(
                "user_id LONG, event_type STRING, event_id LONG, "
                "ts LONG, value DOUBLE"
            )
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(split)
        )
        joined = so.stream_stream_range_join(
            stream, "click", "purchase",
            horizon_sec=R.RANGE_HORIZON_SEC,
            watermark_sec=R.STREAM_WATERMARK_SEC,
            join_type="left_outer",
        )
        name = f"outer_split_{n_files}"
        so.run_stream_to_memory(joined, name, "append")
        got[n_files] = {
            tuple(r) for r in spark.table(name).select(
                "user_id", "event_id", "l_ts_sec", "r_ts_sec", "r_value"
            ).collect()
        }
    assert got[2] == got[3]
    assert any(r[3] is None for r in got[2])  # deferred nulls present
    assert any(r[3] is not None for r in got[2])  # and matches


@pytest.mark.parametrize(
    "name",
    [
        "events_stream_native_dedup_replay",
        "events_stream_join_replay",
        "events_stream_join_outer_replay",
        "events_stream_enrich_replay",
    ],
)
def test_store_bound_replays_sized_from_input(spark, monkeypatch, name):
    """The store-bound replays size their shuffle partitions from input
    bytes, which is one partition at sf0.001: every stateful operator
    reports a single shuffle partition in its progress. The enrich
    replay is stateless (broadcast stream-static join), so it reports no
    state operator and only the drain's count is checked."""
    from kmeans_mapreduce_spark import replays as R
    from kmeans_mapreduce_spark import queries

    seen = {}
    drain = R._drain_bounded_replay
    record = R._record_replay_progress

    def spy_drain(*args, **kwargs):
        seen["partitions"] = kwargs.get("shuffle_partitions")
        return drain(*args, **kwargs)

    def spy_record(qname, q):
        seen["progress"] = [p for p in q.recentProgress if p]
        record(qname, q)

    monkeypatch.setattr(R, "_drain_bounded_replay", spy_drain)
    monkeypatch.setattr(R, "_record_replay_progress", spy_record)
    df = queries.extension_queries()[name](spark, SF)
    assert df.count() > 0
    assert seen["partitions"] == 1
    ops = [o for p in seen["progress"] for o in p.get("stateOperators") or []]
    if name == "events_stream_enrich_replay":
        assert ops == []
    else:
        assert ops and all(o["numShufflePartitions"] == 1 for o in ops), ops


def test_stream_join_outer_eviction_boundary_is_strict(
    spark, tmp_path_factory
):
    """Pin the eviction boundary the twin encodes (INCLUSIVE): a left
    row whose horizon closes EXACTLY at the final watermark (l_ts +
    horizon == min-branch max ts - delay) DOES emit nulls; one second
    past the watermark does not. Crafted two-batch ordered split,
    integral seconds."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ss_outer_boundary"))
    sec = 1_000_000_000
    horizon, delay = 1800, 600
    base = 10_000
    # final watermark will be min(max click, max purchase) - delay;
    # far-future click+purchase at base+10_000 set both branch maxima
    wm_final = base + 10_000 - delay
    # click A: expiry exactly AT the watermark (must emit nulls)
    ts_a = wm_final - horizon
    # click B: expiry one second PAST the watermark (must NOT emit)
    ts_b = ts_a + 1
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [ts_a * sec, ts_b * sec],
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "value": [0.0, 0.0],
        }
    ).to_parquet(f"{out}/00.parquet")
    pd.DataFrame(
        {
            "event_id": [2, 3],
            "ts": [(base + 10_000) * sec, (base + 10_000) * sec],
            "user_id": [9, 9],
            "event_type": ["click", "purchase"],
            "value": [0.0, 0.0],
        }
    ).to_parquet(f"{out}/01.parquet")
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts LONG, user_id LONG, "
            "event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    joined = so.stream_stream_range_join(
        stream, "click", "purchase",
        horizon_sec=horizon, watermark_sec=delay,
        join_type="left_outer",
    )
    so.run_stream_to_memory(joined, "ss_outer_boundary", "append")
    nulls = {
        r["user_id"]
        for r in spark.table("ss_outer_boundary").collect()
        if r["r_ts_sec"] is None
    }
    assert 1 in nulls, "expiry AT the watermark must emit (inclusive)"
    assert 2 not in nulls, "expiry past the watermark must not emit"


def test_stream_join_outer_single_type_vintage_emits_nothing(
    spark, tmp_path_factory
):
    """The watermark-edge the twin must mirror (r14 review finding): a
    vintage with clicks but NO purchases keeps the purchase branch's
    watermark at its initial value, so the min-combined watermark never
    advances, no left row evicts, and NOTHING emits — while DuckDB's
    LEAST(NULL, x) = x would wrongly advance the twin's watermark and
    emit every expired click. Both engines must return zero rows."""
    import duckdb
    import pandas as pd

    from kmeans_mapreduce_spark import replays as R
    from kmeans_mapreduce_spark import queries

    out = str(tmp_path_factory.mktemp("ss_outer_single"))
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": pd.to_datetime([10_000, 90_000], unit="s"),
            "user_id": [1, 2],
            "event_type": ["click", "click"],
            "value": [0.0, 0.0],
        }
    ).to_parquet(f"{out}/events.parquet")
    got = R.q_events_stream_join_outer_replay(spark, out).collect()
    assert got == [], got
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS FROM '{out}/events.parquet'")
    twin = con.sql(
        queries.extension_oracle_sql()["events_stream_join_outer_replay"]
    ).fetchall()
    assert twin == [], twin


def test_memory_sink_replays_leave_no_temp_view(spark):
    """The drain drops its memory sink's temp view once the returned
    frame is analyzed, so building replays leaves no view (and none of
    its rows) registered in the session; the frames still read what was
    drained."""
    from kmeans_mapreduce_spark import queries

    def temp_views():
        return sorted(
            t.name for t in spark.catalog.listTables() if t.isTemporary
        )

    before = temp_views()
    for _ in range(2):
        for name in (
            "events_stream_native_dedup_replay",
            "events_stream_enrich_replay",
        ):
            assert queries.registry()[name].build(spark, SF).count() > 0
    assert temp_views() == before


@pytest.mark.parametrize(
    "name, prefix",
    [
        ("events_stream_rollup_replay", "rollup_state_"),
        ("events_stream_m4_replay", "m4_state_"),
    ],
)
def test_maintained_replays_remove_their_state_dir(
    spark, monkeypatch, tmp_path, name, prefix
):
    """The foreachBatch maintainers keep their state in a parquet table
    under a ``mkdtemp`` work dir; the replay materializes that small
    state and removes the dir, so repeated runs leave nothing in
    ``TMPDIR`` and the rows still equal the DuckDB twin."""
    import tempfile

    import duckdb

    from kmeans_mapreduce_spark import queries

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    q = queries.registry()[name]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS FROM '{SF}/events.parquet'")
    want = sorted(con.sql(q.twin()).fetchall())
    for _ in range(2):
        got = sorted(tuple(r) for r in q.build(spark, SF).collect())
        assert got == want
    assert tempfile.gettempdir() == str(tmp_path)
    assert not list(tmp_path.glob(f"{prefix}*"))
