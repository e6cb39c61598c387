"""Decompose the TTL-dedup replay wall: full operator vs no-op fold vs
batch-mode applyInPandas over the same 7,500 key groups.

Isolates where the per-key cost lives (r15): the state API's per-key
Arrow/protocol floor, the Python fold, or the streaming harness.

Usage: python tools/replay_floor_probe.py [partitions]
The streaming legs drain at ``partitions`` shuffle partitions, by
default the count the gated TTL replays use (the session's cores).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from pyspark.sql import functions as F

from kmeans_mapreduce_spark.session import get_spark
from kmeans_mapreduce_spark.replays import (
    ONE_BATCH,
    _drain_bounded_replay,
    _keyed_partitions,
    _stream,
)
from kmeans_mapreduce_spark.sources.loaders import normalize_events_ts, parquet_schema
from kmeans_mapreduce_spark.streaming import stream_ops as so

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    spark = get_spark("replay-floor-probe")
    raw_schema = parquet_schema(spark, f"{SF_DIR}/events.parquet")
    parts = int(sys.argv[1]) if len(sys.argv) > 1 else _keyed_partitions(spark)

    def stream():
        return _stream(spark, SF_DIR, max_files=ONE_BATCH)

    def timed(name, fn, reps=3):
        durs = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            durs.append(round(time.time() - t0, 3))
        print(f"[probe] {name}: {sorted(durs)[len(durs)//2]}s {durs}", file=sys.stderr)

    # 1. the real operator through the replay harness, by default at
    # the keyed-partition count the gated TTL replays use (per-key
    # Python work parallelizes; 8 left 24 of 32 cores idle in r16)
    timed("full_ttl_replay", lambda: _drain_bounded_replay(
        spark, so.stream_dedup_ttl(stream(), watermark_sec=600),
        "probe_full", "update",
        shuffle_partitions=parts).count())

    # 2. a no-op state fold over the same key groups (emit nothing,
    # touch no state): the state API's per-key floor
    def noop_replay():
        e = stream().select(
            "user_id", "event_type", "event_id",
            F.expr("ts div 1000000000").alias("ts_sec"))

        def fn(key, pdfs, state):
            for _ in pdfs:
                pass
            return
            yield  # make it a generator

        out = e.groupBy("user_id", "event_type").applyInPandasWithState(
            fn,
            "user_id BIGINT, event_type STRING, event_id BIGINT, "
            "ts_sec BIGINT, gap_sec BIGINT",
            "last_seen BIGINT", "update", "NoTimeout")
        _drain_bounded_replay(
            spark, out, "probe_noop", "update",
            shuffle_partitions=parts).count()

    timed("noop_state_fold", noop_replay)

    # 3. BATCH applyInPandas over the same groups with the real fold:
    # the per-key cost without the streaming/state harness
    def batch_apply():
        e = (
            spark.read.schema(raw_schema).parquet(f"{SF_DIR}/events.parquet")
        )
        e = normalize_events_ts(e).select(
            "user_id", "event_type", "event_id",
            F.expr("ts div 1000000000").alias("ts_sec"))

        def fn(key, pdf):
            out, _ = so._ttl_fold_batch(key, None, [pdf], so.TTL_DEDUP_SEC)
            return out if out is not None else pd.DataFrame(
                {"user_id": [], "event_type": [], "event_id": [],
                 "ts_sec": [], "gap_sec": []})

        e.groupBy("user_id", "event_type").applyInPandas(
            fn,
            "user_id BIGINT, event_type STRING, event_id BIGINT, "
            "ts_sec BIGINT, gap_sec BIGINT",
        ).write.format("noop").mode("overwrite").save()

    timed("batch_applyInPandas_fold", batch_apply)
    return 0


if __name__ == "__main__":
    sys.exit(main())
