"""Decompose the TWS-vs-v1 TTL-dedup gap (r13 verdict task 2).

The r13 scale probe measured the TWS API at 1.27x the v1 API at 16x
scale under a heavy-emission profile and flagged it weak pending a
decomposition: is the residual per-EMITTED-row protocol cost, or
per-INPUT-row cost in the state-server path?

Protocol: ONE synthetic input (K keys x E events/key, per-key gap
cycle [G, G, G, 4G]) replayed through both APIs at three TTLs that
leave the input untouched but move the emission fraction:

  ttl = G/2   -> every event emits        (100%)
  ttl = 2G    -> only the 4G gaps emit    (25%)
  ttl = 8G    -> only each key's first    (6.25%)

plus one 2x-INPUT leg at the mid TTL (emission fraction constant,
input doubled) to separate input-linear from emission-linear cost.
If tws/v1 grows with emission fraction at fixed input, the residual
is the per-emitted-row Arrow/protocol path (each key's output frames
its own small batch); if it grows with input at fixed fraction, it is
the per-input-row row_stream() materialization in the TWS serializer
(pyspark serializers.py: itertuples over every input row). Both are
upstream library paths — the probe pins the floor either way.

Writes tools/tws_emission_probe_r{N}.json.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd


def make_input(out_dir: str, n_keys: int, events_per_key: int, gap: int) -> int:
    rows = {"user_id": [], "event_type": [], "event_id": [], "ts": []}
    S = 1_000_000_000
    eid = 0
    base = 1_000_000
    for k in range(n_keys):
        t = base + (k % 997)  # decorrelate key phases
        for i in range(events_per_key):
            rows["user_id"].append(k)
            rows["event_type"].append("click")
            rows["event_id"].append(eid)
            rows["ts"].append(t * S)
            eid += 1
            t += 4 * gap if i % 4 == 3 else gap
    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame(rows).to_parquet(f"{out_dir}/00.parquet")
    return eid


def run_once(spark, src: str, api: str, ttl: int, wm: int, name: str):
    from kmeans_mapreduce_spark.replays import (
        ONE_BATCH,
        ROCKSDB_PROVIDER,
        _activate_pbshim,
        _await_replay,
        _scoped_conf,
        _stream,
    )
    from kmeans_mapreduce_spark.streaming import stream_ops as so

    stream = _stream(
        spark, src, "*.parquet", max_files=ONE_BATCH,
        schema="user_id LONG, event_type STRING, event_id LONG, ts LONG",
    )
    with contextlib.ExitStack() as scope:
        if api == "tws":
            scope.enter_context(_activate_pbshim(spark))
            scope.enter_context(_scoped_conf(spark, ROCKSDB_PROVIDER))
            out = so.stream_dedup_ttl_tws(stream, ttl_sec=ttl, watermark_sec=wm)
        else:
            out = so.stream_dedup_ttl(stream, ttl_sec=ttl, watermark_sec=wm)
        t0 = time.time()
        _await_replay(
            out.writeStream.format("memory").queryName(name)
            .outputMode("update").trigger(availableNow=True).start(),
            name,
            600,
        )
        wall = time.time() - t0
    n = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return wall, n


def main() -> int:
    import statistics
    import tempfile

    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("tws_probe")
    gap = 100
    wm = 600
    K, E = 20_000, 16
    root = tempfile.mkdtemp(prefix="tws_probe_")
    src1 = os.path.join(root, "in1x")
    n1 = make_input(src1, K, E, gap)
    src2 = os.path.join(root, "in2x")
    n2 = make_input(src2, 2 * K, E, gap)

    legs = [
        ("emit_100pct", src1, n1, gap // 2),
        ("emit_25pct", src1, n1, 2 * gap),
        ("emit_6pct", src1, n1, 8 * gap),
        ("emit_25pct_2x_input", src2, n2, 2 * gap),
    ]
    result = {"n_keys": K, "events_per_key": E, "gap": gap, "legs": {}}
    for leg, src, n_in, ttl in legs:
        entry = {"ttl": ttl, "n_input": n_in}
        for api in ("v1", "tws"):
            walls = []
            for rep in range(3):
                w, n_out = run_once(
                    spark, src, api, ttl, wm, f"p_{leg}_{api}_{rep}"
                )
                walls.append(round(w, 3))
            entry[api] = {
                "walls": walls,
                "median": round(statistics.median(walls), 3),
                "n_out": n_out,
            }
        entry["ratio_tws_v1"] = round(
            entry["tws"]["median"] / entry["v1"]["median"], 3
        )
        entry["emit_frac"] = round(entry["v1"]["n_out"] / n_in, 4)
        result["legs"][leg] = entry
        print(f"[probe] {leg}: {json.dumps(entry)}", file=sys.stderr)

    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(here, "tws_emission_probe_r14.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"written": out_path, "legs": {
        k: v["ratio_tws_v1"] for k, v in result["legs"].items()
    }}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
