"""A/B the bounded-replay shuffle-partition count for the TTL replays.

r16 (verdict task 1): the TTL replays' wall is per-key Python/state
work inside the stateful stage — with REPLAY_SHUFFLE_PARTITIONS=8
(r13's value, chosen when per-partition state-store INIT dominated the
join replay) only 8 of 32 cores process the ~7.5k keys. This probe
alternates partition counts inside ONE session (so a box wave hits all
arms) and reports median wall + summed triggerExecution per arm, with
health stamps. Each arm replaces ``replays._keyed_partitions``, the
function both TTL replays call for their shuffle-partition count when
they run (the session's core count otherwise).

Usage: python tools/replay_partitions_ab.py [p1 p2 ...reps-per-arm interleaved]
Default plan: 8 32 8 32 16 8 32 16.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_ticks, _mem_stream_gbps, _steal_pct  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    plan = [int(a) for a in sys.argv[1:]] or [8, 32, 8, 32, 16, 8, 32, 16]

    import kmeans_mapreduce_spark.replays as R
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("replay-partitions-ab")

    def set_parts(p: int) -> None:
        # both TTL replays pass shuffle_partitions=_keyed_partitions(spark),
        # looking the module function up at call time
        R._keyed_partitions = lambda spark: p

    # warm python workers + parquet footers like bench.py
    spark.range(
        512, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ).mapInPandas(lambda it: it, "id LONG").count()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    queries = {
        "ttl_v1": ("events_stream_ttl_dedup_replay", R.q_events_stream_ttl_dedup_replay),
        "ttl_tws": ("events_stream_ttl_dedup_tws_replay", R.q_events_stream_ttl_dedup_tws_replay),
    }
    walls: dict[str, dict[int, list[float]]] = defaultdict(lambda: defaultdict(list))
    trig: dict[str, dict[int, list[float]]] = defaultdict(lambda: defaultdict(list))
    ticks0 = _cpu_ticks()
    gbps0 = _mem_stream_gbps()
    for p in plan:
        set_parts(p)
        for qn, (name, fn) in queries.items():
            spark.sparkContext.setJobDescription(f"replay-ab {qn} p={p}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            walls[qn][p].append(round(wall, 3))
            prog = R.REPLAY_PROGRESS.get(name) or {}
            trig[qn][p].append(round(prog.get("trigger_exec_ms", 0) / 1000.0, 3))
            print(
                f"[ab] {qn} p={p}: wall {wall:.2f}s trigger "
                f"{prog.get('trigger_exec_ms', 0) / 1000.0:.2f}s",
                file=sys.stderr,
            )
    out = {
        "sf_dir": SF_DIR,
        "plan": plan,
        "steal_pct": _steal_pct(ticks0, _cpu_ticks()),
        "mem_stream_gbps": [gbps0, _mem_stream_gbps()],
        "arms": {
            qn: {
                str(p): {
                    "wall_median": round(statistics.median(walls[qn][p]), 3),
                    "walls": walls[qn][p],
                    "trigger_median": round(statistics.median(trig[qn][p]), 3),
                    "triggers": trig[qn][p],
                }
                for p in sorted(walls[qn])
            }
            for qn in walls
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
