"""Targeted A/B timing for individual registry queries (r15).

Usage: python tools/time_queries.py [-r REPS] query [query ...]
Times each query with the noop sink (guide §1.4) over REPS runs
(default 5), reporting median / min / max wall and the median CPU
seconds of the whole process tree (this process, the driver JVM and its
Python workers; ``perfbench/stats.tree_cpu_s``) plus box-health stamps
(steal %, mem-stream GB/s) before and after, so a reading taken on a
degraded box self-identifies. Uses the same session defaults as
bench.py ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_ticks, _mem_stream_gbps, _steal_pct  # noqa: E402
from perfbench.stats import tree_cpu_s  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    from kmeans_mapreduce_spark import queries as Q
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("time-queries")
    registry = Q.registry()

    # warm JVM + python workers exactly like bench.py
    from kmeans_mapreduce_spark.sources.derive import points_2d

    points_2d(spark, SF_DIR).count()
    spark.range(512, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id LONG"
    ).count()

    out: dict[str, dict] = {}
    t0_ticks = _cpu_ticks()
    gbps0 = _mem_stream_gbps()
    for name in args:
        fn = registry[name].build
        spark.sparkContext.setJobDescription(f"time: {name}")
        durs, cpus = [], []
        for _ in range(reps):
            # release the previous rep's checkpoint blocks before
            # timing (same rationale as bench.py's timed())
            gc.collect()
            c0 = tree_cpu_s(os.getpid())
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            durs.append(round(time.time() - t0, 3))
            cpus.append(round(tree_cpu_s(os.getpid()) - c0, 2))
        out[name] = {
            "median": round(statistics.median(durs), 3),
            "min": min(durs),
            "max": max(durs),
            "reps": durs,
            "cpu_median": round(statistics.median(cpus), 2),
            "cpu_reps": cpus,
        }
        print(
            f"[time] {name}: median {out[name]['median']}s"
            f" cpu {out[name]['cpu_median']}s reps={durs}",
            file=sys.stderr,
        )
    steal = _steal_pct(t0_ticks, _cpu_ticks())
    gbps1 = _mem_stream_gbps()
    print(json.dumps({
        "sf_dir": SF_DIR,
        "steal_pct": steal,
        "mem_stream_gbps": [gbps0, gbps1],
        "queries": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
