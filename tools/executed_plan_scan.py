"""Scan EXECUTED (post-AQE) plans of tracked queries for duplication
smells: repeated Python nodes, repeated scans of the same parquet
table, missing exchange reuse. The r15 lesson: the pre-execution
explain() understates or overstates reuse — only executedPlan tells
the truth about what ran.

Usage: python tools/executed_plan_scan.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from kmeans_mapreduce_spark import queries as Q
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("executed-plan-scan")
    registry = Q.registry()
    names = sys.argv[1:] or sorted(Q.bench_tracked_queries())
    for name in names:
        if "_stream_" in name:
            continue
        try:
            df = registry[name].build(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ep = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc!r}"[:200])
            continue
        scans = re.findall(r"FileScan parquet \[[^\]]*\][^ ]* (\S+\.parquet)", ep)
        scans += re.findall(r"Location: InMemoryFileIndex \[[^\]]*?(\w+\.parquet)", ep)
        from collections import Counter

        scan_dupes = {t: c for t, c in Counter(scans).items() if c > 1}
        smells = {
            "PyGroups": ep.count("FlatMapGroupsInPandas"),
            "PyMapArrow": ep.count("MapInPandas") + ep.count("MapInArrow"),
            "PyEval": ep.count("BatchEvalPython") + ep.count("ArrowEvalPython"),
            "SMJ": ep.count("SortMergeJoin"),
            "SortAgg": ep.count("SortAggregate"),
            "Reused": ep.count("ReusedExchange"),
            "Exch": ep.count("Exchange") - ep.count("BroadcastExchange") - ep.count("ReusedExchange"),
            "Bcast": ep.count("BroadcastExchange"),
            "RDDScan": ep.count("Scan ExistingRDD"),
        }
        line = " ".join(f"{k}={v}" for k, v in smells.items() if v)
        if scan_dupes:
            line += f" DUP_SCANS={scan_dupes}"
        print(f"{name}: {line}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
