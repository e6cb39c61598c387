"""Capture .explain('formatted') for tracked bench queries → plans/<round>/.

Usage: python tools/capture_plans.py <round> [suffix] [query ...]
Writes plans/<round>/<query>_<suffix>.txt (suffix defaults to
``before``) for each query (default: every query in
``queries.bench_tracked_queries()``). Also prints a one-line plan-smell
summary (exchanges, join strategies, sort aggregates, python nodes) to
stderr so the round's optimization checklist can be built from it.
"""

from __future__ import annotations

import io
import os
import re
import sys
import contextlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    round_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    from kmeans_mapreduce_spark import queries as Q
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("capture-plans")
    registry = Q.registry()
    names = sys.argv[3:] or sorted(Q.bench_tracked_queries())
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_dir,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        fn = registry[name].build
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"[plans] {name}: ERROR {exc}", file=sys.stderr)
            continue
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        smells = {
            "Exchange": len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange RoundRobin|\bExchange SinglePartition", plan)),
            "BroadcastExchange": plan.count("BroadcastExchange"),
            "SMJ": plan.count("SortMergeJoin"),
            "SHJ": plan.count("ShuffledHashJoin"),
            "BHJ": plan.count("BroadcastHashJoin"),
            "NLJ": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
            "SortAgg": plan.count("SortAggregate"),
            "Sort": len(re.findall(r"^\s*(?:[:+ |-]*)Sort \(", plan, re.M)) or plan.count(") Sort\n"),
            "PyRow": plan.count("BatchEvalPython"),
            "PyArrow": plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow") + plan.count("FlatMapGroupsInPandas"),
        }
        line = " ".join(f"{k}={v}" for k, v in smells.items() if v)
        print(f"[plans] {name}: {line}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
