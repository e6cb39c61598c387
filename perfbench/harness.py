"""One benchmark run in a pinned environment (started by ``run.py``).

A run: generate the inputs from the seed; set up a Spark session
``SETUP_REPS`` times (session start, Python worker warm-up, input load),
stopping the previous one each time; run the workload's untimed warm-up
rounds, checking their output; then run the closed loop for
``--seconds``. With ``--trace 1`` the loop runs again in a fresh
session with Spark's event log on and the layer spans recorded, followed
by the reference points (one fit on ``local[1]``, one MLlib fit).

The last stdout line is the result object; the full record, with every op
wall, the box-health stamp and the warm-up checks, is written to
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import stats, tracing
from perfbench.workloads import FitWorkload, QueryMix

WORKLOADS = {
    "fit_large": lambda: FitWorkload(
        "fit_large", 8_000_000, 16, 5,
        "executor per-row work and the cache fill dominate; above CODEGEN_MIN_ROWS",
    ),
    "query_mix": lambda: QueryMix(
        "scans, shuffles, barriers, Python/Arrow UDFs and stateful replays",
    ),
}

SETUP_REPS = 3
OUT_DIR = ".perfbench_out"

# The bounded op metric is CPU seconds, not wall: on the shared VM the
# host's CPU steal moved between 1% and 15% within an hour, and at 15% the
# query mix's op wall doubled while its CPU per op stayed put. The walls
# (``op_s_p50``, ``ops_per_s``, ``op_s_tail``) are printed and recorded.
END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}
WALL = {"op_s_p50": "s", "ops_per_s": "1/s"}

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "session.load_s": "s",
    "session.warmup_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "kmeans.steps": "count",
    "kmeans.jobs_per_step": "count",
    "kmeans.step_s": "s",
    "kmeans.step_driver_s": "s",
    "kmeans.step_exec_s": "s",
    "kmeans.prep_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "barrier.materializations": "count",
    "barrier.bytes": "bytes",
    "functions.python_s": "s",
    "functions.python_stages": "count",
    "streaming.batches": "count",
    "streaming.data_batches": "count",
    "streaming.trigger_exec_s": "s",
    "streaming.setup_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.in_job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "ref.single_core_op_s": "s",
    "ref.mllib_fit_s": "s",
    "memory.peak_mb": "MB",
    "trace.op_s_p50": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def set_up(wl, cores: int, **session_kw) -> tuple[object, dict[str, float]]:
    """Start a session, warm its Python workers and load the inputs."""
    from kmeans_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **session_kw)
    t1 = time.perf_counter()
    # The first Python UDF of a session spawns one interpreter per core.
    spark.range(512, numPartitions=cores).mapInPandas(lambda it: it, "id LONG").count()
    t2 = time.perf_counter()
    wl.load(spark)
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "worker_warm_s": t2 - t1, "load_s": t3 - t2, "wall_s": t3 - t0}


class Loop:
    """One closed loop of ops for at least ``seconds`` and at least the
    workload's ``min_passes``. A pass always completes, so every op of the
    query mix appears equally often. ``pass_means`` and ``pass_cpu`` hold
    each pass's mean op wall and CPU seconds per op; the CPU is that of this
    process and all its descendants (the driver JVM, its Python workers),
    JIT and GC threads included. Memory is sampled only in the traced loop
    (``spans`` set): the sampler thread takes the GIL from the driver-bound
    ops it would time."""

    def __init__(self, spark, wl, seconds: float, rng: random.Random, spans=None) -> None:
        self.walls: list[float] = []
        self.names: list[str] = []
        self.failed: list[str] = []
        self.pass_means: list[float] = []
        self.pass_cpu: list[float] = []
        sc = spark.sparkContext
        with stats.PeakMem() if spans is not None else contextlib.nullcontext() as mem:
            t0 = time.perf_counter()
            for done, ops in enumerate(wl.passes(rng), 1):
                first = len(self.walls)
                cpu0 = stats.tree_cpu_s(os.getpid())
                for name, op in ops:
                    gc.collect()  # free the last op's checkpoint blocks first
                    if spans is not None:
                        spans.op = len(self.names)
                        sc.setJobGroup(f"op{spans.op}", name)
                    start = time.perf_counter()
                    try:
                        with spans.span("op") if spans else contextlib.nullcontext():
                            op(spark, spans)
                    except Exception:  # an op failure is counted, not fatal
                        traceback.print_exc()
                        self.failed.append(name)
                    self.names.append(name)
                    self.walls.append(time.perf_counter() - start)
                self.pass_means.append(statistics.fmean(self.walls[first:]))
                self.pass_cpu.append((stats.tree_cpu_s(os.getpid()) - cpu0) / (len(self.walls) - first))
                if done >= wl.min_passes and time.perf_counter() - t0 >= seconds:
                    break
            self.elapsed = time.perf_counter() - t0
        self.peak_mem = mem.peak if mem else 0
        if spans is not None:
            sc.setJobGroup("", "")
        self.ok_walls = [w for n, w in zip(self.names, self.walls) if n not in self.failed]

    @property
    def op_s_p50(self) -> float:
        """The median over passes of the mean op wall of a pass: for a fit
        workload the median op wall; for the query mix it weighs every
        query equally and is not pinned to whichever query sorts into the
        middle."""
        return stats.median(self.pass_means)

    @property
    def op_cpu_s(self) -> float:
        """The median over passes of CPU seconds per op."""
        return stats.median(self.pass_cpu)


def traced(wl, cores: int, seconds: float, rng: random.Random, work: str) -> dict:
    """The traced loop in a fresh session with the event log on, after the
    same warm-up rounds as the untimed loop, so that the traced minus
    untraced median is the tracing overhead; then the MLlib reference in
    the same session (fit workloads)."""
    from pyspark import SparkContext

    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir)
    tracing.set_event_log(SparkContext._jvm, evdir)
    try:
        spark, _ = set_up(wl, cores)
        warm = wl.warmup(spark)
        spans = tracing.Spans()
        with tracing.instrument(spans):
            loop = Loop(spark, wl, seconds, rng, spans)
        mllib_s = 0.0
        if isinstance(wl, FitWorkload):
            from kmeans_mapreduce_spark.operators.mllib import fit_mllib_2d

            t0 = time.perf_counter()
            fit_mllib_2d(wl.points, k=8, max_iter=wl.max_iter, seed=wl.seed, tol=0.0)
            mllib_s = time.perf_counter() - t0
        spark.stop()
    finally:
        tracing.set_event_log(SparkContext._jvm, None)
    layers = tracing.layer_metrics(tracing.read_event_log(evdir), spans, lambda op: f"op{op}", cores)
    return {"loop": loop, "layers": layers, "mllib_s": mllib_s, "warm": warm}


def single_core_fit_s(wl) -> float:
    """One fit on ``local[1]``: the "more cores never slower" reference."""
    spark, _ = set_up(wl, 1, master="local[1]")
    try:
        t0 = time.perf_counter()
        wl.fit()
        return time.perf_counter() - t0
    finally:
        spark.stop()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import bench as box  # the repo bench's box-health stamps

    work = os.environ["PERFBENCH_WORK"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ticks0 = box._cpu_ticks()
    stamp = box._start_stamp(window_sec=0.25)
    rng = random.Random(args.seed)

    wl = WORKLOADS[args.workload]()
    wl.prepare(work, args.seed)
    log(f"{wl.name}: inputs ready ({wl.size})")

    reps: list[dict[str, float]] = []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        spark, rep = set_up(wl, cores)
        reps.append(rep)
    warm = wl.warmup(spark)
    problems = {name: p for name, _, p in warm if p}
    log(f"set-up {[round(r['wall_s'], 3) for r in reps]} s, warm-up {sum(w for _, w, _ in warm):.3f} s")

    loop = Loop(spark, wl, args.seconds, rng)
    problems.update({name: p for name, p in wl.check() if p})
    spark.stop()

    ext: dict | None = None
    if args.trace:
        ext = traced(wl, cores, args.seconds, rng, work)
        problems.update({f"traced {name}": p for name, _, p in ext["warm"] if p})
        problems.update({f"traced {name}": p for name, p in wl.check() if p})
        if isinstance(wl, FitWorkload):
            ext["single_core_s"] = single_core_fit_s(wl)

    failed_names = loop.failed + list(problems) + (ext["loop"].failed if ext else [])
    attempted = len(warm) + len(loop.walls) + (len(ext["warm"]) + len(ext["loop"].walls) if ext else 0)
    for name, p in problems.items():
        log(f"CHECK FAILED {name}: {p}")

    setup_s = statistics.median(r["wall_s"] for r in reps) + sum(w for _, w, _ in warm)
    e2e = {
        "setup_s": setup_s,
        "op_cpu_s": loop.op_cpu_s,
        "op_s_p50": loop.op_s_p50,
        "ops_per_s": len(loop.ok_walls) / loop.elapsed,
    }
    peak_mem_mb = ext["loop"].peak_mem / 2**20 if ext else None
    tail = stats.tail(loop.ok_walls)
    steal_pct = box._steal_pct(ticks0, box._cpu_ticks())
    health = box._health_verdict(
        steal_pct,
        min(stamp["mem_stream_gbps"], box._mem_stream_gbps()),
        None,
    )

    record = {
        "workload": wl.name,
        "why": wl.why,
        "size": wl.size,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "start_stamp": stamp,
        "health": health,
        "setup_reps": reps,
        "warmup": [{"op": n, "wall_s": w, "problems": p} for n, w, p in warm],
        "ops": [{"op": n, "wall_s": w} for n, w in zip(loop.names, loop.walls)],
        "pass_means": loop.pass_means,
        "pass_cpu": loop.pass_cpu,
        "steal_pct": steal_pct,
        "end_to_end": e2e,
        "peak_mem_mb": peak_mem_mb,
        "op_s_tail": tail and {"value": tail[0], "percentile": tail[1], "samples": tail[2]},
        "failed_ratio": len(failed_names) / attempted,
        "failed": failed_names,
    }
    if ext:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(ext["layers"])
        layers.update(
            {
                "session.start_s": statistics.median(r["start_s"] for r in reps),
                "session.worker_warm_s": statistics.median(r["worker_warm_s"] for r in reps),
                "session.load_s": statistics.median(r["load_s"] for r in reps),
                "session.warmup_s": sum(w for _, w, _ in warm),
                "ref.single_core_op_s": ext.get("single_core_s", 0.0),
                "ref.mllib_fit_s": ext["mllib_s"],
                "memory.peak_mb": peak_mem_mb,
                "trace.op_s_p50": ext["loop"].op_s_p50,
                "trace.overhead_s": ext["loop"].op_s_p50 - e2e["op_s_p50"],
            }
        )
        record["per_layer"] = layers
        record["traced_ops"] = [{"op": n, "wall_s": w} for n, w in zip(ext["loop"].names, ext["loop"].walls)]

    os.makedirs(OUT_DIR, exist_ok=True)
    out_path = os.path.join(OUT_DIR, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"{wl.name} seed={args.seed}: {wl.size}; closed loop, 1 client, local[{cores}]")
    print(f"  health            {health['verdict']} {health['reasons'] or ''}")
    for name, unit in {**END_TO_END, **WALL}.items():
        print(f"  {name:<17} {e2e[name]:.4f} {unit}")
    print(
        "  op_s_tail         "
        + (f"{tail[0]:.4f} s at p{tail[1]:.1f} of {tail[2]} ops" if tail
           else f"n/a: {len(loop.ok_walls)} ops, a tail needs {2 * stats.TAIL_BEYOND}")
    )
    print(f"  failed_ratio      {len(failed_names)}/{attempted} ratio")
    print(
        f"  peak_mem_mb       {peak_mem_mb:.1f} MB (traced loop)" if ext
        else "  peak_mem_mb       n/a: sampled in the traced loop, --trace 1"
    )
    if ext:
        for name, unit in PER_LAYER.items():
            print(f"  {name:<26} {record['per_layer'][name]:.6g} {unit}")
    print(f"  record            {out_path}")

    names = PER_LAYER if args.trace else END_TO_END
    values = record["per_layer"] if args.trace else e2e
    result = {
        "correct": not failed_names,
        "attempted": attempted,
        "failed": len(failed_names),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
