"""Traced runs: spans recorded around calls into the engine's layers, and
Spark's own event log read back into per-layer metrics.

Spans are taken from outside the program. The harness wraps each op, the
registry call and the sink action of a query, and every ``lloyd_step*``
call of a fit; barrier calls are counted by wrapping ``narrow_barrier``
under every module name it is imported as. Each op runs under its own
``setJobGroup``, which names the op for the jobs Spark submits from the
calling thread. Streaming jobs carry Spark's run id instead, so they go to
the op whose span was open when they were submitted (ops run one at a
time); jobs go to an op's sub-spans (build, exec, step) the same way.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import glob
import json
import os
import re
import sys
import time
from collections.abc import Callable, Iterator

# Event-log settings, applied as JVM system properties so that the next
# SparkContext picks them up without any change to the session factory.
# Uncompressed, because the default codec (zstd) has no stdlib reader.
EVENT_LOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logBlockUpdates.enabled": "true",
}

# Physical nodes that hand rows to Python workers (ROADMAP item 1: the
# boundary the JVM's CPU counter cannot see).
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


@dataclasses.dataclass
class Span:
    op: int
    kind: str  # "op", "build", "exec", "step", "barrier"
    start_ms: float
    end_ms: float

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Spans:
    """In-memory span log of one traced loop. ``op`` is the index of the op
    being run; spans opened while it is set belong to that op."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, kind: str) -> Iterator[None]:
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.items.append(Span(self.op, kind, start, time.time() * 1000.0))

    def mark(self, kind: str) -> None:
        now = time.time() * 1000.0
        self.items.append(Span(self.op, kind, now, now))

    def of(self, op: int, kind: str) -> list[Span]:
        return [s for s in self.items if s.op == op and s.kind == kind]


def _wrap(fn: Callable, on_call: Callable[[], contextlib.AbstractContextManager]) -> Callable:
    def wrapper(*args, **kwargs):
        with on_call():
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def instrument(spans: Spans) -> Iterator[None]:
    """Record a ``step`` span per Lloyd step and a ``barrier`` mark per
    barrier call while the block runs; restore every name afterwards."""
    from kmeans_mapreduce_spark import barrier
    from kmeans_mapreduce_spark.operators import kmeans

    patched: list[tuple[object, str, object]] = []

    def patch(module: object, name: str, new: object) -> None:
        patched.append((module, name, getattr(module, name)))
        setattr(module, name, new)

    for name in ("lloyd_step", "lloyd_step_arrow", "lloyd_step_sql"):
        patch(kmeans, name, _wrap(getattr(kmeans, name), lambda: spans.span("step")))

    original = barrier.narrow_barrier

    def counted(df):
        spans.mark("barrier")
        return original(df)

    # narrow_barrier is imported by name into many modules; a wrapper on
    # the barrier module alone would see none of their calls.
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("kmeans_mapreduce_spark") and (
            getattr(mod, "narrow_barrier", None) is original
        ):
            patch(mod, "narrow_barrier", counted)
    try:
        yield
    finally:
        for module, name, old in reversed(patched):
            setattr(module, name, old)


def set_event_log(jvm, directory: str | None) -> None:
    """Turn the event log on (into ``directory``) or off for SparkContexts
    created after this call in the running JVM."""
    system = jvm.java.lang.System
    if directory is None:
        for key in (*EVENT_LOG_PROPS, "spark.eventLog.dir"):
            system.clearProperty(key)
        return
    for key, value in EVENT_LOG_PROPS.items():
        system.setProperty(key, value)
    system.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(directory))


@dataclasses.dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = dataclasses.field(default_factory=list)


@dataclasses.dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    python: bool = False


@dataclasses.dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]
    block_bytes_by_job: dict[int, int]  # RDD blocks stored while a job ran
    progress: list[dict]  # StreamingQueryProgress JSON, in log order


def read_event_log(directory: str) -> EventLog:
    """Parse the one uncompressed event log file in ``directory``."""
    files = [p for p in glob.glob(os.path.join(directory, "*")) if not p.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    blocks: dict[int, int] = {}
    progress: list[dict] = []
    last_job = -1
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                last_job = ev["Job ID"]
                jobs[last_job] = Job(
                    last_job,
                    (ev.get("Properties") or {}).get("spark.jobGroup.id", ""),
                    ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                totals = stages.setdefault(info["Stage ID"], StageTotals())
                for rdd in info.get("RDD Info", []):
                    scope = json.loads(rdd.get("Scope") or "{}")
                    if PYTHON_NODE.search(scope.get("name", "")):
                        totals.python = True
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], StageTotals()), ev)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                if info["Block ID"].startswith("rdd_") and last_job >= 0:
                    size = info["Memory Size"] + info["Disk Size"]
                    blocks[last_job] = blocks.get(last_job, 0) + size
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                progress.append(ev["progress"])
    return EventLog(jobs, stages, blocks, progress)


def _add_task(t: StageTotals, ev: dict) -> None:
    t.tasks += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        t.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    t.run_ms += m.get("Executor Run Time", 0)
    t.cpu_ns += m.get("Executor CPU Time", 0)
    t.gc_ms += m.get("JVM GC Time", 0)
    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    t.input_rows += inp.get("Records Read", 0)
    t.input_bytes += inp.get("Bytes Read", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    t.fetch_wait_ms += rd.get("Fetch Wait Time", 0)
    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def _iso_ms(stamp: str) -> float:
    return datetime.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals, in seconds."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def _inside(t: float, spans: list[Span]) -> bool:
    return any(s.start_ms <= t <= s.end_ms for s in spans)


def layer_metrics(log: EventLog, spans: Spans, group_of: Callable[[int], str], cores: int) -> dict[str, float]:
    """Per-op layer metrics of one traced loop, averaged over its ops.

    ``kmeans.*`` step figures are per step, ``kmeans.steps``/``prep_s``
    per fit, ``streaming.*`` per op that ran a streaming query; every
    other figure is per op. A layer the workload never enters reads 0.
    """
    ops = [s for s in spans.items if s.kind == "op"]
    by_group = {group_of(s.op): s.op for s in ops}
    jobs_of: dict[int, list[Job]] = {s.op: [] for s in ops}
    for job in log.jobs.values():
        op = by_group.get(job.group)
        if op is None:
            op = next((s.op for s in ops if s.start_ms <= job.submit_ms <= s.end_ms), None)
        if op is not None:
            jobs_of[op].append(job)

    tot: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        tot[key] = tot.get(key, 0.0) + value

    n_steps = n_fits = n_stream_ops = 0
    for op_span in ops:
        op = op_span.op
        jobs = jobs_of[op]
        # a job also lists the stages it skipped; count those that ran tasks
        ran = [log.stages[i] for j in jobs for i in j.stages if i in log.stages and log.stages[i].tasks]
        in_job = _union_s([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms])
        add("spark.jobs", len(jobs))
        add("spark.stages", len(ran))
        add("spark.tasks", sum(s.tasks for s in ran))
        add("spark.failed_tasks", sum(s.failed_tasks for s in ran))
        add("spark.in_job_s", in_job)
        add("spark.driver_gap_s", op_span.wall_s - in_job)
        add("spark.executor_run_s", sum(s.run_ms for s in ran) / 1000.0)
        add("spark.executor_cpu_s", sum(s.cpu_ns for s in ran) / 1e9)
        add("spark.gc_s", sum(s.gc_ms for s in ran) / 1000.0)
        add("spark.shuffle_write_bytes", sum(s.shuffle_write_bytes for s in ran))
        add("spark.shuffle_read_bytes", sum(s.shuffle_read_bytes for s in ran))
        add("spark.fetch_wait_s", sum(s.fetch_wait_ms for s in ran) / 1000.0)
        add("spark.spill_bytes", sum(s.spill_bytes for s in ran))
        add("sources.input_rows", sum(s.input_rows for s in ran))
        add("sources.input_bytes", sum(s.input_bytes for s in ran))
        py = [s for s in ran if s.python]
        add("functions.python_stages", len(py))
        add("functions.python_s", sum(s.run_ms - s.cpu_ns / 1e6 - s.gc_ms for s in py) / 1000.0)
        add("barrier.materializations", len(spans.of(op, "barrier")))
        add("barrier.bytes", sum(log.block_bytes_by_job.get(j.job_id, 0) for j in jobs))

        for kind in ("build", "exec"):
            sub = spans.of(op, kind)
            add(f"queries.{kind}_s", sum(s.wall_s for s in sub))
            add(f"queries.{kind}_jobs", sum(1 for j in jobs if _inside(j.submit_ms, sub)))

        steps = spans.of(op, "step")
        if steps:
            n_fits += 1
            n_steps += len(steps)
            step_jobs = [j for j in jobs if _inside(j.submit_ms, steps)]
            step_in_job = _union_s([(j.submit_ms, j.end_ms) for j in step_jobs if j.end_ms])
            step_wall = sum(s.wall_s for s in steps)
            add("kmeans.steps", len(steps))
            add("kmeans.jobs_per_step", len(step_jobs))
            add("kmeans.step_s", step_wall)
            add("kmeans.step_exec_s", step_in_job)
            add("kmeans.step_driver_s", step_wall - step_in_job)
            add("kmeans.prep_s", op_span.wall_s - step_wall)

        prog = [p for p in log.progress if op_span.start_ms <= _iso_ms(p["timestamp"]) <= op_span.end_ms]
        if prog:
            n_stream_ops += 1
            trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000.0
            state = [p.get("stateOperators") or [] for p in prog]
            build = sum(s.wall_s for s in spans.of(op, "build")) or op_span.wall_s
            add("streaming.batches", len(prog))
            add("streaming.data_batches", sum(1 for p in prog if any(src.get("numInputRows") for src in p["sources"])))
            add("streaming.trigger_exec_s", trigger)
            add("streaming.setup_s", build - trigger)
            # commit time is summed over state-store instances by Spark;
            # rows and memory are the largest state any batch left behind
            add("streaming.state_commit_s", sum(o["commitTimeMs"] for batch in state for o in batch) / 1000.0)
            add("streaming.state_rows", max(sum(o["numRowsTotal"] for o in batch) for batch in state))
            add("streaming.state_mem_bytes", max(sum(o["memoryUsedBytes"] for o in batch) for batch in state))

    n_ops = max(len(ops), 1)
    out: dict[str, float] = {}
    for key, value in tot.items():
        layer = key.split(".")[0]
        if layer == "kmeans":
            denom = n_fits if key in ("kmeans.steps", "kmeans.prep_s") else n_steps
        elif layer == "streaming":
            denom = n_stream_ops
        else:
            denom = n_ops
        out[key] = value / max(denom, 1)
    in_job = tot.get("spark.in_job_s", 0.0)
    out["spark.slot_util"] = tot.get("spark.executor_run_s", 0.0) / (in_job * cores) if in_job else 0.0
    return out
