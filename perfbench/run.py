"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload fit_small --seed 1 --seconds 10 --trace 0

Pins the run environment, starts the harness (``perfbench/harness.py``) in
its own process group, and removes everything the run started and wrote,
except the record in ``.perfbench_out/``. Exits non-zero without a result
when the engine's sources are not in the current directory.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 170
WORK_ROOT = ".perfbench_work"
DRIVER_MEM = "4g"  # the Spark driver is the executor in local mode; 15 GB box
NEEDED = ("kmeans_mapreduce_spark/__init__.py", "bench.py", "tools/check_oracle.py")
PR_SET_CHILD_SUBREAPER = 36


def pinned_env(root: str, work: str) -> dict[str, str]:
    """The environment of every run: all cores of this box, a bounded
    driver heap, the engine importable by Python workers, and every
    temporary file under the run's work directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "checkpoints"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PERFBENCH_WORK": work,
        }
    )
    return env


def reap(pgid: int, deadline: float) -> None:
    """Kill what is left of the harness's process group and wait for every
    descendant (this process is their subreaper) until ``deadline``."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def main(argv: list[str]) -> int:
    root = os.getcwd()
    missing = [p for p in NEEDED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout of the engine; missing {missing}", file=sys.stderr)
        return 2
    # Orphaned grandchildren (the JVM, Python workers) re-parent to us, so
    # they can be waited for.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # The harness runs in its own session, so a signal to this process
    # must end the run through the cleanup below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.abspath(os.path.join(WORK_ROOT, str(os.getpid())))
    os.makedirs(work)
    child = None
    try:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.harness", *argv],
            cwd=root,
            env=pinned_env(root, work),
            start_new_session=True,
        )
        try:
            return child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 124
    finally:
        if child is not None:
            reap(child.pid, time.monotonic() + 10)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(WORK_ROOT)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
