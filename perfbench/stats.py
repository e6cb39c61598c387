"""Summary statistics and the process-tree memory sampler."""

from __future__ import annotations

import os
import statistics
import threading

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The op wall at the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it: ``(value, percentile, n)``.

    For ``n`` sorted samples that is the value at index ``n - 11``, at
    percentile ``100 * (n - 10) / n``. A percentile below the median is no
    tail, so with fewer than ``2 * TAIL_BEYOND`` samples there is none and
    this returns ``None``.
    """
    n = len(samples)
    if n < 2 * TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, that ``root`` and every descendant
    have used, counting exited children they reaped."""
    kids = _children()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of every descendant of ``root`` (not
    ``root`` itself): for the harness, the Spark driver JVM and its Python
    workers. PSS, not RSS, because Python workers are forked from one
    daemon and share most pages with it; summed RSS counts those pages
    once per worker and jumps with every fork."""
    kids = _children()
    total = 0
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMem:
    """Samples ``tree_pss_bytes`` of this process every ``interval`` seconds
    on a background thread while the ``with`` block runs; ``peak`` is the
    largest sample."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakMem:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
