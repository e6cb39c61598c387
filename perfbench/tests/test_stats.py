import os

from perfbench import stats


def test_no_tail_below_twenty_samples():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail([]) is None


def test_tail_leaves_ten_samples_beyond_it():
    samples = [float(i) for i in range(100)]
    value, pct, n = stats.tail(samples[::-1])
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(s > value for s in samples) == stats.TAIL_BEYOND


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct, n = stats.tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)


def test_tree_pss_counts_only_descendants():
    import subprocess
    import sys
    import time

    sleeper = "import time; time.sleep(30)"
    child = subprocess.Popen(
        [sys.executable, "-c", f"import subprocess, sys; subprocess.run([sys.executable, '-c', {sleeper!r}])"]
    )
    try:
        deadline = time.monotonic() + 10
        while not stats._children().get(child.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        (grandchild,) = stats._children()[child.pid]
        assert stats.tree_pss_bytes(child.pid) > 0
        assert stats.tree_pss_bytes(grandchild) == 0
    finally:
        subprocess.run(["pkill", "-P", str(child.pid)])
        child.kill()
        child.wait(timeout=10)


def test_tree_cpu_counts_live_and_reaped_descendants():
    import subprocess
    import sys
    import time

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = stats.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert stats.tree_cpu_s(os.getpid()) - before >= 0.45  # reaped: our cutime

    live = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)\n"])
    try:
        deadline = time.monotonic() + 10
        while stats.tree_cpu_s(os.getpid()) - before < 0.9 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert stats.tree_cpu_s(os.getpid()) - before >= 0.9
    finally:
        live.kill()
        live.wait(timeout=10)
