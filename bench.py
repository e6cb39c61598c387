"""Benchmark harness — one JSON line to stdout (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Protocol per BASELINE.md §3: seeds fixed,
k-means iteration count fixed (10, tol=0 → no early exit) so runs are
comparable across rounds; B2 (MLlib KMeans, same data/k/iters) is
measured alongside as the bar our engine must stay within 2× of.

Noise protocol (round 6): every query runs ``repeat`` (default 3)
times in-session; the reported time is the MEDIAN and the ``spread``
map carries max−min per query, so cross-round comparisons
self-adjudicate — a delta smaller than the spread is run noise, not a
code regression (round 5's driver run showed 2–4× phantom regressions
in untouched code that re-measured clean warm).

Health protocol (round 14, r13 verdict task 6): the box-condition
stamps (loadavg, CPU steal, DRAM stream rate, mid-run canary) had to
be adjudicated in judge prose three rounds running; the bench now
computes the verdict itself. ``health`` in the artifact and on the
stdout line is ``degraded`` when window steal > 1%, the slower
mem-stream probe < 9.5 GB/s, or the mid-run canary drifts > 2× off
its position-0 baseline — with the tripped reasons listed. When the
START-stamp is already degraded (the box is bad before any query
runs), the bench re-measures ONCE after a cooldown and reports the
second pass, keeping the first pass's summary under
``attempts`` so the retry is auditable. ``SPARK_GRAFT_BENCH_NO_RERUN=1``
disables the retry (A/B harnesses that want exactly one pass).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

HEALTH_MAX_STEAL_PCT = 1.0
HEALTH_MIN_GBPS = 9.5
HEALTH_MAX_CANARY_DRIFT = 2.0
RERUN_COOLDOWN_SEC = 60.0


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat — r11: loadavg cannot
    see co-tenant CPU steal, which produced 2–3× phantom totals."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # sum user..steal only (fields 0-7): guest/guest_nice are
        # already accounted inside user/nice, so including them
        # double-counts guest time and understates the steal pct
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(a: tuple[int, int] | None, b: tuple[int, int] | None) -> float | None:
    if a and b and b[1] > a[1]:
        return round(100.0 * (b[0] - a[0]) / (b[1] - a[1]), 2)
    return None


def _mem_stream_gbps() -> float:
    """Effective DRAM bandwidth (round 11): the co-tenant episode that
    inflated totals 2-3x showed ~full CPU speed (cache-resident loops
    unaffected) but in-place numpy streaming collapsed from multi-GB/s
    to ~0.3 GB/s — memory-bandwidth contention is the one signal
    neither loadavg nor steal exposes. One 64 MB in-place triad
    (<0.5 s when healthy)."""
    import numpy as _np

    buf = _np.random.rand(8_000_000)  # 64 MB
    out = _np.empty_like(buf)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _np.multiply(buf, 2.0, out=out)
        best = min(best, time.perf_counter() - t0)
    return round(0.128 / best, 2)  # 64 MB read + 64 MB write


def _start_stamp(window_sec: float = 1.0) -> dict:
    """Pre-measurement box stamp: steal over a short window + DRAM
    stream rate + loadavg. Cheap (~1.5 s) and code-independent."""
    stamp: dict = {}
    try:
        stamp["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    a = _cpu_ticks()
    time.sleep(window_sec)
    stamp["steal_pct"] = _steal_pct(a, _cpu_ticks())
    stamp["mem_stream_gbps"] = _mem_stream_gbps()
    return stamp


def _health_verdict(
    steal_pct: float | None,
    gbps_min: float | None,
    canary_drift: float | None,
) -> dict:
    """The computed box-health adjudication (thresholds from three
    rounds of manual judge adjudication: clean boxes measure steal
    ≈0.02% and 10.9–11.1 GB/s; the degraded episodes measured 7–35%
    steal and sub-GB/s streaming)."""
    reasons: list[str] = []
    if steal_pct is not None and steal_pct > HEALTH_MAX_STEAL_PCT:
        reasons.append(f"cpu_steal {steal_pct}% > {HEALTH_MAX_STEAL_PCT}%")
    if gbps_min is not None and gbps_min < HEALTH_MIN_GBPS:
        reasons.append(f"mem_stream {gbps_min} GB/s < {HEALTH_MIN_GBPS}")
    if canary_drift is not None and canary_drift > HEALTH_MAX_CANARY_DRIFT:
        reasons.append(
            f"canary drift {canary_drift}x > {HEALTH_MAX_CANARY_DRIFT}x"
        )
    return {"verdict": "degraded" if reasons else "clean", "reasons": reasons}


def _measure(spark, sf_dir: str) -> dict:
    """One full measurement pass; returns the raw result maps."""
    from kmeans_mapreduce_spark.operators import kmeans as km
    from kmeans_mapreduce_spark.operators.mllib import fit_mllib_2d
    from kmeans_mapreduce_spark.sources.derive import points_2d

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    starts: dict[str, float] = {}
    bench_t0 = time.time()
    extra: dict[str, object] = {}
    # Box-load context (r9 verdict task 7): two identical-code bench
    # runs differed 115 s vs 101 s total; stamping 1/5/15-min loadavg
    # at start and end lets such divergence self-adjudicate as machine
    # load without judge archaeology.
    try:
        extra["loadavg_start"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass

    ticks_start = _cpu_ticks()
    extra["mem_stream_gbps_start"] = _mem_stream_gbps()

    def timed(name: str, fn, repeat: int = 3):
        """Record the MEDIAN wall over ``repeat`` runs — the first run
        pays one-time plan analysis + codegen JIT, the median resists
        a single outlier either way — and the max−min spread."""
        # Release DataFrame refs from the PREVIOUS query before timing
        # this one: many operators localCheckpoint intermediates, whose
        # block-manager storage is only unpersisted once Spark's
        # ContextCleaner sees the Python refs die. Without an explicit
        # collect, checkpoint blocks from 3 reps × N queries pile up
        # and the eviction pressure lands on whichever query runs late
        # in the bench (r9: dedup_incremental +0.9 s with no code
        # change). gc runs BEFORE t0 so the cleanup isn't billed here.
        gc.collect()
        durs: list[float] = []
        out = None
        starts[name] = round(time.time() - bench_t0, 3)
        for _ in range(repeat):
            t0 = time.time()
            out = fn()
            durs.append(time.time() - t0)
        timings[name] = round(statistics.median(durs), 3)
        spread[name] = round(max(durs) - min(durs), 3)
        # Per-rep walls + bench-relative start offset go to the JSON
        # artifact (never the budgeted stdout line): a multi-second
        # stall that lands on one rep of one query is then visibly a
        # TIME-WINDOW event (neighbors at the same offset also slow)
        # rather than a phantom regression in that query — round 11
        # saw two identical-code runs whose 2–10× outliers were
        # disjoint query sets, which medians+spread alone can't
        # adjudicate.
        reps[name] = [round(d, 3) for d in durs]
        print(
            f"[bench] {name}: {timings[name]:.2f}s"
            f" (±{spread[name]:.2f}s over {repeat})",
            file=sys.stderr,
        )
        return out

    pts = points_2d(spark, sf_dir)
    # warm the JVM + parquet footer cache so per-query numbers measure
    # the queries, not session startup
    timed("warmup_count", lambda: pts.count(), repeat=1)

    # Mid-run repeated canary (r11 verdict task 4): the SAME fixed
    # code-independent workload (a JVM-only parquet count) measured at
    # intervals through the run. If late-run queries drift while the
    # canary stays flat, the drift is in the queries (a real plan
    # regression); if the canary drifts with them, it is
    # position-dependent pressure (eviction/box load) — the r10
    # localCheckpoint-eviction precedent, now self-adjudicating.
    # Canary entries live in extra["canary"], NOT in timings, so the
    # headline total stays comparable across rounds.
    canaries: list[dict] = []

    def run_canary() -> None:
        durs = []
        for _ in range(3):
            t0 = time.perf_counter()
            pts.count()
            durs.append(time.perf_counter() - t0)
        canaries.append(
            {
                "offset_sec": round(time.time() - bench_t0, 3),
                "reps": [round(d, 4) for d in durs],
            }
        )

    run_canary()  # position-0 baseline

    # ALSO warm the Python worker pool: the session's first
    # mapInPandas spawns one interpreter per core (~3 s on 32 cores),
    # a one-time cost that was previously billed to whatever Arrow
    # query ran first (train:nd_centers, measured 3.87 s cold vs
    # 0.87 s warm at sf0.1). A count() is JVM-only and does not pay it.
    def _warm_python_workers():
        return (
            spark.range(
                512,
                numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            )
            .mapInPandas(lambda it: it, "id LONG")
            .count()
        )

    timed("warmup_python_workers", _warm_python_workers, repeat=1)

    res = timed(
        "kmeans_fit10",
        lambda: km.fit(pts, k=8, max_iter=10, tol=0.0, seed=42),
    )
    extra["engine_wssse"] = res.wssse_history[-1]

    ml = timed(
        "mllib_fit10",
        lambda: fit_mllib_2d(pts, k=8, max_iter=10, seed=42, tol=0.0),
    )
    extra["mllib_wssse"] = ml.wssse
    # The BASELINE.json B2 criterion, stated as what it is: WALL-time
    # ratio of our fit to MLlib's at the same data/k/iters (<= 2.0
    # passes). Reported separately from the WSSSE quality ratio so the
    # two can never be conflated again (round-7 finding).
    extra["fit_wall_vs_mllib"] = round(
        timings["kmeans_fit10"] / timings["mllib_fit10"], 3
    )
    extra["fit_wssse_vs_mllib"] = round(res.wssse_history[-1] / ml.wssse, 3)

    # ANN serving shape: train ONCE (reported as train:* entries), so
    # every *_trained query below benches the probe path against a
    # warm model — the built-once/probed-many contract of a real index.
    # Cold-start cost stays visible here instead of polluting the
    # per-query medians.
    from kmeans_mapreduce_spark import extensions as X

    emb = X.load_table(spark, sf_dir, "embeddings")
    timed(
        "train:nd_centers",
        lambda: X._nd_trained_centers_cached(spark, sf_dir, emb),
        repeat=1,
    )
    timed(
        "train:pq_codebooks",
        lambda: X._pq_trained_codebooks_cached(spark, sf_dir, emb),
        repeat=1,
    )

    # single-pass operators
    timed(
        "kmeans_assign",
        lambda: km.assign(
            pts, [(0, 20.0, 10.0), (1, 40.0, 25.0), (2, 60.0, 40.0), (3, 90.0, 15.0)]
        ).count(),
    )

    # registry queries tracked by the bench — each runs at sf_dir.
    # The tracked set is every registered query without an
    # ``unbenched`` reason (queries.bench_tracked_queries).
    from kmeans_mapreduce_spark import queries as Q

    registry = Q.registry()
    # A/B support (r11 verdict task 4): SPARK_GRAFT_BENCH_ONLY
    # restricts the tracked set to a comma-separated allowlist so an
    # old round's subset can be re-measured at current HEAD on the
    # same box (set-growth vs code-regression adjudication).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    allow = {s for s in only.split(",") if s} if only else None
    tracked = [
        n for n in Q.bench_tracked_queries() if allow is None or n in allow
    ]
    for i, name in enumerate(tracked):
        fn = registry[name].build
        timed(
            name,
            lambda fn=fn: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
        )
        if (i + 1) % 15 == 0:
            run_canary()
    run_canary()  # end-of-run position

    # Replay setup-vs-compute split (r12 verdict task 2): the tracked
    # events_stream_*_replay walls are dominated by stream-start /
    # state-store setup, not operator compute — which distorts the
    # headline total and cross-round comparisons. Each replay records
    # its last run's micro-batch progress (replays.REPLAY_PROGRESS);
    # the split below derives setup ≈ median wall − batch processing,
    # and the headline is reported BOTH with and without the replay
    # section so totals stay comparable as replays join/leave the set.
    from kmeans_mapreduce_spark.replays import REPLAY_PROGRESS

    replay_names = [n for n in timings if "_stream_" in n and n.endswith("_replay")]
    replay_split: dict[str, dict] = {}
    if replay_names:
        for n in replay_names:
            p = dict(REPLAY_PROGRESS.get(n) or {})
            if "trigger_exec_ms" in p:
                p["batch_processing_sec"] = round(p["trigger_exec_ms"] / 1000.0, 3)
                # the recorded progress is the LAST rep's, so subtract
                # from that rep's wall (not the median across reps —
                # mixing runs could clamp to 0 or overstate setup)
                last_wall = reps[n][-1] if reps.get(n) else timings[n]
                p["last_rep_wall_sec"] = round(last_wall, 3)
                p["setup_sec_est"] = round(
                    max(0.0, last_wall - p["batch_processing_sec"]), 3
                )
            replay_split[n] = p
        # headline-adjacent scalars ride the budgeted stdout line; the
        # per-replay split map goes to the full artifact only
        replay_total = round(sum(timings[n] for n in replay_names), 3)
        extra["replay_total"] = replay_total
        extra["total_excl_replays"] = round(
            sum(timings.values()) - replay_total, 3
        )

    try:
        extra["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    extra["mem_stream_gbps_end"] = _mem_stream_gbps()
    steal = _steal_pct(ticks_start, _cpu_ticks())
    if steal is not None:
        extra["cpu_steal_pct"] = steal

    # the computed health verdict over THIS pass's own window (r13
    # verdict task 6 — the stamps existed, the adjudication happened
    # in judge prose each round; now the artifact carries it)
    gbps = [
        v
        for v in (
            extra.get("mem_stream_gbps_start"),
            extra.get("mem_stream_gbps_end"),
        )
        if isinstance(v, (int, float))
    ]
    drift = None
    if canaries and canaries[0].get("reps"):
        base = statistics.median(canaries[0]["reps"])
        # sub-50ms canary bases (tiny SFs) are scheduler noise, not a
        # drift signal — record the ratio but keep it out of the verdict
        if base > 0:
            drift = round(
                max(statistics.median(c["reps"]) for c in canaries) / base, 2
            )
        drift_for_verdict = drift if base >= 0.05 else None
    else:
        drift_for_verdict = None
    extra["canary_drift"] = drift
    extra["health"] = _health_verdict(
        steal, min(gbps) if gbps else None, drift_for_verdict
    )

    return {
        "extra": extra,
        "timings": timings,
        "spread": spread,
        "reps": reps,
        "starts": starts,
        "canaries": canaries,
        "replay_split": replay_split,
        "total": round(sum(timings.values()), 3),
    }


def _badness(stamped: dict) -> tuple:
    """Box-condition ordering for choosing between two measurement
    passes or artifacts — smaller is better-conditioned: (degraded?,
    window steal [missing sample = UNKNOWN = worst], −min DRAM stream
    rate). Takes any flat mapping carrying ``health`` /
    ``cpu_steal_pct`` / ``mem_stream_gbps_start``/``_end`` — both a
    pass's ``extra`` and a persisted artifact have that shape. An
    artifact with NO health key (pre-r13 legacy) is unknown-conditioned
    and sorts worst, i.e. stays replaceable — decided explicitly per
    ADVICE r15."""
    h = stamped.get("health") or {}
    steal = stamped.get("cpu_steal_pct")
    gbps = [
        v
        for v in (
            stamped.get("mem_stream_gbps_start"),
            stamped.get("mem_stream_gbps_end"),
        )
        if isinstance(v, (int, float))
    ]
    return (
        h.get("verdict") != "clean",
        float("inf") if steal is None else float(steal),
        -min(gbps) if gbps else float("inf"),
    )


def _divert_if_worse_conditioned(out_path: str, result: dict) -> str:
    """Never displace a better-conditioned bench artifact with a
    worse-conditioned run. r14 closed the clean-vs-degraded case (the
    r13 round-close replaced a clean 153.99 s artifact with a
    7.13%-steal rerun); r15's verdict found the remaining hole — a
    2.73%-steal driver rerun displaced the builder's 1.76%-steal
    artifact because degraded-over-degraded was allowed. The rule is
    now: a CLEAN run always writes through (fresher clean HEAD wins);
    a DEGRADED run diverts to ``<name>_degraded[N].json`` whenever it
    is strictly worse-conditioned than the prior under ``_badness``
    (clean prior, or degraded prior with lower steal / faster DRAM
    stream). Diverted filenames take an attempt counter so a second
    diverted rerun cannot silently overwrite the first (ADVICE r15)."""
    try:
        with open(out_path) as f:
            prior = json.load(f)
    except (OSError, ValueError):
        return out_path  # no prior artifact (or unreadable): write through
    new_degraded = (result.get("health") or {}).get("verdict") == "degraded"
    if new_degraded and _badness(result) > _badness(prior):
        base = out_path[: -len(".json")] + "_degraded"
        diverted = base + ".json"
        attempt = 2
        while os.path.exists(diverted):
            diverted = f"{base}{attempt}.json"
            attempt += 1
        print(
            f"[bench] refusing to overwrite better-conditioned artifact "
            f"{out_path} with a worse-conditioned degraded run — "
            f"writing {diverted} instead",
            file=sys.stderr,
        )
        return diverted
    return out_path


def _prev_round_stdout_queries(here: str, rnd: str) -> set[str]:
    """The cross-round comparison anchor set: the per-query names that
    made it onto the PREVIOUS round's budgeted stdout line
    (``BENCH_r{N-1}.json`` → ``parsed.queries`` at the repo root — the
    driver's own record of what its comparison will read). Best-effort:
    any parse problem returns an empty set and the line degrades to
    plain slowest-first."""
    import glob
    import re

    try:
        cur = int(rnd)
    except (TypeError, ValueError):
        cur = None
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if not m:
            continue
        n = int(m.group(1))
        if cur is not None and n >= cur:
            continue
        if best is None or n > best[0]:
            best = (n, p)
    if best is None:
        return set()
    try:
        with open(best[1]) as f:
            prev = json.load(f)
        parsed = prev.get("parsed") or {}
        return set((parsed.get("queries") or {}).keys())
    except (OSError, ValueError, AttributeError):
        return set()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("bench")

    # Pre-measurement stamp + bounded auto-retry (r13 verdict task 6):
    # when the box is ALREADY degraded before any query runs, one
    # measurement pass is noise by construction — re-measure once
    # after a cooldown and report the better-conditioned pass. Both
    # passes' summaries stay in the artifact under "attempts".
    no_rerun = os.environ.get("SPARK_GRAFT_BENCH_NO_RERUN") == "1"
    stamp0 = _start_stamp()
    start_health = _health_verdict(
        stamp0.get("steal_pct"), stamp0.get("mem_stream_gbps"), None
    )
    attempts: list[dict] = []
    m = _measure(spark, sf_dir)
    run_health = m["extra"]["health"]
    if (
        not no_rerun
        and start_health["verdict"] == "degraded"
        and run_health["verdict"] == "degraded"
    ):
        print(
            f"[bench] start-stamp degraded ({start_health['reasons']}) and "
            f"pass 1 degraded ({run_health['reasons']}) — cooling down "
            f"{RERUN_COOLDOWN_SEC:.0f}s and re-measuring once",
            file=sys.stderr,
        )
        time.sleep(RERUN_COOLDOWN_SEC)
        m2 = _measure(spark, sf_dir)

        # report the BETTER-CONDITIONED pass, not unconditionally the
        # retry (the cooldown may not have helped): clean verdict wins;
        # both degraded → lower window steal wins. The loser's summary
        # stays under "attempts" so the retry is auditable either way.
        # module-level _badness (ADVICE r15: hoisted so tests exercise
        # the real ordering): degraded flag, then window steal (missing
        # sample = UNKNOWN sorts worst), then the slower DRAM rate
        chosen, other, chosen_idx = (
            (m2, m, 2)
            if _badness(m2["extra"]) < _badness(m["extra"])
            else (m, m2, 1)
        )
        attempts.append(
            {
                "pass": 2 if chosen_idx == 1 else 1,
                "total": other["total"],
                "health": other["extra"]["health"],
                "cpu_steal_pct": other["extra"].get("cpu_steal_pct"),
                "n_queries": len(other["timings"]),
            }
        )
        m = chosen
        # pass 2 runs WARM in the same session (JVM/codegen/footer
        # caches hot) — flag it so cross-round total comparisons
        # against single cold passes can discount the bias
        m["extra"]["reported_pass"] = chosen_idx
        if chosen_idx == 2:
            m["extra"]["warm_rerun"] = True

    total = m["total"]
    extra = m["extra"]
    timings = m["timings"]
    extra["start_stamp"] = stamp0
    extra["start_health"] = start_health
    if attempts:
        extra["auto_rerun"] = True

    # Evidence contract (round-8 fix): the driver keeps only the LAST
    # 2000 chars of stdout and json-parses the final line — r06/r07
    # both recorded "parsed": null because the full ~100-query map
    # overflowed that window and the line arrived truncated. The
    # printed line is therefore BUDGETED: headline numbers always, then
    # as many of the slowest per-query medians as fit under the cap
    # (slowest first — the ones a judge acts on), with the full maps
    # persisted to tools/bench_r{N}.json regardless.
    result = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        **extra,
        "attempts": attempts,
        # full artifact only (kept off the budgeted stdout line): the
        # position-indexed canary series for drift adjudication, and
        # the per-replay setup/compute split
        "canary": m["canaries"],
        "replay_split": m["replay_split"],
        "spread": m["spread"],
        "queries": timings,
        "reps": m["reps"],
        "start_offset_sec": m["starts"],
    }

    here = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not rnd:
        import glob

        prior = glob.glob(os.path.join(here, "BENCH_r*.json"))
        nums = [
            int(os.path.basename(p)[7:-5])
            for p in prior
            if os.path.basename(p)[7:-5].isdigit()
        ]
        rnd = f"{(max(nums) + 1) if nums else 1:02d}"

    STDOUT_BUDGET = 1900  # driver keeps 2000 chars; leave margin
    compact = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        **{k: v for k, v in extra.items() if k != "start_stamp"},
    }
    # Anchor-first fill (r15 verdict task 3b): slowest-first alone made
    # the line a MOVING subset — a query that got FASTER fell off it
    # and the driver's comparison filed the speedup as
    # "dropped_from_bench" (r15: 12 phantom drops, the 2.4× Q2 win
    # invisible). The cross-round comparison set — the names on the
    # PREVIOUS round's line — now prints first (each at its current
    # median), and the remaining budget slowest-fills as before. An
    # entry that does not fit is skipped, not a hard stop, so smaller
    # anchors still land.
    anchors = _prev_round_stdout_queries(here, rnd)
    ranked = sorted(
        timings.items(), key=lambda kv: (kv[0] not in anchors, -kv[1])
    )
    shown: dict[str, float] = {}
    for name, dur in ranked:
        trial = dict(compact)
        trial["queries"] = {**shown, name: dur}
        if len(json.dumps(trial)) <= STDOUT_BUDGET:
            shown[name] = dur
    compact["queries"] = shown
    line = json.dumps(compact)
    try:
        out_path = os.path.join(here, "tools", f"bench_r{rnd}.json")
        out_path = _divert_if_worse_conditioned(out_path, result)
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(f"[bench] full result written to {out_path}", file=sys.stderr)
    except OSError as exc:  # never let evidence persistence fail the bench
        print(f"[bench] could not persist full result: {exc}", file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
