"""Structured Streaming operators (north-star; SURVEY §2.2 notes the
reference is strictly batch — this is the engine's streaming face).

Design: stateless scoring needs no operator of its own — the batch
engine's ``operators.kmeans.assign`` is a narrow map and runs unchanged
on a streaming DataFrame. Windowed aggregations use event-time +
watermark so late data is bounded-state. At scale: file/kafka source
partitions → narrow score → windowed agg whose state store is keyed by
(window, type) — bounded by watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.operators.events import WINDOW_SEC, floor_div


def events_stream(spark: SparkSession, events_dir: str, schema: str) -> DataFrame:
    """File-source stream over parquet event files (one-file-per-batch
    keeps tests deterministic; swap for Kafka in production)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def stream_window_counts(
    stream: DataFrame, watermark_sec: int | None = 600
) -> DataFrame:
    """Tumbling event-time window counts with watermark (bounded state;
    late rows beyond the watermark are dropped, the streaming analog of
    operators.events.window_agg).

    ``watermark_sec=None`` skips the watermark for complete-output-mode
    runs (tests compare the full streaming result to the batch twin);
    production append-mode streams must keep one, or state never
    evicts."""
    with_ts = stream.withColumn(
        "event_time", F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000)))
    )
    if watermark_sec is not None:
        with_ts = with_ts.withWatermark("event_time", f"{watermark_sec} seconds")
    return with_ts.groupBy(
        F.window("event_time", f"{WINDOW_SEC} seconds").alias("w"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))


def _session_fold_batch(user_id, prior, batch, gap):
    """The per-key session fold shared by BOTH streaming APIs
    (``stream_sessionize``'s applyInPandasWithState and
    ``stream_sessionize_tws``'s transformWithStateInPandas) — one
    function, so the two cannot drift (the ``_dedup_fold_batch``
    pattern). ``prior`` is the state tuple (session_start, last_ts,
    n_events, value_sum, prev_end) or None; ``batch`` is the
    micro-batch frame with (ts_sec, event_id, value). Returns
    ``(closed_rows, new_state_or_None)`` — the late-event / gap-island
    / no-cursor-rewind semantics are documented on
    :func:`stream_sessionize`."""
    if prior is not None:
        s0, last, n, vs, prev_end = prior
    else:
        s0 = last = prev_end = None
        n, vs = 0, 0.0
    closed = []
    orphan = None  # [start, end, n, value_sum] of a late gap-island
    batch = batch.sort_values(["ts_sec", "event_id"], kind="mergesort")
    for ts, val in zip(batch["ts_sec"], batch["value"]):
        ts = int(ts)
        if prev_end is not None and ts <= prev_end:
            # belongs to an already-EMITTED session: append-mode
            # cannot retract it, and merging would rewind the open
            # session across the emitted one (see docstring)
            continue
        if last is not None and ts < s0 - gap:
            # late gap-ISLAND: newer than everything emitted but
            # more than a gap before the open session — its own
            # session; fold consecutive islanders, emit closed
            if orphan is None:
                orphan = [ts, ts, 1, float(val)]
            elif ts - orphan[1] <= gap:
                orphan[1] = ts
                orphan[2] += 1
                orphan[3] += float(val)
            else:
                closed.append((user_id, *orphan))
                prev_end = orphan[1]
                orphan = [ts, ts, 1, float(val)]
            continue
        if last is None:
            s0, last, n, vs = ts, ts, 1, float(val)
        elif ts - last > gap:
            closed.append((user_id, s0, last, n, vs))
            prev_end = last
            s0, last, n, vs = ts, ts, 1, float(val)
        else:
            n += 1
            vs += float(val)
            # a LATE event (cross-batch, ts < last) merges without
            # rewinding the cursor: last = ts would shrink the gap
            # horizon and split/flush the session early, and could
            # push session_end before events already inside it
            last = max(last, ts)
            s0 = min(s0, ts)
    if orphan is not None:
        closed.append((user_id, orphan[0], orphan[1], orphan[2], orphan[3]))
        prev_end = orphan[1] if prev_end is None else max(prev_end, orphan[1])
    if last is None:
        return closed, None
    return closed, (s0, last, n, vs, prev_end)


def stream_sessionize(
    stream: DataFrame,
    gap_sec: int | None = None,
    watermark_sec: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` — the streaming twin of
    operators.events.sessionize.

    State per user: the open session (start, last_ts, n, value_sum).
    Each micro-batch folds its events (ts-sorted) into the open
    session; sessions whose gap exceeds ``gap_sec`` are CLOSED and
    emitted; the trailing open session stays in the state store across
    batches (restart-safe via checkpoint). At scale the state store is
    keyed by user — uniform hash, no skew — and each micro-batch
    shuffles only that batch's rows.

    ``watermark_sec`` enables IDLE EVICTION via ``EventTimeTimeout``:
    each update arms a timeout at event-time ``last_ts + gap``; when
    the watermark passes it with no new data for the user, the open
    session is flushed as closed and its state removed. Without it a
    user who goes quiet forever would pin state forever — the classic
    unbounded-state leak in a production session stream.

    Output: closed sessions only (user_id, session_start, session_end,
    n_events, value_sum). With eviction on, a quiet user's last session
    emits once the watermark passes its gap; without it, only a later
    event closes it.

    LATE-EVENT CONTRACT: a late event (within watermark) that belongs
    to an already-EMITTED earlier session (ts <= that session's end,
    tracked in state as ``prev_end``) is DROPPED — an append-mode
    stream cannot retract an emitted row, and merging it into the
    open session would move the open session's start back across the
    emitted session's end, reporting overlapping sessions. A late
    event newer than ``prev_end`` but more than a gap BEFORE the open
    session's start is a gap-island: it is emitted as its own closed
    session (consecutive islanders within a gap fold together) rather
    than grafted onto the later open session across a silence longer
    than the gap. Late events within a gap of the open session merge
    into it (its start may rewind by at most ``gap``, never past
    ``prev_end``). This is the standard emit-on-close approximation;
    the batch operator, which sees all data at once, needs none of it.
    """
    import pandas as pd

    from kmeans_mapreduce_spark.operators.events import SESSION_GAP_SEC

    gap = SESSION_GAP_SEC if gap_sec is None else gap_sec
    out_schema = (
        "user_id BIGINT, session_start BIGINT, session_end BIGINT, "
        "n_events BIGINT, value_sum DOUBLE"
    )
    state_schema = (
        "session_start BIGINT, last_ts BIGINT, n_events BIGINT, "
        "value_sum DOUBLE, prev_end BIGINT"
    )
    evict = watermark_sec is not None

    def fn(key, pdfs, state):
        user_id = key[0]
        if evict and state.hasTimedOut:
            s0, last, n, vs, _pe = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, s0, last, n, vs)],
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "value_sum",
                ],
            )
            return
        prior = tuple(state.get) if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        closed, new_state = _session_fold_batch(user_id, prior, batch, gap)
        if new_state is not None:
            state.update(new_state)
            if evict:
                # arm the idle flush at event-time last+gap; clamp above
                # the current watermark (Spark rejects stale timestamps)
                state.setTimeoutTimestamp(
                    max(
                        (new_state[1] + gap) * 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "value_sum",
                ],
            )

    cols = [
        "user_id",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
        "event_id",
        "value",
    ]
    if evict:
        e = (
            stream.withColumn(
                "event_time", F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000)))
            )
            .withWatermark("event_time", f"{watermark_sec} seconds")
            .select(*cols, "event_time")
        )
        timeout = "EventTimeTimeout"
    else:
        e = stream.select(*cols)
        timeout = "NoTimeout"
    return e.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", timeout
    )


def stream_funnel(stream: DataFrame, steps=None) -> DataFrame:
    """Streaming twin of operators.events.funnel — per-user ordered
    conversion tracking with cross-batch state: the same step automaton
    (an event advances the funnel iff its type is the NEXT uncompleted
    step), folded over each micro-batch's (ts_sec, event_id)-sorted
    rows via ``applyInPandasWithState``.

    Emits one row per user per newly completed step —
    (user_id, step, step_type, ts_sec) — so a per-step distinct-user
    count over the emitted rows reproduces the batch funnel's n_users
    exactly when micro-batches replay in event-time order (file-source
    replay here; any per-key-ordered log in production).

    Scale shape: state is ONE small int per user (steps completed — the
    monotone prefix is all the automaton needs; no timestamps, no event
    buffer), keyed by user_id — uniform hash, bounded size, RocksDB-
    backed at scale with a TTL for abandoned users.
    """
    import pandas as pd

    from kmeans_mapreduce_spark.operators.events import FUNNEL_STEPS

    steps = tuple(FUNNEL_STEPS if steps is None else steps)
    nsteps = len(steps)
    out_schema = "user_id BIGINT, step INT, step_type STRING, ts_sec BIGINT"

    def fn(key, pdfs, state):
        user_id = key[0]
        done = state.get[0] if state.exists else 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_sec", "event_id"], kind="mergesort")
        out = []
        for ts, et in zip(batch["ts_sec"], batch["event_type"]):
            if done < nsteps and et == steps[done]:
                done += 1
                out.append((user_id, done, steps[done - 1], int(ts)))
        state.update((done,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "step", "step_type", "ts_sec"]
            )

    e = stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
    )
    return e.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, "done INT", "update", "NoTimeout"
    )


def _dedup_fold_batch(prior, pdfs):
    """The cross-batch dedup fold SHARED by both stateful-API variants
    (applyInPandasWithState and transformWithStateInPandas) — one
    definition so the two APIs cannot drift on keeper/min/count
    semantics. ``prior`` is (keep, min, n) or None; returns the updated
    tuple plus the is_new flag. Arrival order decides the keeper
    (streaming first-wins); the running MIN is tracked separately so a
    bounded replay can recover the batching-invariant global minimum
    whatever the micro-batch split."""
    if prior is not None:
        keep, mn, n = prior
        new = False
    else:
        keep, mn, n = None, None, 0
        new = True
    for pdf in pdfs:
        for d in sorted(int(x) for x in pdf["doc_id"]):
            if keep is None:
                keep = d
            mn = d if mn is None else min(mn, d)
            n += 1
    return keep, mn, n, new


def _dedup_out_row(fp, keep, mn, n, new):
    import pandas as pd

    return pd.DataFrame(
        {
            "fp": [fp],
            "keep_doc_id": [keep],
            "min_doc_id": [mn],
            "n_copies": [n],
            "is_new": [new],
        }
    )


def stream_dedup_exact(stream: DataFrame) -> DataFrame:
    """Stateful streaming exact-dedup: emit each document fingerprint's
    FIRST occurrence, drop every later duplicate — across micro-batches
    (the streaming twin of operators.dedup.dedup_exact, and the shape a
    continuous ingestion pipeline needs).

    State is keyed by the 60-bit content fingerprint: the state store
    holds one small record per distinct document ever seen (at scale:
    RocksDB state backend + TTL for bounded retention). Each batch
    shuffles only its own rows, partitioned by fingerprint — uniform
    keys by construction.

    Output: (fp, keep_doc_id, min_doc_id, n_copies, is_new) rows, one
    per batch in which the fingerprint appeared — ``is_new`` marks the
    first-ever sighting (the dedup emit signal), ``keep_doc_id`` is
    the arrival-order keeper, ``min_doc_id``/``n_copies`` the running
    batching-invariant aggregates a bounded replay folds on.

    The fingerprint is :func:`~kmeans_mapreduce_spark.operators.dedup.content_fp`
    — the batch operator's own definition, shared so the two can never
    disagree on which documents are duplicates.
    """
    import pandas as pd

    from kmeans_mapreduce_spark.operators.dedup import content_fp

    out_schema = (
        "fp LONG, keep_doc_id LONG, min_doc_id LONG, n_copies BIGINT, "
        "is_new BOOLEAN"
    )
    state_schema = "keep_doc_id LONG, min_doc_id LONG, n_copies BIGINT"

    def fn(key, pdfs, state):
        fp = key[0]
        prior = tuple(state.get) if state.exists else None
        keep, mn, n, new = _dedup_fold_batch(prior, pdfs)
        state.update((keep, mn, n))
        yield _dedup_out_row(fp, keep, mn, n, new)

    fps = stream.select(
        content_fp(F.col("text")).alias("fp"), "doc_id"
    )
    return fps.groupBy("fp").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


TTL_DEDUP_SEC = 86_400  # suppress same-key repeats within one day


def _ttl_fold_batch(key, last, chunks, ttl_sec: int):
    """The per-key TTL-dedup fold SHARED by the v1
    (``applyInPandasWithState``) and TWS (``transformWithStateInPandas``)
    operators so the two APIs cannot drift: events in (ts_sec,
    event_id) order, emit iff no same-key event within ``ttl_sec``,
    EVERY arrival refreshes the clock. Takes the API's chunk iterator;
    returns (out_df_or_None, new_last) with out columns in the shared
    output-schema order.

    Vectorized (r15): the fold is a shifted-diff — prev[i] = ts[i-1]
    (state ``last`` for row 0), emit iff prev is absent or
    ts − prev > ttl — so it runs as four numpy ops instead of a
    per-row Python loop. The per-key pandas machinery (concat +
    mergesort + DataFrame-from-tuples) was the measured batch cost:
    ~7.5 s of addBatch for 7,500 keys at sf0.1, ~1 ms/key of pure
    interpreter overhead for ~13 rows/key."""
    import numpy as np
    import pandas as pd

    parts = [c for c in chunks if len(c)]
    if not parts:
        return None, last
    if len(parts) == 1:
        ts = parts[0]["ts_sec"].to_numpy(dtype="int64")
        eid = parts[0]["event_id"].to_numpy(dtype="int64")
    else:
        ts = np.concatenate([c["ts_sec"].to_numpy(dtype="int64") for c in parts])
        eid = np.concatenate([c["event_id"].to_numpy(dtype="int64") for c in parts])
    order = np.lexsort((eid, ts))
    ts, eid = ts[order], eid[order]
    prev = np.empty_like(ts)
    prev[1:] = ts[:-1]
    first_null = last is None
    # sentinel forces row-0 emission when the key has no state (the
    # first-ever event always emits, with gap_sec NULL)
    prev[0] = (ts[0] - ttl_sec - 1) if first_null else last
    gap = ts - prev
    keep = gap > ttl_sec
    new_last = int(ts[-1])
    if not keep.any():
        return None, new_last
    out_gap = gap[keep].astype(object)
    if first_null:
        out_gap[0] = None
    n = len(out_gap)
    out = pd.DataFrame(
        {
            "user_id": np.full(n, key[0], dtype="int64"),
            "event_type": np.full(n, key[1], dtype=object),
            "event_id": eid[keep],
            "ts_sec": ts[keep],
            "gap_sec": out_gap,
        }
    )
    return out, new_last


def stream_dedup_ttl(
    stream: DataFrame,
    ttl_sec: int = TTL_DEDUP_SEC,
    watermark_sec: int | None = None,
) -> DataFrame:
    """Watermarked streaming DEDUP WITH TTL (debounce/suppression
    semantics): emit an event iff no same-key event arrived in the
    preceding ``ttl_sec`` of EVENT time; EVERY arrival — emitted or
    suppressed — refreshes the key's clock. The alert-throttling /
    repeat-notification shape, keyed here by (user_id, event_type).

    Unlike :func:`stream_dedup_exact` (state per key forever, emit
    first occurrence only), this state is a single ``last_seen``
    BIGINT per key whose retention is BOUNDED: with ``watermark_sec``
    set, ``EventTimeTimeout`` evicts the key at event-time
    ``last_seen + ttl`` once the watermark passes it — at which point
    any suppression it could still cause has expired, so eviction is
    emission-free (a later event would be emitted anyway; its
    ``gap_sec`` reads NULL because an evicted key is indistinguishable
    from a fresh one — by design, that's what dropping the state
    means). That
    bound is what keeps the state store O(active keys) instead of
    O(all keys ever) on an unbounded stream — the production dial
    the batch operator doesn't need.

    Emission happens only on arrival (timeout = pure state cleanup),
    so a bounded in-order replay equals the batch LAG formulation:
    emit iff ``prev is NULL or ts - prev > ttl``, ties broken by
    (ts_sec, event_id) on both sides. ``gap_sec`` is the distance to
    the previous same-key event (NULL for a key's first).

    Scale shape: each micro-batch shuffles only its own rows on the
    (user_id, event_type) key — uniform hash; state is 8 bytes per
    live key, RocksDB-backed in production.
    """
    import pandas as pd

    out_schema = (
        "user_id BIGINT, event_type STRING, event_id BIGINT, "
        "ts_sec BIGINT, gap_sec BIGINT"
    )
    evict = watermark_sec is not None

    def fn(key, pdfs, state):
        if evict and state.hasTimedOut:
            # past last_seen + ttl: nothing this key could still
            # suppress — drop the state, emit nothing
            state.remove()
            return
        last = state.get[0] if state.exists else None
        out, last = _ttl_fold_batch(key, last, pdfs, ttl_sec)
        if last is not None:
            state.update((last,))
            if evict:
                state.setTimeoutTimestamp(
                    max(
                        (last + ttl_sec) * 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        if out is not None:
            yield out

    cols = [
        "user_id",
        "event_type",
        "event_id",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
    ]
    if evict:
        e = (
            stream.withColumn(
                "event_time",
                F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000))),
            )
            .withWatermark("event_time", f"{watermark_sec} seconds")
            .select(*cols, "event_time")
        )
        timeout = "EventTimeTimeout"
    else:
        e = stream.select(*cols)
        timeout = "NoTimeout"
    return e.groupBy("user_id", "event_type").applyInPandasWithState(
        fn, out_schema, "last_seen BIGINT", "update", timeout
    )


def stream_dedup_ttl_tws(
    stream: DataFrame,
    ttl_sec: int = TTL_DEDUP_SEC,
    watermark_sec: int | None = None,
) -> DataFrame:
    """:func:`stream_dedup_ttl` on Spark 4's
    ``transformWithStateInPandas`` (r12 verdict task 6 — the TWS
    variant promoted to a first-class operator): same debounce
    semantics, same output schema, and the per-key fold is the SAME
    function (``_ttl_fold_batch``) so the two APIs cannot drift.
    ``EventTimeTimeout`` becomes an explicit per-key event-time timer
    at ``last_seen + ttl`` (re-armed on every update under the
    sessionizer's round-trip budget: ``get()`` alone, armed-timer
    timestamp carried IN the state row so stale-timer eviction is a
    direct ``deleteTimer(stored)``, re-registration skipped when the
    deadline is unchanged); ``handleExpiredTimer`` clears the state
    and emits nothing — eviction is emission-free by the operator's
    contract. Same RocksDB/protobuf dependencies as
    :func:`stream_dedup_exact_tws`; the gated replay query activates
    the pbshim runtime for driver AND the JVM-spawned TWS workers, so
    it executes in any process (real clusters ship protobuf).

    Cost note (r14 decomposition, tools/tws_emission_probe_r14.json):
    TWS carries a CONSTANT ~1.2-1.35x factor over the v1 API at fixed
    keys/input on this shape — ~105 us/key, the 3-4 semantically
    required state-server round trips per key per batch plus the TWS
    serializer's per-input-row materialization (both upstream
    protocol paths; the r11 budget already removed every avoidable
    call). The r13 "gap tracks emission volume" hypothesis is
    REFUTED: ratios at 100%/25%/6% emission over identical input are
    non-monotone, and between-window box variance of the state-store
    class exceeds the gap itself. Choose :func:`stream_dedup_ttl`
    (in-process state) for heavy-emission bounded replays; this API
    buys timers / multiple state vars / RocksDB at that constant
    factor."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor

    evict = watermark_sec is not None
    out_schema = (
        "user_id BIGINT, event_type STRING, event_id BIGINT, "
        "ts_sec BIGINT, gap_sec BIGINT"
    )

    class _TtlProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            # 2nd field: the armed timer's timestamp (ms; 0 = none) —
            # in state so stale-timer eviction needs no listTimers
            self._st = handle.getValueState(
                "ttl", "last_seen BIGINT, timer_ms BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            row = self._st.get()  # None ⇔ absent: no exists() call
            last = None if row is None else int(row[0])
            prev_timer = 0 if row is None else int(row[1])
            out, last = _ttl_fold_batch(key, last, rows, ttl_sec)
            if last is not None:
                t = 0
                if evict:
                    t = max(
                        (last + ttl_sec) * 1000,
                        timerValues.getCurrentWatermarkInMs() + 1,
                    )
                self._st.update((last, t))
                if evict and t != prev_timer:
                    if prev_timer:
                        self._handle.deleteTimer(prev_timer)
                    self._handle.registerTimer(t)
            if out is not None:
                yield out

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # past last_seen + ttl: nothing this key could still
            # suppress — drop the state, emit nothing (parity with the
            # v1 hasTimedOut branch)
            self._st.clear()
            return iter(())

        def close(self) -> None:
            pass

    cols = [
        "user_id",
        "event_type",
        "event_id",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
    ]
    if evict:
        e = (
            stream.withColumn(
                "event_time",
                F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000))),
            )
            .withWatermark("event_time", f"{watermark_sec} seconds")
            .select(*cols, "event_time")
        )
        time_mode = "EventTime"
    else:
        e = stream.select(*cols)
        time_mode = "None"
    return e.groupBy("user_id", "event_type").transformWithStateInPandas(
        statefulProcessor=_TtlProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode=time_mode,
    )


def _require_fresh_checkpoint(checkpoint_dir: str, who: str) -> None:
    """Driver-held-model guard: these trainers keep the model in a
    fresh Python object while Spark's checkpoint remembers committed
    batches. Reusing a checkpoint would make Spark SKIP those batches
    while the new model starts from zero — silent loss of their
    contribution masquerading as crash recovery. Refuse up front; a
    restartable variant must persist the model alongside the
    checkpoint and reload it here."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    if os.path.isdir(commits) and os.listdir(commits):
        raise ValueError(
            f"{who}: checkpoint_dir {checkpoint_dir!r} already holds "
            "committed batches, but the model state is driver-held and "
            "starts fresh — resuming would silently drop those batches' "
            "contribution. Pass a new checkpoint_dir (or persist and "
            "reload the model to make restarts exact)."
        )


def stream_kmeans_minibatch(
    stream: DataFrame,
    centers: list[tuple[int, float, float]],
    checkpoint_dir: str,
    decay: float = 1.0,
):
    """STREAMING mini-batch k-means (Bottou–Bengio style): every
    micro-batch assigns its points to the current centers (the Arrow
    partial-sum step ``kmeans.lloyd_step_arrow``, which the n-D batch
    fit also runs) and moves each center to the weighted mean of its
    history and the batch — the continuous model-maintenance loop a
    production clustering service runs.

    Physical shape: ``foreachBatch`` → one job per micro-batch emitting
    K partial rows per partition; centers live on the DRIVER (exactly
    like the batch ``fit`` and MLlib), so there is no single-key state
    bottleneck — the state store is never involved and each batch's
    cost is one narrow pass + a K-row merge. ``decay=1.0`` keeps full
    history (counts accumulate); ``decay<1`` forgets old batches
    exponentially (non-stationary streams).

    Returns (query, state) — ``state.centers`` / ``state.counts``
    update as batches commit; stop the query to freeze the model.
    """
    from kmeans_mapreduce_spark.operators.kmeans import lloyd_step_arrow

    class _State:
        def __init__(self):
            self.centers = [(int(c), float(x), float(y)) for c, x, y in centers]
            self.counts = {int(c): 0.0 for c, _, _ in centers}
            self.batches = 0

    state = _State()

    def update(batch_df, _bid):
        if not batch_df.take(1):
            return
        means, sizes, _sse = lloyd_step_arrow(
            batch_df, [(c, (x, y)) for c, x, y in state.centers]
        )
        new_centers = []
        for cid, cx, cy in state.centers:
            if cid in means:
                n_old = state.counts[cid] * decay
                n_new = sizes[cid]
                tot = n_old + n_new
                mx, my = means[cid]
                new_centers.append(
                    (
                        cid,
                        (cx * n_old + mx * n_new) / tot,
                        (cy * n_old + my * n_new) / tot,
                    )
                )
                state.counts[cid] = tot
            else:
                new_centers.append((cid, cx, cy))
                state.counts[cid] = state.counts[cid] * decay
        state.centers = new_centers
        state.batches += 1

    _require_fresh_checkpoint(checkpoint_dir, "stream_kmeans_minibatch")
    q = (
        stream.writeStream.foreachBatch(update)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, state


def stream_minhash_lsh_candidates(stream: DataFrame) -> DataFrame:
    """Cross-batch STREAMING near-dup candidates — the continuous-
    ingestion face of the batch MinHash→LSH pipeline (same signature
    builder, same band hashing, so a doc collides with the same
    buckets whether it arrives in batch or stream).

    Shape: minhash signatures are a narrow Arrow pass, band explosion a
    narrow projection (both stateless); the only stateful step keys the
    state store by (band_id, band_hash) — uniform md5-derived keys, so
    state spreads evenly — holding the doc_ids previously seen in that
    bucket. Each arriving doc emits a candidate pair against every doc
    already in its bucket, across all past micro-batches. State per
    bucket stays tiny for the same reason batch LSH buckets do; at
    scale add TTL/RocksDB exactly like :func:`stream_dedup_exact`.

    Output: (doc_a, doc_b) candidate pairs (doc_a < doc_b), possibly
    repeated across bands/batches — downstream verification (true-
    Jaccard join, as in batch ``jaccard_pairs``) deduplicates, same as
    the batch pipeline's ``distinct``.
    """
    import pandas as pd

    from kmeans_mapreduce_spark.operators.dedup import (
        lsh_bands_from_array,
        minhash_signature_array,
    )

    bands = lsh_bands_from_array(minhash_signature_array(stream))
    out_schema = "doc_a LONG, doc_b LONG"
    state_schema = "doc_ids ARRAY<LONG>"

    def fn(key, pdfs, state):
        seen = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        new_ids = sorted({int(x) for pdf in pdfs for x in pdf["doc_id"]})
        pairs = []
        for d in new_ids:
            if d in seen_set:
                continue  # replayed/duplicate doc: state must not grow
                # per re-ingestion (and pairs must not re-emit)
            for s in seen:
                if s != d:
                    pairs.append((min(s, d), max(s, d)))
            seen.append(d)
            seen_set.add(d)
        state.update((seen,))
        if pairs:
            yield pd.DataFrame(pairs, columns=["doc_a", "doc_b"])

    return bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def stream_stream_range_join(
    stream: DataFrame,
    left_type: str,
    right_type: str,
    horizon_sec: int,
    watermark_sec: int = 600,
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM join — the streaming face of
    operators.events.range_join_counts ("right-type events of the same
    user within [ts, ts+horizon) after each left-type event"), emitting
    the matched pairs row-level as both sides arrive.

    ``join_type="left_outer"`` additionally emits unmatched left rows
    (null right columns) — but only once the watermark passes
    ``l_time + horizon`` and proves no match can still arrive; that
    deferred-null emission is the semantic difference from a batch
    outer join and is what the outer-join test pins.

    Two filtered branches of one source self-join on user plus an
    event-time range condition. Both sides carry watermarks, so Spark
    derives state-eviction bounds: a buffered left row is dropped once
    the watermark passes ``l_time + horizon``, a right row once it
    passes ``r_time`` — state is bounded by watermark + horizon, not by
    stream length. At scale the join state is keyed by user (uniform),
    and each micro-batch shuffles only its own rows.

    Output: (user_id, event_id, l_ts_sec, r_ts_sec, r_value) per match
    — the batch twin's pre-aggregation pair set.
    """
    # Watermarks go on EACH branch after its type filter (the canonical
    # stream-stream join shape). Measured caveat, do not "simplify":
    # one shared pre-filter withWatermark does satisfy the analyzer and
    # advances on every event type, but the left-outer state eviction
    # then never fires — unmatched rows are buffered forever and the
    # deferred nulls never emit. Per-branch watermarks restore eviction;
    # the trade-off is that a branch whose event type goes quiet stops
    # advancing the (min-combined) query watermark — standard Spark
    # multi-watermark behavior.
    base = stream.withColumn(
        "event_time", F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000)))
    )
    left = (
        base.filter(F.col("event_type") == left_type)
        .select("user_id", "event_id", F.col("event_time").alias("l_time"))
        .withWatermark("l_time", f"{watermark_sec} seconds")
    )
    right = (
        base.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_time").alias("r_time"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_time", f"{watermark_sec} seconds")
    )
    return left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_time") >= F.col("l_time"))
        & (F.col("r_time") < F.col("l_time") + F.expr(f"INTERVAL {horizon_sec} SECONDS")),
        join_type,
    ).select(
        "user_id",
        "event_id",
        F.unix_timestamp("l_time").alias("l_ts_sec"),
        F.unix_timestamp("r_time").alias("r_ts_sec"),
        "r_value",
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """STREAM-STATIC join: enrich a stream with a batch dimension table
    (the third join class next to stream-stream and batch-batch).

    Stateless — Spark re-plans the static side per micro-batch, so no
    state store is involved and the dim picks up storage-level updates
    between batches. The dim is broadcast (dimension ≪ stream at
    scale); left join keeps stream rows with no dim match.
    """
    return stream.join(F.broadcast(dim), key, "left")


def stream_hll_registers(stream: DataFrame, key: str, groups: list[str]) -> DataFrame:
    """Streaming distinct-count sketch maintenance: the portable HLL's
    register table (operators.sketches) computed AS A STREAM.

    The batch operator is reused verbatim — ``max(rho)`` per (group,
    bucket) is an incremental, order-insensitive aggregate, so the
    streaming state store holds at most groups x 256 rows FOREVER, no
    watermark needed. That is the whole point vs streaming
    ``dropDuplicates``: exact distinct tracking needs one state entry
    per key seen (unbounded); the sketch's state is constant-size and
    its update-mode output after the last batch equals the batch
    registers bit-for-bit (tested), so estimates match too.
    """
    from kmeans_mapreduce_spark.operators.sketches import hll_registers

    return hll_registers(stream, key, groups)


def run_stream_to_memory(
    df: DataFrame, name: str, mode: str = "append"
) -> None:
    """Drain a stream into an in-memory table (test/debug sink) using
    availableNow (process everything, then stop)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_merge_upsert(
    stream: DataFrame,
    target_path: str,
    key: str,
    version_col: str,
    checkpoint_dir: str,
):
    """STREAMING MERGE: continuously upsert a change stream into a
    parquet serving table — every micro-batch runs the batch
    :func:`~kmeans_mapreduce_spark.sources.loaders.merge_upsert`
    (latest ``version_col`` per ``key`` wins) inside ``foreachBatch``.

    Exactly-once effect without a transactional sink: the merge is
    IDEMPOTENT (re-merging the same rows changes nothing), so a batch
    replayed after a crash-before-checkpoint converges to the same
    table — idempotent-writer-over-at-least-once-delivery, the
    standard recipe for non-transactional stores. State lives in the
    target table itself; the state store is never involved, so
    arbitrarily many keys cost nothing between batches. At 100 TB the
    target should be a lakehouse table (Delta/Iceberg) so each MERGE
    rewrites only touched files; the micro-batch plan is identical.
    """
    from kmeans_mapreduce_spark.sources.loaders import merge_upsert

    def apply(batch_df, _bid):
        if not batch_df.take(1):
            return
        merge_upsert(
            batch_df.sparkSession, target_path, batch_df, key, version_col
        )

    return (
        stream.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_monitor(
    stream: DataFrame,
    checks,
    log_path: str,
    checkpoint_dir: str,
):
    """CONTINUOUS data validation: run the declarative row-local
    constraint suite (operators/quality.row_checks — one
    conditional-aggregate pass) over every micro-batch and append the
    per-batch report to a parquet audit log. The monitor a production
    ingest keeps next to the pipeline: quality regressions surface per
    batch with counts, instead of silently polluting training data.

    The log is partitioned by micro-batch id and written with DYNAMIC
    partition overwrite, so a replay after a crash rewrites exactly its
    own ``batch_id=N`` directory — the audit log stays exactly-once
    under foreachBatch's at-least-once contract (a lakehouse table
    would make this transactional). State store is never involved —
    each batch's report is a few rows.
    """
    from kmeans_mapreduce_spark.operators.quality import row_checks

    def audit(batch_df, bid):
        if not batch_df.take(1):
            return
        rep = row_checks(batch_df, checks).withColumn(
            "batch_id", F.lit(int(bid)).cast("long")
        )
        (
            rep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(log_path)
        )

    return (
        stream.writeStream.foreachBatch(audit)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_logreg_sgd(
    doc_stream: DataFrame,
    checkpoint_dir: str,
    buckets: int | None = None,
    lr: float | None = None,
    binary: bool = True,
    engineered: bool = True,
):
    """STREAMING online logistic regression (mini-batch SGD): every
    micro-batch contributes one full gradient step to the driver-held
    weights — the continuous model-maintenance loop for the in-engine
    quality classifier (the streaming twin of ``logreg.fit_logreg``,
    exactly as ``stream_kmeans_minibatch`` twins the batch Lloyd fit).

    Physical shape: ``foreachBatch`` → one Arrow pass per micro-batch
    emitting a constant-size partial gradient per partition; weights
    live on the DRIVER, so the state store is never involved and each
    batch costs one narrow pass + an ~8 KB collect. No per-iteration
    rounding here — the streaming model is not oracle-gated (its batch
    twin ``corpus_lr_loop2`` is).

    Returns (query, state) — ``state.w`` / ``state.b`` update as
    batches commit; stop the query to freeze the model.
    """
    import numpy as np

    from kmeans_mapreduce_spark.operators import logreg as lg

    buckets = lg.LR_BUCKETS if buckets is None else buckets
    lr = lg.CLS_RATE if lr is None else lr
    n_extra = lg.N_ENGINEERED if engineered else 0

    class _State:
        def __init__(self):
            self.w = np.zeros(buckets + n_extra)
            self.b = 0.0
            self.batches = 0
            self.seen = 0

    state = _State()

    def update(batch_df, _bid):
        feats = lg.featurized(
            batch_df, buckets, binary=binary, engineered=engineered
        )
        parts = lg._partials(feats, state.w, state.b, buckets, n_extra).collect()
        if not parts:
            return
        n = sum(p["n"] for p in parts)
        g = np.sum([np.asarray(p["g"]) for p in parts], axis=0)
        gb = sum(p["gb"] for p in parts)
        state.w = state.w - lr * (g / n)
        state.b = state.b - lr * (gb / n)
        state.batches += 1
        state.seen += n

    _require_fresh_checkpoint(checkpoint_dir, "stream_logreg_sgd")
    q = (
        doc_stream.writeStream.foreachBatch(update)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, state


def stream_span_first_seen(
    stream: DataFrame, span_words: int = 10
) -> DataFrame:
    """Stateful streaming span-level first-occurrence tracking — the
    streaming twin of ``operators.dedup.span_dedup``'s keep-first rule:
    as documents arrive, every ``span_words``-word span is checked
    against cross-batch state keyed by its 60-bit fingerprint, and the
    running lexicographically-least (doc_id, pos) owner plus the
    occurrence count are maintained. A continuous ingestion pipeline
    uses the ``is_new`` flag to emit only never-seen spans downstream
    (the streaming form of span dedup); a bounded replay's folded
    final state equals the batch keep-first winners exactly.

    State: one small record per distinct span fingerprint (at scale:
    RocksDB backend + TTL, same dial as stream_dedup_exact). Each
    batch shuffles only its own exploded span rows, keyed by the
    fingerprint — uniform by construction.

    Output per batch per touched fingerprint: (span_fp, first_doc_id,
    first_pos, n_occurrences, is_new).
    """
    import pandas as pd

    from kmeans_mapreduce_spark.functions.hashing import h64

    out_schema = (
        "span_fp LONG, first_doc_id LONG, first_pos INT, "
        "n_occurrences BIGINT, is_new BOOLEAN"
    )
    state_schema = "first_doc_id LONG, first_pos INT, n_occurrences BIGINT"

    def fn(key, pdfs, state):
        fp = key[0]
        if state.exists:
            fd, fpos, n = state.get
            new = False
        else:
            fd, fpos, n = None, None, 0
            new = True
        for pdf in pdfs:
            for d, p in sorted(
                zip(
                    (int(x) for x in pdf["doc_id"]),
                    (int(x) for x in pdf["pos"]),
                )
            ):
                if fd is None or (d, p) < (fd, fpos):
                    fd, fpos = d, p
                n += 1
        state.update((fd, fpos, n))
        yield pd.DataFrame(
            {
                "span_fp": [fp],
                "first_doc_id": [fd],
                "first_pos": [fpos],
                "n_occurrences": [n],
                "is_new": [new],
            }
        )

    # the batch operator's own span definition (dedup.span_rows) runs
    # unchanged on the streaming frame — ONE definition, no drift
    from kmeans_mapreduce_spark.operators.dedup import span_rows

    spans = span_rows(stream, span_words).select(
        h64(F.col("span")).alias("span_fp"), "doc_id", "pos"
    )
    return spans.groupBy("span_fp").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def stream_dedup_exact_tws(stream: DataFrame) -> DataFrame:
    """:func:`stream_dedup_exact` on Spark 4's
    ``transformWithStateInPandas`` — the NEW arbitrary-state API
    (SPARK-46815): a ``StatefulProcessor`` object with named,
    schema'd state primitives (``ValueState`` here; ListState/MapState
    and per-key timers exist) instead of applyInPandasWithState's
    single implicit tuple. Same semantics, same output schema, same
    shared ``content_fp`` — and the per-key fold itself is ONE shared
    function (``_dedup_fold_batch``), so the two APIs cannot drift;
    each API's test pins the same expected rows (the TWS one only runs
    where protobuf exists — see below). Requires the RocksDB state
    store provider (the API is built on its changelog support), which
    is the production backend anyway.

    DEPENDENCY: the TWS driver-side protocol needs the ``protobuf``
    Python package (``pyspark.sql.streaming.proto``), which this
    container does not ship — the test skips cleanly when
    ``google.protobuf`` is absent, and the applyInPandasWithState form
    above remains the tested default. On a real cluster (protobuf is
    in pyspark's install_requires) this path runs as written.
    """
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor

    from kmeans_mapreduce_spark.operators.dedup import content_fp

    class _DedupProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._st = handle.getValueState(
                "dedup", "keep_doc_id LONG, min_doc_id LONG, n_copies BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            fp = key[0]
            prior = tuple(self._st.get()) if self._st.exists() else None
            keep, mn, n, new = _dedup_fold_batch(prior, rows)
            self._st.update((keep, mn, n))
            yield _dedup_out_row(fp, keep, mn, n, new)

        def close(self) -> None:
            pass

    fps = stream.select(content_fp(F.col("text")).alias("fp"), "doc_id")
    return fps.groupBy("fp").transformWithStateInPandas(
        statefulProcessor=_DedupProcessor(),
        outputStructType=(
            "fp LONG, keep_doc_id LONG, min_doc_id LONG, n_copies BIGINT, "
            "is_new BOOLEAN"
        ),
        outputMode="Update",
        timeMode="None",
    )


def stream_sessionize_tws(
    stream: DataFrame,
    gap_sec: int | None = None,
    watermark_sec: int | None = None,
) -> DataFrame:
    """:func:`stream_sessionize` on Spark 4's
    ``transformWithStateInPandas`` with PER-KEY EVENT-TIME TIMERS —
    the state-v2 replacement for applyInPandasWithState's
    ``EventTimeTimeout``: idle eviction is an explicit
    ``handle.registerTimer(last+gap)`` re-armed on every update (stale
    timers deleted via ``listTimers``), and the flush happens in
    ``handleExpiredTimer`` when the watermark passes the registered
    event-time. The per-key fold is the SAME function as the v1
    operator (``_session_fold_batch``), so the two APIs cannot drift;
    the parity test pins identical closed-session rows from both on
    the same input. Same RocksDB/protobuf dependencies as
    :func:`stream_dedup_exact_tws` (tests activate the pbshim runtime;
    real clusters ship protobuf).

    Protocol-cost note (r10 verdict task 4): every ValueState/timer
    call is one blocking protobuf round-trip to the JVM state server,
    and that chatter — not Arrow transfer — is the TWS-vs-v1 gap the
    16× probe measures. This processor therefore budgets round-trips
    per key per batch: ``get()`` alone instead of ``exists()+get()``
    (None signals absence), and the armed timer's timestamp rides in
    the state row itself so stale-timer eviction is a direct
    ``deleteTimer(stored)`` with no ``listTimers`` scan — 3–4
    round-trips per key per batch versus 6 for the naive sequence.
    """
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor

    from kmeans_mapreduce_spark.operators.events import SESSION_GAP_SEC

    gap = SESSION_GAP_SEC if gap_sec is None else gap_sec
    evict = watermark_sec is not None
    out_schema = (
        "user_id BIGINT, session_start BIGINT, session_end BIGINT, "
        "n_events BIGINT, value_sum DOUBLE"
    )
    out_cols = [
        "user_id", "session_start", "session_end", "n_events", "value_sum",
    ]

    class _SessionProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            # 6th field: the armed timer's timestamp (ms; 0 = none) —
            # carried in state so stale-timer eviction needs no
            # listTimers round-trip (this operator registers exactly
            # one live timer per key, so the stored value is complete)
            self._st = handle.getValueState(
                "session",
                "session_start BIGINT, last_ts BIGINT, n_events BIGINT, "
                "value_sum DOUBLE, prev_end BIGINT, timer_ms BIGINT",
            )

        def handleInputRows(self, key, rows, timerValues):
            user_id = key[0]
            row = self._st.get()  # None ⇔ absent: no exists() round-trip
            prior = None if row is None else tuple(row[:5])
            prev_timer = 0 if row is None else int(row[5])
            batch = pd.concat(list(rows), ignore_index=True)
            closed, new_state = _session_fold_batch(
                user_id, prior, batch, gap
            )
            if new_state is not None:
                t = 0
                if evict:
                    # re-arm the idle flush: one live timer per key at
                    # event-time last+gap (ms), clamped above the
                    # watermark like the v1 setTimeoutTimestamp
                    t = max(
                        (new_state[1] + gap) * 1000,
                        timerValues.getCurrentWatermarkInMs() + 1,
                    )
                self._st.update((*new_state, t))
                if evict and t != prev_timer:
                    if prev_timer:
                        self._handle.deleteTimer(prev_timer)
                    self._handle.registerTimer(t)
            if closed:
                yield pd.DataFrame(closed, columns=out_cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            user_id = key[0]
            row = self._st.get()
            if row is not None:
                s0, last, n, vs, _pe, _t = tuple(row)
                self._st.clear()
                yield pd.DataFrame(
                    [(user_id, s0, last, n, vs)], columns=out_cols
                )

        def close(self) -> None:
            pass

    cols = [
        "user_id",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
        "event_id",
        "value",
    ]
    if evict:
        e = (
            stream.withColumn(
                "event_time",
                F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000))),
            )
            .withWatermark("event_time", f"{watermark_sec} seconds")
            .select(*cols, "event_time")
        )
        time_mode = "EventTime"
    else:
        e = stream.select(*cols)
        time_mode = "None"
    return e.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_SessionProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode=time_mode,
    )


def stream_rollup_maintain(
    stream: DataFrame, target_path: str, checkpoint_dir: str
):
    """Streaming side of
    :func:`~kmeans_mapreduce_spark.operators.events.incremental_rollup`:
    each micro-batch's per-(event_type, hour) partials — (count, exact
    int64-cents sum) — fold ADDITIVELY into a parquet state table via
    ``foreachBatch``. Same mergeable state, same arithmetic, batch and
    streaming: the maintained table is bit-identical to a full batch
    recompute at any point the stream drains.

    State lives in the TARGET TABLE, not the state store — so the
    group count is unbounded for free (no watermark needed for an
    ever-growing hour axis) and the serving table IS the state, the
    shape a 100 TB rollup needs. The additive merge is NOT naturally
    idempotent (a replayed batch would double-count — unlike
    :func:`stream_merge_upsert`, whose latest-version-wins merge
    re-applies harmlessly), so every state row carries the applying
    micro-batch id and a batch with id ≤ the committed max is skipped:
    idempotence at micro-batch granularity over at-least-once delivery,
    the standard transactional-sink recipe without a transaction log
    (file-source + availableNow batch ids are deterministic on
    replay). The write reuses ``merge_upsert``'s staged-rename
    generation swap, so a crash mid-write never loses the committed
    generation.
    """
    from kmeans_mapreduce_spark.sources.loaders import (
        _recover_generation,
        _swap_generations,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        _recover_generation(target_path)
        from kmeans_mapreduce_spark.operators.events import value_cents
        cents = value_cents()
        part = (
            batch_df.select(
                "event_type",
                F.expr(floor_div(floor_div("ts", 1_000_000_000), 3600)).alias(
                    "hour"
                ),
                cents.alias("cents"),
            )
            .groupBy("event_type", "hour")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("cents_sum"),
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        if os.path.isdir(target_path):
            state = spark.read.parquet(target_path)
            committed = state.agg(F.max("batch_id")).collect()[0][0]
            if committed is not None and int(batch_id) <= int(committed):
                return  # replayed batch — already folded in
            part = state.unionByName(part)
        merged = part.groupBy("event_type", "hour").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents_sum").alias("cents_sum"),
            F.max("batch_id").alias("batch_id"),
        )
        merged.write.mode("overwrite").parquet(f"{target_path}._staged")
        _swap_generations(target_path)

    return (
        stream.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_m4_maintain(
    stream: DataFrame, target_path: str, checkpoint_dir: str
):
    """Streaming side of
    :func:`~kmeans_mapreduce_spark.operators.events.m4_downsample` —
    the live dashboard maintainer: each micro-batch's per-(event_type,
    hour-bucket) M4 partials fold into a parquet state table via
    ``foreachBatch``. All four M4 components are MERGEABLE, which is
    why M4 (unlike, say, an exact median) can be maintained
    incrementally at all: count and min/max cents merge trivially;
    first/last merge as struct MIN/MAX over (ts_sec, event_id, cents)
    — the unique (ts_sec, event_id) prefix decides every comparison,
    so the merged state is bit-identical to a from-scratch batch M4
    whenever the stream drains.

    Same state-in-the-target / batch-id-idempotence / staged-swap
    contract as :func:`stream_rollup_maintain` (min/max/struct-extrema
    ARE naturally idempotent, but count is not — the batch-id guard
    covers the union).
    """
    from kmeans_mapreduce_spark.sources.loaders import (
        _recover_generation,
        _swap_generations,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        _recover_generation(target_path)
        from kmeans_mapreduce_spark.operators.events import value_cents
        cents = value_cents()
        ts_sec = floor_div("ts", 1_000_000_000)
        base = batch_df.select(
            "event_type",
            F.expr(floor_div(ts_sec, 3600)).alias("bucket"),
            F.expr(ts_sec).alias("ts_sec"),
            "event_id",
            cents.alias("cents"),
        )
        key = F.struct("ts_sec", "event_id", "cents")
        part = base.groupBy("event_type", "bucket").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.min(key).alias("first_key"),
            F.max(key).alias("last_key"),
        ).withColumn("batch_id", F.lit(int(batch_id)))
        if os.path.isdir(target_path):
            state = spark.read.parquet(target_path)
            committed = state.agg(F.max("batch_id")).collect()[0][0]
            if committed is not None and int(batch_id) <= int(committed):
                return  # replayed batch — already folded in
            part = state.unionByName(part)
        merged = part.groupBy("event_type", "bucket").agg(
            F.sum("n_events").alias("n_events"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
            F.min("first_key").alias("first_key"),
            F.max("last_key").alias("last_key"),
            F.max("batch_id").alias("batch_id"),
        )
        merged.write.mode("overwrite").parquet(f"{target_path}._staged")
        _swap_generations(target_path)

    return (
        stream.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_versioned_append(
    stream: DataFrame, table_path: str, checkpoint_dir: str
):
    """Exactly-once STREAM → VERSIONED TABLE: each micro-batch commits
    one ``mode="append"`` version via the transaction log
    (:func:`~kmeans_mapreduce_spark.sources.loaders.commit_version`),
    with the micro-batch id recorded in the manifest — a replayed
    batch (id ≤ the latest committed batch id; file-source +
    availableNow ids are deterministic) is SKIPPED before writing any
    data, so at-least-once delivery becomes exactly-once table
    contents. This completes the transactional-sink story: the rollup
    maintainers fold into mutable state tables; this appends immutable
    versions a reader can time-travel — the raw-ingest landing zone
    shape.
    """
    import json
    import os
    import uuid

    from kmeans_mapreduce_spark.sources.loaders import (
        _latest_version,
        _read_manifest,
        commit_version,
    )

    # The stream's high-water batch id ALSO lives in a sidecar that
    # vacuum never prunes (vacuum_versions deletes only numbered
    # <N>.json manifests): without it, retention could sweep every
    # manifest carrying a batch_id, and a later checkpoint reset would
    # silently lower the guard and re-commit replayed batches
    # (round-8 advice fix). The sidecar is advisory-redundant with the
    # manifests while they live; it becomes the guard of record after
    # they are vacuumed.
    hwm_path = os.path.join(table_path, "_log", "_stream_hwm.json")

    def _read_hwm() -> int:
        try:
            with open(hwm_path) as f:
                return int(json.load(f)["batch_id"])
        except (OSError, ValueError, KeyError):
            return -1

    def _advance_hwm(batch_id: int) -> None:
        # monotonic publish: fsync-then-rename, never lowering the mark
        if _read_hwm() >= batch_id:
            return
        tmp = f"{hwm_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"batch_id": int(batch_id)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, hwm_path)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # the guard scans ALL retained manifests, not just the latest:
        # an interleaved commit_version by another job (no batch_id)
        # must not mask the stream's high-water mark
        latest = _latest_version(table_path)
        committed = _read_hwm()
        if latest is not None:
            for v in range(latest + 1):
                try:
                    b = _read_manifest(table_path, v).get("batch_id")
                except FileNotFoundError:
                    continue  # vacuumed
                if b is not None:
                    committed = max(committed, int(b))
        if int(batch_id) <= committed:
            return  # replayed batch — version already committed
        # the batch id rides INSIDE the atomically-linked manifest
        # (commit_version extra): a post-commit stamp would leave a
        # crash window where the version exists without its idempotence
        # key and the replayed batch would commit the rows twice
        commit_version(
            batch_df.sparkSession,
            table_path,
            batch_df,
            mode="append",
            extra={"batch_id": int(batch_id)},
        )
        # sidecar advance AFTER the commit point: a crash between the
        # two leaves the manifest as the (sufficient) guard; the next
        # successful batch re-advances the sidecar
        _advance_hwm(int(batch_id))

    return (
        stream.writeStream.foreachBatch(apply)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
