"""Bounded streaming replays under the oracle gate, and their harness.

Each ``*_replay`` query drains a bounded table through a streaming
operator (availableNow trigger) and returns what the stream left: the
drained sink or the maintained state. By replay parity that equals a
batch query, which is its DuckDB twin, so the gate certifies the
streaming operator itself, not just pytest. Same ``@query`` contract as
``queries.py``.

Every harness decision is made once, here:

- :func:`_stream`: the file-stream source (schema, glob filter, files
  per micro-batch, events ``ts`` normalization);
- :func:`_drain_bounded_replay`: memory sink under a unique name, in a
  bounded shuffle-partition scope, its view dropped once read;
- :func:`_maintain_replay`: a ``foreachBatch`` maintainer's parquet
  state, materialized, its work dir removed;
- :func:`_await_replay`: wait or raise ``TimeoutError``, then record
  the micro-batch progress in ``REPLAY_PROGRESS``;
- :func:`_scoped_conf`: session confs set for one replay and restored
  after (shuffle partitions, the TWS state-store provider).

Twin constants that batch queries share (the as-of event types, the
range horizon, the rollup/M4/sessionize SQL) stay in ``extensions.py``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
import zlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kmeans_mapreduce_spark.barrier import narrow_barrier
from kmeans_mapreduce_spark.extensions import (
    _M4_SQL,
    _ROLLUP_RECOMPUTE_SQL,
    _SESSIONIZE_SQL,
    ASOF_LEFT_TYPE,
    ASOF_RIGHT_TYPE,
    RANGE_HORIZON_SEC,
)
from kmeans_mapreduce_spark.functions.hashing import h64_sql
from kmeans_mapreduce_spark.operators import dedup as dd
from kmeans_mapreduce_spark.operators import events as ev
from kmeans_mapreduce_spark.operators import sketches as sk
from kmeans_mapreduce_spark.operators.events import floor_div
from kmeans_mapreduce_spark.queries import _R_STREAM, query
from kmeans_mapreduce_spark.sources.loaders import (
    load_table,
    normalize_events_ts,
    parquet_schema,
)
from kmeans_mapreduce_spark.streaming import stream_ops as so

STREAM_WATERMARK_SEC = 600  # shared by the join replays and their twins
ENRICH_DIM_CUTOFF = 100  # stream-static enrich dim truncation: users at or
# above this custkey exercise the left join's no-match null path
ONE_BATCH = 1_000_000  # maxFilesPerTrigger above any file count: a
# single-batch replay, where the watermark (computed at batch end) drops
# nothing


# ---------------------------------------------------------------------------
# The harness
# ---------------------------------------------------------------------------

# Setup-vs-compute accounting for the bench-tracked streaming replays
# (r12 verdict task 2): a replay's wall is stream-start + state-store
# setup + trigger scheduling PLUS the actual micro-batch processing;
# only the latter is operator cost. Each replay records its last run's
# per-batch progress here; bench.py reads it after timing the query
# and derives setup ≈ wall − batch-processing, so cross-round
# comparisons can separate trigger-cadence drift from plan regressions.
REPLAY_PROGRESS: dict[str, dict] = {}


REPLAY_SHUFFLE_PARTITIONS = 8
"""Shuffle-partition count pinned for the work-bound bounded replays
(r13 verdict task 1): tumbling-window aggregates, session windows,
funnel, the HLL/span/corpus dedups. Stateful streaming instantiates one
state store PER shuffle partition (several per partition for a
stream-stream join) and AQE is disabled for stateful workloads, so the
replays were paying 32-way state-store init/commit for ≤120k keys —
11+ s of the clean bench on the join replay alone, and the entire
steal-amplification surface on loaded boxes. The drained row-SET is
partition-invariant (the gate sorts before hashing), so the count only
changes overhead, never results. This bounds the gated REPLAY harness,
not the production operators — a real cluster job sizes shuffle
partitions to its key cardinality as usual.

The store-bound replays (native dedup, stream-stream join and its
left-outer variant, stream-static enrich), whose wall is state-store
init/commit rather than per-key work, are sized from their input bytes
instead (:func:`_input_sized_partitions`); the TTL dedups use
:func:`_keyed_partitions`. The work-bound replays keep this count:
at sf0.1 on 4 cores, one partition raised the session replay's median
wall from 4.5 to 6.7 s and the funnel's from 4.1 to 5.8 s."""


def _keyed_partitions(spark: SparkSession) -> int:
    """Partition count for the replays whose wall is PER-KEY PYTHON work
    (the TTL dedups: one Arrow batch + state protocol round-trips per
    key inside the stateful stage): one per core, the session's
    ``defaultParallelism``. r13's fixed 8 was sized for store-INIT-bound
    replays (the stream-stream join instantiates several stores per
    partition); for the key-bound replays it left 24 of 32 cores idle —
    measured r16 (tools/replay_partitions_ab.py, two windows): v1 TTL
    7.4→5.4 s and TWS 8.4→6.9 s at 32 partitions vs 8. The drained
    row-SET is partition-invariant (the gate sorts before hashing),
    re-verified against the oracle at this count."""
    return spark.sparkContext.defaultParallelism


def _input_sized_partitions(spark: SparkSession, path: str) -> int:
    """Shuffle-partition count for a store-bound replay of ``path`` (a
    parquet file or a directory of them): one partition per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of input,
    clamped to [1, cores]. Each partition costs its state stores' init
    and commit (on a box without Hadoop native IO, a ``chmod`` process
    per checkpoint file), so a replay of a few MB gets one partition."""
    if os.path.isdir(path):
        n_bytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        n_bytes = os.path.getsize(path)
    jutils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    advisory = jutils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, -(-n_bytes // advisory)))


def _stream(
    spark: SparkSession,
    directory: str,
    glob: str = "events.parquet",
    *,
    max_files: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """The bounded file stream a replay reads: the parquet files of
    ``directory`` matching ``glob`` (the file-stream source requires a
    DIRECTORY, so a table's one file is glob-filtered out of the shared
    sf_dir), with that file's schema unless ``schema`` is given, at most
    ``max_files`` files per micro-batch when set. An events ``ts`` of
    any vintage is normalized to epoch-nanos, as the batch loader
    does."""
    reader = spark.readStream.schema(
        schema or parquet_schema(spark, f"{directory}/{glob}")
    ).option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    stream = reader.parquet(directory)
    return normalize_events_ts(stream) if "ts" in stream.columns else stream


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then restore each
    prior value (or unset it). A streaming query captures the conf at
    ``start()``, and availableNow has fully drained by the time
    :func:`_await_replay` returns, so nothing leaks into the session."""
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _record_replay_progress(name: str, q) -> None:
    """Fold a finished StreamingQuery's recentProgress into
    REPLAY_PROGRESS[name]: micro-batch count, summed triggerExecution
    (the whole per-batch wall Spark attributes to processing) and
    summed addBatch (the sink/exec slice). Best-effort — progress
    introspection must never fail a gated query."""
    try:
        prog = [p for p in (q.recentProgress or []) if p]
        dur = [p.get("durationMs") or {} for p in prog]
        REPLAY_PROGRESS[name] = {
            "n_batches": len(prog),
            "n_data_batches": sum(
                1 for p in prog if (p.get("numInputRows") or 0) > 0
            ),
            "trigger_exec_ms": int(
                sum(d.get("triggerExecution", 0) for d in dur)
            ),
            "add_batch_ms": int(sum(d.get("addBatch", 0) for d in dur)),
        }
    except Exception:  # noqa: BLE001 — accounting only, never gate-fatal
        pass


def _await_replay(q, name: str, timeout_sec: int = 300) -> None:
    """Wait for the availableNow query ``q`` to drain; stop it and
    refuse to gate a partial result if it does not finish in
    ``timeout_sec``. Records its progress under ``name``."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{name}: streaming replay did not finish in {timeout_sec} s"
            " — refusing to gate a partial result"
        )
    _record_replay_progress(name, q)


def _drain_bounded_replay(
    spark: SparkSession, out: DataFrame, name: str, mode: str,
    shuffle_partitions: int = REPLAY_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Drain ``out`` into a memory sink under a unique query name, in a
    bounded shuffle-partition scope (state-store count:
    REPLAY_SHUFFLE_PARTITIONS for the work-bound replays,
    :func:`_keyed_partitions` for the TTL dedups,
    :func:`_input_sized_partitions` for the store-bound native dedup,
    stream-stream joins and enrich). Returns the drained sink; its temp
    view is dropped once the DataFrame is analyzed, so the session
    keeps no view (or its rows) after the frame is gone."""
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    with _scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    ):
        _await_replay(
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start(),
            name,
        )
    sink = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return sink


def _maintain_replay(
    spark: SparkSession, stream: DataFrame, name: str, maintain: Callable,
    prefix: str,
) -> DataFrame:
    """Replay ``stream`` through the ``foreachBatch`` maintainer
    ``maintain(stream, target, checkpoint)``, whose state lives in a
    parquet target table, and return that final state. The state is
    small (one row per group) and is materialized before the ``mkdtemp``
    work dir (named ``prefix*``) holding it and the checkpoint is
    removed."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        _await_replay(
            maintain(stream, f"{work}/state", f"{work}/ckpt"), name
        )
        state = narrow_barrier(spark.read.parquet(f"{work}/state"))
        state.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return state


@contextlib.contextmanager
def _activate_pbshim(spark: SparkSession) -> Iterator[None]:
    """Make the protobuf runtime reachable by the TWS protocol in ANY
    process (r12 verdict task 6 — this closes the 'TWS executes only
    under the test PYTHONPATH' split). Two halves:

    - DRIVER: if no real ``google.protobuf`` runtime is importable,
      execute ``tools/pbshim/sitecustomize.py`` directly (it purges
      half-resolved namespace portions, appends the google-cloud-sdk
      copy to sys.path and relaxes the one-minor-behind gencode
      check; no-op when a real runtime exists or the SDK is absent).
    - TWS WORKERS: the JVM spawns them with the envVars each UDF
      captured from ``sc.environment`` at plan-build time — NOT the
      JVM's own launch env — so prepending the shim dir to
      ``sc.environment['PYTHONPATH']`` BEFORE building the TWS plan
      puts ``sitecustomize`` on every worker's import path (measured:
      without it the 'TransformWithStateInPySpark driver worker'
      crashes in a no-PYTHONPATH gate process; with it the query
      drains green).

    The ``sc.environment`` mutation is captured into every UDF plan
    built inside the block, so the prior value is restored when the
    block exits (the stream has drained by then) — otherwise every
    later, unrelated Python worker in the session would auto-import
    the shim at interpreter start (a session-global side effect the
    bench would bill to other queries)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim = os.path.join(root, "tools", "pbshim")
    try:
        from google.protobuf import descriptor  # noqa: F401 — real runtime
    except ImportError:
        spec = importlib.util.spec_from_file_location(
            "_pbshim_sitecustomize", os.path.join(shim, "sitecustomize.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)  # runs _activate() at import
    env = spark.sparkContext.environment
    had = "PYTHONPATH" in env
    prev = env.get("PYTHONPATH", "")
    if shim not in prev.split(os.pathsep):
        env["PYTHONPATH"] = shim + (os.pathsep + prev if prev else "")
    try:
        yield
    finally:
        if had:
            env["PYTHONPATH"] = prev
        else:
            env.pop("PYTHONPATH", None)


# the state-store provider transformWithStateInPandas requires
ROCKSDB_PROVIDER = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def _reap_orphaned_split_dirs(live: str) -> None:
    """Prune sibling PID-keyed split dirs whose owning process is gone
    (ADVICE r15): each dir holds a full parquet copy of the events
    table, so crashed/exited sessions would otherwise accumulate them
    unboundedly across repeated runs and parallel pytest workers. A
    dir is reaped only when its embedded PID no longer exists — a
    LIVE process's split is never touched (the r14 concurrency fix
    stands). This process also registers an atexit removal of its own
    dir. Best-effort: cleanup must never fail a gated query."""
    import atexit
    import glob as _glob
    import re

    try:
        pat = os.path.join(
            tempfile.gettempdir(), "spark_graft_outer_split_*_*"
        )
        for d in _glob.glob(pat):
            if d == live:
                continue
            m = re.search(r"_(\d+)$", d)
            if not m:
                continue
            try:
                os.kill(int(m.group(1)), 0)
            except ProcessLookupError:
                shutil.rmtree(d, ignore_errors=True)
            except (PermissionError, OSError):
                pass  # PID exists (or unknowable): leave it alone
        if live not in _SPLIT_DIRS_ATEXIT:
            _SPLIT_DIRS_ATEXIT.add(live)
            atexit.register(shutil.rmtree, live, ignore_errors=True)
    except Exception:  # noqa: BLE001 — cleanup is advisory only
        pass


_SPLIT_DIRS_ATEXIT: set[str] = set()
# the split's columns, ts already epoch-nanos (see below)
_SPLIT_SCHEMA = (
    "user_id LONG, event_type STRING, event_id LONG, ts LONG, value DOUBLE"
)


def _write_event_time_ordered_split(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> str:
    """Pinned EVENT-TIME-ORDERED n-file split of the events table for
    the outer-join replay (r13 verdict task 5): rows sorted by
    (ts, event_id), cut into equal runs, one parquet FILE per run with
    strictly increasing mtimes so FileStreamSource's
    modification-time ordering replays them as ordered micro-batches
    under maxFilesPerTrigger=1. Ordered batches mean no row is ever
    behind the watermark and no left row can expire before its
    horizon's matches arrive — which is exactly what makes the
    deferred-null set deterministic (= the final-watermark rule the
    twin computes). Deterministic + idempotent: same input -> same
    files, rebuilt on every call.

    Replay-harness scope: the global sort is one bounded exchange over
    the replayed vintage; a production job replays from an already
    time-ordered log instead."""
    import glob as _glob

    # keyed by (sf_dir, PID): two concurrent sessions on the same
    # sf_dir (parallel pytest workers, a sweep overlapping a bench)
    # must never rmtree/rewrite the split while the other's
    # FileStreamSource is mid-replay (ADVICE r14)
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_outer_split_%08x_%d"
        % (zlib.crc32(sf_dir.encode()) & 0xFFFFFFFF, os.getpid()),
    )
    _reap_orphaned_split_dirs(live=out)
    # load_table normalizes ts to epoch-nanos BIGINT BEFORE writing: the
    # replay reads the split with a fixed LONG schema, and a
    # TIMESTAMP-micros vintage written as-is would be silently
    # reinterpreted as LONG micros (1000x off — every event lands inside
    # every horizon)
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    # ONE ranking pass: the row count rides along as a window over the
    # same single sorted partition, and one partitioned write emits
    # every run (file i holds ranks i*per+1 .. (i+1)*per)
    n = F.count(F.lit(1)).over(Window.partitionBy())
    rn = F.row_number().over(Window.orderBy(F.asc("ts"), F.asc("event_id")))
    per = F.ceil(n / F.lit(n_files))
    ranked = e.select("*", rn.alias("_rn"), n.alias("_n")).select(
        "*", F.floor((F.col("_rn") - 1) / per).alias("_file")
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(out, "_stage")
    (
        ranked.sortWithinPartitions("_file", "_rn")
        .drop("_rn", "_n")
        .write.partitionBy("_file")
        .parquet(tmp)
    )
    for i in range(n_files):
        part = _glob.glob(os.path.join(tmp, f"_file={i}", "part-*.parquet"))[0]
        dst = os.path.join(out, f"{i:02d}.parquet")
        shutil.move(part, dst)
        # strictly increasing, deterministic mtimes: the file-source
        # ordering must never depend on write-latency luck
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp)
    return out


def _ttl_dedup_replay_sql() -> str:
    """The batch-LAG twin shared by the v1 and TWS TTL-dedup replays:
    emission is arrival-only on both APIs, so a single-micro-batch
    in-order replay equals this window formulation exactly."""
    return f"""
WITH e AS (
  SELECT user_id, event_type, event_id,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events
),
l AS (
  SELECT *, ts_sec - lag(ts_sec) OVER (
      PARTITION BY user_id, event_type ORDER BY ts_sec, event_id
    ) AS gap_sec
  FROM e
)
SELECT user_id, event_type, event_id, ts_sec, gap_sec
FROM l WHERE gap_sec IS NULL OR gap_sec > {so.TTL_DEDUP_SEC}"""


def _stream_hll_oracle() -> str:
    u = sk.hll_sql("user_id::VARCHAR", "event_type", "events", "sr")
    return f"""
WITH {u}
SELECT g AS event_type, bucket::BIGINT AS bucket, m_j::BIGINT AS m_j
FROM reg_sr"""


# ---------------------------------------------------------------------------
# The replays
# ---------------------------------------------------------------------------


# batch twin of the STATEFUL streaming dedup: a full bounded
# replay collapses the fingerprint state to this GROUP BY
@query(unbenched=_R_STREAM, twin=lambda: f"""
SELECT {h64_sql("lower(trim(text))")} AS fp,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*)::BIGINT AS n_copies
FROM documents GROUP BY 1""")
def q_corpus_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second streaming artifact under the gate: the STATEFUL
    cross-batch exact-dedup operator (applyInPandasWithState keyed by
    content fingerprint) replayed over the bounded documents table.
    After a full replay the state collapses to one row per distinct
    fingerprint — keeper = lowest doc_id, n_copies = duplicate count —
    which is exactly the batch GROUP BY the DuckDB twin runs."""
    out = so.stream_dedup_exact(_stream(spark, sf_dir, "documents.parquet"))
    sink = _drain_bounded_replay(
        spark, out, "corpus_stream_dedup_replay", "update"
    )
    # update mode emits one row per fp per batch it appeared in; fold
    # to the FINAL state so the result is batching-invariant —
    # availableNow may split the input into several micro-batches on
    # other source configurations. The operator's running min_doc_id
    # (not its first-wins keeper, which is arrival-order-dependent) is
    # what equals the oracle's global MIN(doc_id).
    return (
        sink.groupBy("fp")
        .agg(
            F.min("min_doc_id").alias("keep_doc_id"),
            F.max("n_copies").alias("n_copies"),
        )
    )


@query(unbenched=_R_STREAM, twin=lambda: _ROLLUP_RECOMPUTE_SQL)
def q_events_stream_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_rollup_incremental`` under the gate:
    the bounded events table replayed through
    ``stream_rollup_maintain`` — per-micro-batch mergeable partials
    folded additively into a parquet state table (state in the target,
    batch-id idempotence) — then the final state read back. The oracle
    is the SAME full-recompute SQL as the batch incremental rollup, so
    the gate certifies that the streaming maintainer and a from-scratch
    aggregate agree bit-for-bit (exact int64-cents state)."""
    state = _maintain_replay(
        spark, _stream(spark, sf_dir), "events_stream_rollup_replay",
        so.stream_rollup_maintain, "rollup_state_",
    )
    return state.select(
        "event_type",
        "hour",
        "n_events",
        (F.col("cents_sum") / F.lit(100.0)).alias("value_sum"),
    )


# the SAME full-recompute M4 twin gates the streaming
# maintainer: maintained ≡ recomputed, the rollup contract
@query(unbenched=_R_STREAM, twin=lambda: _M4_SQL)
def q_events_stream_m4_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_m4`` under the gate: the bounded
    events table replayed through ``stream_m4_maintain`` (mergeable
    min/max/struct-extrema M4 partials, state in the target table,
    batch-id idempotence), final state read back and rendered as the
    batch M4 columns. The oracle is the SAME full-recompute M4 twin —
    the gate certifies maintained ≡ recomputed for the dashboard
    state, exactly as the rollup replay does for count/sum."""
    state = _maintain_replay(
        spark, _stream(spark, sf_dir), "events_stream_m4_replay",
        so.stream_m4_maintain, "m4_state_",
    )
    return state.select(
        "event_type",
        "bucket",
        "n_events",
        (F.col("min_cents") / F.lit(100.0)).alias("v_min"),
        (F.col("max_cents") / F.lit(100.0)).alias("v_max"),
        (F.col("first_key.cents") / F.lit(100.0)).alias("v_first"),
        (F.col("last_key.cents") / F.lit(100.0)).alias("v_last"),
    )


# batch twin of the STREAMING window aggregation: replay parity
# means the streaming complete-mode state over bounded input
# equals this one-shot tumbling-window GROUP BY
@query(unbenched=_R_STREAM, twin=lambda: f"""
WITH e AS (
  SELECT event_type, value,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events
)
SELECT ((ts_sec // {ev.WINDOW_SEC}) * {ev.WINDOW_SEC})::BIGINT AS window_start,
       event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_sum
FROM e GROUP BY 1, 2""")
def q_events_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming artifact under the batch correctness gate:
    replay the bounded events table through the streaming tumbling-
    window aggregation (``stream_window_counts``, complete output,
    availableNow trigger, memory sink) and return the final streaming
    state. By replay parity this equals the batch window aggregate —
    exactly what the DuckDB twin computes — so the driver's oracle row
    certifies the streaming operator's semantics, not just pytest."""
    agg = so.stream_window_counts(_stream(spark, sf_dir), watermark_sec=None)
    return _drain_bounded_replay(
        spark, agg, "events_stream_replay", "complete"
    ).select(
        F.unix_seconds(F.col("w.start")).alias("window_start"),
        "event_type",
        "n_events",
        F.round("value_sum", 2).alias("value_sum"),
    )


@query(
    unbenched=_R_STREAM,
    # streaming sessionizer replay: all sessions EXCEPT each user's
    # trailing one (only a later event closes a session when idle
    # eviction is off) — batching-invariant, so SQL-expressible
    twin=lambda: _SESSIONIZE_SQL
    + """,
agg AS (
  SELECT user_id, session_idx,
         MIN(ts_sec) AS session_start, MAX(ts_sec) AS session_end,
         COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_sum
  FROM sessions GROUP BY user_id, session_idx
),
last AS (SELECT user_id, MAX(session_idx) AS last_idx FROM agg GROUP BY user_id)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.value_sum
FROM agg a JOIN last l
  ON a.user_id = l.user_id AND a.session_idx < l.last_idx""",
)
def q_events_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third streaming artifact under the gate: the
    ``applyInPandasWithState`` sessionizer replayed over the bounded
    events table (no idle eviction). A session is emitted exactly when
    a LATER event of the same user closes it, so the final emitted set
    is every session except each user's trailing one — invariant to
    how availableNow splits micro-batches (the closing event fires in
    whichever batch it lands), hence SQL-expressible: the batch
    sessionize twin minus each user's last session."""
    sess = so.stream_sessionize(_stream(spark, sf_dir), watermark_sec=None)
    return _drain_bounded_replay(
        spark, sess, "events_stream_session_replay", "update"
    ).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("value_sum", 2).alias("value_sum"),
    )


# independently-formulated funnel: layered CTEs instead of the
# engine's chained withColumn windows; same (ts_sec, event_id)
# streaming funnel twin: the automaton's emitted rows, stated
# relationally — per user, step k's timestamp is the first
# step-k-typed event whose row already satisfies step k-1
# (running-min chain, (ts_sec, event_id) order); per-user
# aggregate MIN of each chained CASE equals the final running
# value, and completed steps emit one row each
@query(unbenched=_R_STREAM, twin=lambda: f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events
),
s0 AS (
  SELECT *, MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[0]}' THEN ts_sec END)
    OVER w AS q0
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s1 AS (
  SELECT *, MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[1]}'
                      AND q0 IS NOT NULL THEN ts_sec END) OVER w AS q1
  FROM s0 WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[2]}'
                      AND q1 IS NOT NULL THEN ts_sec END) OVER w AS q2
  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[0]}'
                  THEN ts_sec END) AS t1,
         MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[1]}'
                   AND q0 IS NOT NULL THEN ts_sec END) AS t2,
         MIN(CASE WHEN event_type = '{ev.FUNNEL_STEPS[2]}'
                   AND q1 IS NOT NULL THEN ts_sec END) AS t3
  FROM s2 GROUP BY user_id
)
SELECT user_id, 1 AS step, '{ev.FUNNEL_STEPS[0]}' AS step_type, t1 AS ts_sec
FROM pu WHERE t1 IS NOT NULL
UNION ALL
SELECT user_id, 2, '{ev.FUNNEL_STEPS[1]}', t2 FROM pu WHERE t2 IS NOT NULL
UNION ALL
SELECT user_id, 3, '{ev.FUNNEL_STEPS[2]}', t3 FROM pu WHERE t3 IS NOT NULL""")
def q_events_stream_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming FUNNEL under the gate: the bounded events
    table replayed through ``stream_funnel`` (the
    ``applyInPandasWithState`` step automaton — one small int of state
    per user, an event advances the funnel iff its type is the next
    uncompleted step) and the emitted step-completion rows drained to
    a memory sink. A step row is emitted exactly once, when its
    completing event is processed, so with the replay's event-time
    ordering the drained sink equals the relational running-window
    formulation row-for-row: step k's timestamp is the first
    step-k-typed event at-or-after step k−1 completed, ties broken by
    (ts_sec, event_id) on both sides."""
    fun = so.stream_funnel(_stream(spark, sf_dir))
    return _drain_bounded_replay(
        spark, fun, "events_stream_funnel_replay", "update"
    ).select("user_id", "step", "step_type", "ts_sec")


@query(twin=lambda: _ttl_dedup_replay_sql())
def q_events_stream_ttl_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked TTL-dedup under the gate: the bounded events table
    replayed through ``stream_dedup_ttl`` (debounce by
    (user_id, event_type): emit iff no same-key event in the
    preceding day of event time, every arrival refreshes the clock,
    EventTimeTimeout evicts expired keys) and the emitted rows
    drained to a memory sink. Emission happens only on arrival —
    timeouts are pure state cleanup — so a single-micro-batch replay
    (same invariant note as the stream-stream join replay) equals the
    batch LAG formulation and the DuckDB twin is the plain window
    query."""
    ded = so.stream_dedup_ttl(
        _stream(spark, sf_dir, max_files=ONE_BATCH), watermark_sec=600
    )
    return _drain_bounded_replay(
        spark, ded, "events_stream_ttl_dedup_replay", "update",
        shuffle_partitions=_keyed_partitions(spark),  # per-key-bound: r16
    ).select(
        "user_id", "event_type", "event_id", "ts_sec", "gap_sec"
    )


# the TWS variant shares the v1 fold (one _ttl_fold_batch),
# so its bounded single-batch replay has the SAME batch-LAG
# twin — gating it pins the transformWithStateInPandas
# protocol path itself (state server, timers, pbshim runtime)
@query(twin=lambda: _ttl_dedup_replay_sql())
def q_events_stream_ttl_dedup_tws_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TWS TTL-dedup under the gate (r12 verdict task 6): the same
    bounded single-batch replay as ``events_stream_ttl_dedup_replay``
    but through ``stream_dedup_ttl_tws`` — transformWithStateInPandas,
    named ValueState, per-key event-time timers, the RocksDB provider
    the API requires, and the protobuf state-server protocol — so the
    hash gate pins the state-v2 execution path itself, not just the
    v1 API. The fold is shared (``_ttl_fold_batch``), emission is
    arrival-only on both APIs, hence the twin is the identical batch
    LAG formulation. ``_activate_pbshim`` makes the protocol's
    protobuf runtime available in driver AND the JVM-spawned TWS
    workers regardless of the calling process's env."""
    # both session-global mutations (the pbshim env edit and the
    # provider conf) are scoped to the plan build and the drain
    with _activate_pbshim(spark), _scoped_conf(spark, ROCKSDB_PROVIDER):
        ded = so.stream_dedup_ttl_tws(
            _stream(spark, sf_dir, max_files=ONE_BATCH), watermark_sec=600
        )
        return _drain_bounded_replay(
            spark, ded, "events_stream_ttl_dedup_tws_replay", "update",
            shuffle_partitions=_keyed_partitions(spark),  # per-key-bound: r16
        ).select("user_id", "event_type", "event_id", "ts_sec", "gap_sec")


# native dropDuplicatesWithinWatermark: key columns only (which
# duplicate row survives is engine-arbitrary); single-batch
# bounded replay ≡ batch DISTINCT
@query(twin=lambda: (
    "SELECT DISTINCT user_id, event_type FROM events"
))
def q_events_stream_native_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE streaming dedup under the gate:
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+, the built-in
    bounded-state dedup — state per key evicted once the watermark
    passes, the production alternative to keep-all-keys
    ``dropDuplicates``). The engine's custom processors cover the
    debounce/TTL semantics the built-in lacks; this pins the built-in
    operator class itself. WHICH duplicate row survives is
    engine-arbitrary, so the replay projects the KEY COLUMNS only —
    over a single-batch bounded replay every key emits exactly once
    and the drained sink equals the batch DISTINCT row-for-row."""
    e = _stream(spark, sf_dir, max_files=ONE_BATCH).withColumn(
        "event_time",
        F.timestamp_seconds(F.expr(floor_div("ts", 1_000_000_000))),
    ).withWatermark("event_time", "600 seconds")
    ded = e.dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    ).select("user_id", "event_type")
    return _drain_bounded_replay(
        spark, ded, "events_stream_native_dedup_replay", "append",
        shuffle_partitions=_input_sized_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    )


# batch twin of the STREAMING inner interval join: an inner
# stream-stream join emits pairs on arrival (never on watermark
# timeout), so over bounded input it equals this relational
# interval join row-for-row
@query(twin=lambda: f"""
WITH e AS (
  SELECT user_id, event_id, event_type, value,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events
),
l AS (
  SELECT user_id, event_id, ts_sec AS l_ts_sec
  FROM e WHERE event_type = '{ASOF_LEFT_TYPE}'
),
r AS (
  SELECT user_id AS r_user, ts_sec AS r_ts_sec, value AS r_value
  FROM e WHERE event_type = '{ASOF_RIGHT_TYPE}'
)
SELECT l.user_id, l.event_id, l.l_ts_sec, r.r_ts_sec, r.r_value
FROM l JOIN r
  ON r.r_user = l.user_id
 AND r.r_ts_sec >= l.l_ts_sec
 AND r.r_ts_sec < l.l_ts_sec + {RANGE_HORIZON_SEC}""")
def q_events_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join under the gate: the bounded events table
    replayed through ``stream_stream_range_join`` (purchases of the
    same user within one hour after each click — the attribution
    join) and the matched pairs drained to a memory sink. An INNER
    stream-stream join emits each pair exactly once, as soon as both
    sides have arrived — never from a watermark timeout — so the
    drained sink equals the batch interval join — PROVIDED no input
    row is dropped as late. That only holds if micro-batch splits
    preserve event-time order (an out-of-order split could advance the
    watermark past still-unread rows), so the reader pins single-batch
    replay: ``maxFilesPerTrigger`` is set above the file count, making
    availableNow drain everything in ONE micro-batch where the
    watermark (computed at batch end) can drop nothing. (The
    left-outer variant's deferred-null emission IS watermark-dependent
    even single-batch — it is gated separately as
    ``events_stream_join_outer_replay`` over the pinned ordered split,
    with the final-watermark null rule in its twin.)"""
    joined = so.stream_stream_range_join(
        _stream(spark, sf_dir, max_files=ONE_BATCH),
        ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE, horizon_sec=RANGE_HORIZON_SEC,
    )
    return _drain_bounded_replay(
        spark, joined, "events_stream_join_replay", "append",
        shuffle_partitions=_input_sized_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    ).select(
        "user_id", "event_id", "l_ts_sec", "r_ts_sec", "r_value"
    )


# batch twin of the LEFT OUTER stream-stream join over the
# pinned ordered split: matched pairs emit on arrival exactly
# like the inner join; an unmatched left row emits nulls iff
# its horizon closes AT or before the FINAL watermark (the
# eviction boundary is inclusive — pinned by the strictness test)
# W = min(max l ts, max r ts) - delay (two per-branch
# watermarks, min-combined; rows still inside their horizon at
# end-of-stream never emit)
@query(twin=lambda: f"""
WITH e AS (
  SELECT user_id, event_id, event_type, value,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events
),
l AS (
  SELECT user_id, event_id, ts_sec AS l_ts_sec
  FROM e WHERE event_type = '{ASOF_LEFT_TYPE}'
),
r AS (
  SELECT user_id AS r_user, ts_sec AS r_ts_sec, value AS r_value
  FROM e WHERE event_type = '{ASOF_RIGHT_TYPE}'
),
wm AS (
  -- NULL when EITHER branch has no rows: a branch whose event type
  -- never appears keeps the min-combined Spark watermark at its
  -- initial value, so no left row ever evicts and no nulls emit —
  -- DuckDB's LEAST skips NULL (LEAST(NULL, x) = x), which would
  -- wrongly advance the twin's watermark on single-type vintages
  SELECT CASE WHEN ml.v IS NULL OR mr.v IS NULL
              THEN NULL ELSE LEAST(ml.v, mr.v) - {STREAM_WATERMARK_SEC}
         END AS w
  FROM (SELECT MAX(ts_sec) AS v FROM e
        WHERE event_type = '{ASOF_LEFT_TYPE}') ml,
       (SELECT MAX(ts_sec) AS v FROM e
        WHERE event_type = '{ASOF_RIGHT_TYPE}') mr
),
j AS (
  SELECT l.user_id, l.event_id, l.l_ts_sec, r.r_ts_sec, r.r_value
  FROM l LEFT JOIN r
    ON r.r_user = l.user_id
   AND r.r_ts_sec >= l.l_ts_sec
   AND r.r_ts_sec < l.l_ts_sec + {RANGE_HORIZON_SEC}
)
SELECT j.user_id, j.event_id, j.l_ts_sec, j.r_ts_sec, j.r_value
FROM j, wm
WHERE j.r_ts_sec IS NOT NULL
   OR j.l_ts_sec + {RANGE_HORIZON_SEC} <= wm.w""")
def q_events_stream_join_outer_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join under the gate (r13 verdict task
    5): the same attribution range join as events_stream_join_replay
    but emitting unmatched clicks with null right columns — the
    deferred-null emission that only fires once the watermark proves
    no match can still arrive. Replayed over the pinned TWO-FILE
    event-time-ordered split (the TTL-dedup split-invariance recipe)
    so the null set is invariant: a left row emits nulls iff it is
    unmatched AND its horizon closes at or before the FINAL
    watermark, W = min(max click ts, max purchase ts) - delay (the
    min-combined two-branch watermark after the last batch; eviction
    strictness pinned by test_streaming's boundary case). The DuckDB
    twin is the batch left join with that exact horizon predicate."""
    split_dir = _write_event_time_ordered_split(spark, sf_dir, n_files=2)
    joined = so.stream_stream_range_join(
        _stream(spark, split_dir, "*.parquet", max_files=1,
                schema=_SPLIT_SCHEMA),
        ASOF_LEFT_TYPE,
        ASOF_RIGHT_TYPE,
        horizon_sec=RANGE_HORIZON_SEC,
        watermark_sec=STREAM_WATERMARK_SEC,
        join_type="left_outer",
    )
    return _drain_bounded_replay(
        spark, joined, "events_stream_join_outer_replay", "append",
        shuffle_partitions=_input_sized_partitions(spark, split_dir),
    ).select("user_id", "event_id", "l_ts_sec", "r_ts_sec", "r_value")


# batch twin of the STREAM-STATIC broadcast enrich: stateless
# per-batch join over bounded input = the batch left join
@query(twin=lambda: f"""
WITH p AS (
  SELECT user_id, event_id,
         (epoch_ns(ts) // 1000000000)::BIGINT AS ts_sec
  FROM events WHERE event_type = '{ASOF_RIGHT_TYPE}'
),
d AS (
  SELECT c_custkey AS user_id, c_mktsegment AS segment
  FROM customer WHERE c_custkey < {ENRICH_DIM_CUTOFF}
)
SELECT p.user_id, p.event_id, p.ts_sec, d.segment
FROM p LEFT JOIN d USING (user_id)""")
def q_events_stream_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join under the gate: the purchase stream enriched
    with a batch customer dimension via ``stream_static_enrich``
    (broadcast left join, stateless — the third join class next to
    stream-stream and batch-batch). The dim is deliberately truncated
    to ``c_custkey < ENRICH_DIM_CUTOFF`` so users above the cutoff
    exercise the no-match null path the left join exists for. A
    stateless per-batch join over bounded input equals the batch left
    join row-for-row, so the DuckDB twin is exact."""
    purchases = _stream(spark, sf_dir).filter(
        F.col("event_type") == ASOF_RIGHT_TYPE
    ).select(
        "user_id",
        "event_id",
        F.expr(floor_div("ts", 1_000_000_000)).alias("ts_sec"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < ENRICH_DIM_CUTOFF)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return _drain_bounded_replay(
        spark, so.stream_static_enrich(purchases, dim, key="user_id"),
        "events_stream_enrich_replay", "append",
        shuffle_partitions=_input_sized_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    ).select("user_id", "event_id", "ts_sec", "segment")


# batch twin of the streaming span first-occurrence state: the
# folded replay must equal the keep-first window's rn=1 winners
@query(unbenched=_R_STREAM, twin=lambda: f"""
WITH d AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w FROM documents
),
s AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos,
         array_to_string(
           w[(t.i * {dd.SPAN_WORDS} + 1):(t.i * {dd.SPAN_WORDS} + {dd.SPAN_WORDS})],
           ' ') AS span
  FROM d, UNNEST(range(0, CAST(CEIL(len(w) / {dd.SPAN_WORDS}.0) AS BIGINT))) AS t(i)
),
r AS (
  SELECT span, doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY span) AS n
  FROM s
)
SELECT {h64_sql('span')} AS span_fp, doc_id AS first_doc_id,
       pos AS first_pos, n::BIGINT AS n_occurrences
FROM r WHERE rn = 1""")
def q_corpus_stream_span_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third streaming artifact under the gate: the stateful span
    first-occurrence operator (streaming twin of dedup_span_clean's
    keep-first rule) replayed over the bounded documents table. The
    folded final state — lexicographic-min (doc_id, pos) owner and
    occurrence count per span fingerprint — equals the batch window's
    rn=1 winners, which is exactly what the DuckDB twin computes."""
    out = so.stream_span_first_seen(
        _stream(spark, sf_dir, "documents.parquet"), dd.SPAN_WORDS
    )
    sink = _drain_bounded_replay(
        spark, out, "corpus_stream_span_replay", "update"
    )
    # fold update-mode rows to the batching-invariant final state:
    # lexicographic min over (first_doc_id, first_pos), max count
    return (
        sink.groupBy("span_fp")
        .agg(
            F.min(
                F.struct(
                    F.col("first_doc_id").alias("d"),
                    F.col("first_pos").alias("p"),
                )
            ).alias("_m"),
            F.max("n_occurrences").alias("n_occurrences"),
        )
        .select(
            "span_fp",
            F.col("_m")["d"].alias("first_doc_id"),
            F.col("_m")["p"].alias("first_pos"),
            "n_occurrences",
        )
    )


@query(unbenched=_R_STREAM, twin=lambda: _stream_hll_oracle())
def q_events_stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SKETCH maintenance under the gate: the bounded events
    table replayed through ``stream_hll_registers`` — the HLL register
    table maintained AS A STREAM with constant state (event_types ×
    256 max-rho rows forever, no watermark, unlike streaming
    dropDuplicates whose state grows with distinct keys) — and the
    final complete-mode register table returned. ``max`` is order- and
    batch-split-insensitive, so the drained state equals the batch
    registers bit-for-bit and the DuckDB twin is simply the register
    stage of the ``events_hll_distinct`` oracle. Exact integers; at
    100 TB this is nightly distinct-count tracking whose shuffle is
    bounded by the register count, not the event count."""
    regs = so.stream_hll_registers(
        _stream(spark, sf_dir), "user_id", ["event_type"]
    )
    return _drain_bounded_replay(
        spark, regs, "events_stream_hll_replay", "complete"
    ).select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("m_j").cast("long").alias("m_j"),
    )
