"""Sources & sinks (SURVEY §2.1 O1, O4, O5).

The reference reads "x,y" text lines (three independent hand-rolled
parsers: ``/root/reference/mapper.py:86-95``, ``master.py:283-297``,
``master.py:317-323``) and writes per-partition "k:x,y" text files
(``mapper.py:53-74``) plus a delete-then-rewrite centroid CSV
(``master.py:90-95``). Here every read is a schema'd DataFrame source —
Catalyst gets column pruning + predicate pushdown for free — and every
write is a standard DataFrame sink.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from kmeans_mapreduce_spark.schema import POINTS_2D_CSV


# Session confs that change what parquet schema inference returns for
# the same footer; part of the memo key so a flip re-infers.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_MEMO_MAX = 256
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, inferred once
    per file version.

    Schema inference without a user schema launches one Spark job to
    read the footer, on every read. For a single local file the result
    is memoized per (absolute path, size, ``st_mtime_ns``, the
    ``_SCHEMA_CONFS`` values), so an unchanged file is never re-read
    and a rewritten file or a flipped conf is. Directories, non-local
    paths and sessions with ``spark.sql.parquet.mergeSchema`` on keep
    plain inference.

    A TIMESTAMP(NANOS) footer fails inference unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on; ``get_spark`` sets
    it at build, and on any other session that error alone turns it on
    (reads of the file must then keep it on to execute)."""
    local = os.path.abspath(path)
    if not os.path.isfile(local) or (
        spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true"
    ):
        return _infer_parquet_schema(spark, path)
    st = os.stat(local)
    version = (local, st.st_size, st.st_mtime_ns)
    key = version + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _infer_parquet_schema(spark, local)
        if len(_SCHEMAS) >= _SCHEMA_MEMO_MAX:
            _SCHEMAS.pop(next(iter(_SCHEMAS)))
        # re-read the confs: the NANOS fallback may have turned one on
        _SCHEMAS[version + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)] = schema
    return schema


def _infer_parquet_schema(spark: SparkSession, path: str) -> StructType:
    try:
        return spark.read.parquet(path).schema
    except Exception as exc:
        # only the TIMESTAMP(NANOS) schema error earns the legacy conf:
        # turning it on for ANY failure (missing path, corrupt footer)
        # would change later reads' types and mask the real error
        if "NANOS" not in str(exc) and "nanosAsLong" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    The single load chokepoint for registry tables: the read carries the
    schema from :func:`parquet_schema`, so only the first load of a file
    version pays the footer-inference job.

    ``events.ts`` has shipped as either TIMESTAMP(NANOS) (older fixture
    vintages — Spark reads it as an epoch-nanos BIGINT under the
    nanos-as-long legacy conf, which ``get_spark`` sets and
    :func:`parquet_schema` turns on where a NANOS footer needs it) or
    TIMESTAMP(MICROS)/NTZ (current vintage). Every downstream operator
    and every DuckDB oracle twin (``epoch_ns(ts)``) works in epoch
    nanoseconds, so normalize to a BIGINT nanos column here. The NTZ
    branch uses ``timestampdiff`` against an NTZ epoch literal — pure
    wall-clock arithmetic, independent of any session time zone the
    caller may have set.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize any events ``ts`` vintage to epoch-nanos BIGINT (see
    :func:`load_table`); shared by the batch loader and streaming
    replay reads, which must agree byte-for-byte."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        ns = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ) * F.lit(1000)
    else:
        ns = F.unix_micros("ts") * F.lit(1000)
    return df.withColumn("ts", ns.cast("long"))


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """O1 — reference-format point source: one ``x,y`` line per point
    (``/root/reference/master.py:286-288``).

    Adds the synthetic ``point_id`` the reference lacks (its identity is
    line order) via ``monotonically_increasing_id`` — partition-stable,
    no shuffle, no driver collect. Input splitting (reference O3,
    ``master.py:50-77`` static M-way file split) is left to Spark's
    file-source split planning.
    """
    return (
        spark.read.schema(POINTS_2D_CSV)
        .option("mode", "FAILFAST")
        .csv(path)
        .select(
            F.monotonically_increasing_id().alias("point_id"),
            "x",
            "y",
        )
    )


def read_points_csv_quarantine(spark: SparkSession, path: str):
    """PERMISSIVE twin of :func:`read_points_csv` for dirty inputs —
    the reference crashes on its first malformed ``x,y`` line
    (``float()`` ValueError, ``master.py:286-288``); production can't.
    Returns (good, quarantined): good rows parsed with the point
    schema, malformed lines captured verbatim in ``raw`` from ONE scan
    (same corrupt-column recipe as the JSONL quarantine — PERMISSIVE
    requires the corrupt column present in the read schema AND a
    cache()/materialization barrier before filtering on it, or Spark
    silently re-parses and drops the evidence).

    A NULL in either coordinate also quarantines: the CSV reader maps
    an unparseable field to NULL without marking the record corrupt
    when the OTHER field parses."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(POINTS_2D_CSV.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    raw.count()  # materialization barrier (see docstring)
    # token-count-corrupt lines are captured VERBATIM via the corrupt
    # column; null-field lines (right token count, unparseable field)
    # never populate it, so their quarantine row is RECONSTRUCTED with
    # explicit empty-string placeholders — concat_ws would silently
    # DROP the null field and erase which field was bad ("3.0," must
    # not quarantine as "3.0"). Float re-formatting may differ from
    # the raw bytes on this path; the corrupt-column path never does.
    rebuilt = F.concat(
        F.coalesce(F.col("x").cast("string"), F.lit("")),
        F.lit(","),
        F.coalesce(F.col("y").cast("string"), F.lit("")),
    )
    # release the cached parse before returning (the JSONL quarantine's
    # discipline): per-path sweep callers must not accumulate one
    # pinned copy of every dirty input in storage memory for the
    # session's lifetime
    try:
        bad = (
            raw.filter(
                F.col("_corrupt_record").isNotNull()
                | F.col("x").isNull()
                | F.col("y").isNull()
            )
            .select(F.coalesce(F.col("_corrupt_record"), rebuilt).alias("raw"))
            .localCheckpoint(eager=True)
        )
        good = (
            raw.filter(
                F.col("_corrupt_record").isNull()
                & F.col("x").isNotNull()
                & F.col("y").isNotNull()
            )
            .select(
                F.monotonically_increasing_id().alias("point_id"), "x", "y"
            )
            .localCheckpoint(eager=True)
        )
    finally:
        raw.unpersist()
    return good, bad


DOCUMENTS_DDL = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """O1 breadth — JSONL document source (the interchange format
    training corpora actually ship in). Schema is EXPLICIT: schema
    inference on JSON is a full extra pass over the data at 100 TB, and
    a silent type lottery besides; FAILFAST surfaces corrupt lines
    instead of nulling them."""
    return (
        spark.read.schema(DOCUMENTS_DDL)
        .option("mode", "FAILFAST")
        .json(path)
    )


def read_documents_jsonl_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE twin of :func:`read_documents_jsonl` for dirty
    corpora: returns (good, quarantined) — good rows with the document
    schema, corrupt lines captured verbatim in a ``_corrupt_record``
    sidecar for triage instead of failing the whole 100 TB job on one
    bad line. Both come from ONE scan definition; the caller decides
    what to do with the quarantine (alert, reprocess, drop).

    Spark caveat baked in: PERMISSIVE requires the corrupt column in
    the read schema, and filtering on it requires caching per the JSON
    datasource contract (a raw-filter pushdown would need the corrupt
    column during parsing). The cache is RELEASED before returning:
    both outputs are eagerly materialized (localCheckpoint), so the
    parse does not stay pinned in storage memory for the session's
    lifetime when this is called per-path in a sweep. The outputs are
    bounded by result size — this is the TRIAGE path; a clean 100 TB
    corpus should go through :func:`read_documents_jsonl` (FAILFAST),
    which needs no materialization at all.
    """
    schema = DOCUMENTS_DDL + ", _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    try:
        good = df.filter(F.col("_corrupt_record").isNull()).drop(
            "_corrupt_record"
        ).localCheckpoint(eager=True)
        bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
            "_corrupt_record"
        ).localCheckpoint(eager=True)
    finally:
        df.unpersist()
    return good, bad


def write_documents_jsonl(docs: DataFrame, path: str) -> None:
    """JSONL document sink (one JSON object per line, gzip-able,
    splittable when uncompressed — the corpus interchange format)."""
    docs.write.mode("overwrite").json(path)


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """O1 breadth — ORC document source (the other columnar format a
    Hive-era lakehouse hands you). Spark's native ORC reader supports
    the same pushdown/pruning contract as parquet: predicates and
    column selection reach the stripe reader (plan-asserted in
    tests/test_sources.py)."""
    return spark.read.schema(DOCUMENTS_DDL).orc(path)


def write_documents_orc(docs: DataFrame, path: str) -> None:
    """ORC document sink (columnar, stripe-indexed, splittable)."""
    docs.write.mode("overwrite").orc(path)


def write_centroids(centroids: DataFrame, path: str, fmt: str = "parquet") -> None:
    """O5 — centroid sink. The reference deletes and rewrites
    ``centroids.txt`` every iteration so only the latest generation
    survives (``/root/reference/master.py:90-95``); ``mode("overwrite")``
    is the transactional version of delete-then-write.
    """
    writer = centroids.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        writer.csv(path)
    else:
        writer.parquet(path)


def write_partitioned(df: DataFrame, path: str, key: str = "cid") -> None:
    """O4 — partitioned sink: the reference's mod-R partition files
    (``/root/reference/mapper.py:53-74``, mod at :65). ``partitionBy``
    gives hash-partitioned directories; the shuffle write inside is
    Spark's sort-based shuffle, replacing the R×M gRPC pull mesh
    (``reducer.py:59-139``).
    """
    df.write.mode("overwrite").partitionBy(key).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str | None = None,
) -> None:
    """O4 at cluster scale: hash-BUCKETED parquet sink.

    ``partitionBy`` gives one directory per key value (fine for low-
    cardinality keys like cid); bucketing hashes a high-cardinality key
    into a fixed number of files per partition and records the layout
    in the catalog, so a later join or aggregation on the bucket key
    reads both sides ALREADY co-partitioned — the 100 TB join strategy
    that removes the shuffle entirely (asserted in
    ``tests/test_sources.py``: two tables bucketed 8×8 on the same key
    sort-merge-join with zero Exchange). This is the declarative
    replacement for the reference's fixed mod-R file layout, which was
    exactly a hand-rolled 1-level bucket scheme (``mapper.py:65``).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if path is not None:
        w = w.option("path", path)
    w.sortBy(key).saveAsTable(table)


def read_evolved_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read over a long-lived parquet dataset whose
    later generations ADDED columns: ``mergeSchema`` unions the file
    schemas (an O(footers) planning step, not a data pass) and older
    files surface NULL for columns they predate — how a year of
    crawl snapshots with a growing schema reads as one table.

    Cost note: merged-footer planning touches every file's metadata;
    at 100 TB layouts the schema should be pinned in a catalog and
    this used only for the migration read that backfills it.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_sorted(df: DataFrame, path: str, key: str, files: int = 8) -> None:
    """Range-sorted parquet sink — single-dimension data skipping:
    ``repartitionByRange`` gives each output file a DISJOINT key range
    and the within-partition sort tightens every row group's min/max
    stats, so a later equality or range filter on ``key`` prunes whole
    files and row groups from the scan (parquet statistics pushdown —
    the one-column version of z-ordering). The range exchange samples
    the key distribution, so skewed keys still split evenly.

    tests/test_sources.py asserts the written row-group stats are
    actually disjoint — the property that makes skipping possible.
    """
    (
        df.repartitionByRange(files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


ZORDER_BITS = 16


def zorder_key(cols: list[Column], mins: list[float], maxs: list[float],
               bits: int = ZORDER_BITS) -> Column:
    """Morton (Z-order) key: min-max quantize each column to ``bits``
    bits, then interleave — points close in EVERY dimension get close
    keys, so sorting by the key gives row groups tight min/max stats
    on ALL dimensions at once (the multi-column generalization of
    :func:`write_sorted`'s single-key layout). Pure Catalyst integer
    expressions inside codegen; no UDF. ``bits`` is auto-reduced so
    the interleaved key fits in 62 bits — bit 63 would flip the sign
    and break range ordering, and Java shift counts wrap mod 64.
    """
    bits = min(bits, 62 // len(cols))  # keep every bit below the sign
    top = (1 << bits) - 1
    qs = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1.0
        q = F.floor((c - F.lit(lo)) / F.lit(span) * F.lit(float(top)))
        qs.append(F.least(F.greatest(q, F.lit(0)), F.lit(top)).cast("long"))
    z = F.lit(0).cast("long")
    d = len(qs)
    for b in range(bits):
        for i, q in enumerate(qs):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * d + i))
    return z


def write_zorder(
    df: DataFrame, path: str, cols: list[str], files: int = 8,
    bits: int = ZORDER_BITS,
) -> None:
    """Z-order clustered parquet sink — MULTI-dimension data skipping.

    One tiny min/max aggregate fixes the quantization box (the only
    extra pass; at cluster scale use static bounds or yesterday's), a
    range exchange on the Morton key splits files into near-disjoint
    z-ranges, and the within-partition sort tightens per-row-group
    stats on every z-ordered column simultaneously — a 2-D box filter
    then prunes most row groups, where a single-key sort can only
    prune on its own column. tests/test_sources.py measures exactly
    that against parquet row-group statistics.
    """
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    if any(bounds[f"lo_{c}"] is None for c in cols):
        # empty input OR an entirely-NULL z-column: no bounds to
        # quantize on that dimension — fall back to a plain write
        # rather than crash mid-job (write_sorted handles empty the
        # same way)
        df.write.mode("overwrite").parquet(path)
        return
    mins = [float(bounds[f"lo_{c}"]) for c in cols]
    maxs = [float(bounds[f"hi_{c}"]) for c in cols]
    z = zorder_key([F.col(c) for c in cols], mins, maxs, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _recover_generation(path: str) -> None:
    """Crash-recovery half of the staged-directory swap protocol,
    shared by :func:`merge_upsert` and :func:`compact_small_files`:
    if a prior call crashed between its two renames, the intact
    previous generation sits in ``<path>._old`` — restore it BEFORE
    any size scan or read, then clear leftover staging debris. One
    definition: the recovery invariant is subtle enough that two
    hand-maintained copies would drift."""
    import os
    import shutil

    staged, old = f"{path}._staged", f"{path}._old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def _swap_generations(path: str) -> None:
    """Commit half of the swap protocol: rename the current generation
    aside, rename the freshly-written ``<path>._staged`` in, then drop
    the old generation. A crash between the renames leaves ``._old``
    for :func:`_recover_generation`."""
    import os
    import shutil

    staged, old = f"{path}._staged", f"{path}._old"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    version_col: str,
) -> None:
    """SCD-1 MERGE: upsert ``updates`` into a parquet target — the
    latest ``version_col`` per ``key`` wins, ties (same key+version in
    target and updates) resolve to the update.

    Shape: union + one window pass keyed by ``key`` (single shuffle),
    then a directory swap (write to ``<path>._staged``, rename the old
    generation aside, rename staged in) with CRASH RECOVERY: a failure
    between the two renames leaves ``<path>._old`` holding the intact
    previous generation, which the next call restores before merging —
    so no interleaving of crashes loses committed data (the in-flight
    batch is simply re-merged). This is the poor man's version of the
    transaction log a real lakehouse format (Delta/Iceberg/Hudi)
    provides; at 100 TB use one of those so MERGE rewrites only the
    touched files instead of the whole table. Re-applying the same
    batch is idempotent (tested): the window's ordering key ends with
    every remaining column, so even two same-key-same-version rows in
    one batch resolve to a deterministic winner.
    """
    import os

    from pyspark.sql.window import Window

    staged = f"{target_path}._staged"
    _recover_generation(target_path)

    src = updates.withColumn("_prio", F.lit(1))
    if os.path.isdir(target_path):
        current = spark.read.parquet(target_path).withColumn(
            "_prio", F.lit(0)
        )
        src = current.unionByName(src)
    tiebreak = [
        F.col(c).desc_nulls_last()
        for c in sorted(updates.columns)
        if c not in (key, version_col)
    ]
    w = Window.partitionBy(key).orderBy(
        F.col(version_col).desc(), F.col("_prio").desc(), *tiebreak
    )
    merged = (
        src.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )
    merged.write.mode("overwrite").parquet(staged)
    _swap_generations(target_path)


def merge_scd2(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    version_col: str,
) -> None:
    """SCD-2 MERGE: history-PRESERVING upsert (the warehouse
    slowly-changing-dimension type 2, vs :func:`merge_upsert`'s
    latest-wins type 1). Every version of a key becomes a row with a
    half-open validity interval: ``valid_to`` = the next version's
    ``version_col`` (NULL for the current row, flagged
    ``is_current``). Three guarantees a real dimension pipeline needs:

    - **No-change suppression**: an update whose attributes equal the
      immediately preceding version collapses into it (the run keeps
      its earliest valid_from) — re-applying a batch is idempotent and
      a noisy source that re-sends unchanged rows doesn't bloat
      history.
    - **Late-arriving backfill**: a version older than the current one
      inserts into the MIDDLE of the timeline and the intervals
      re-link around it (valid_to is recomputed from the merged
      timeline, never trusted from state).
    - **Crash safety**: same staged-write + generation-swap +
      recovery dance as merge_upsert.

    Shape: union history + delta, two window passes over the SAME
    key-partitioned sort (dedupe/suppress, then re-link) — one
    shuffle over |history| + |delta| rows; at 100 TB a lakehouse
    format would rewrite only touched files, same caveat as
    merge_upsert.
    """
    import os

    staged = f"{target_path}._staged"
    _recover_generation(target_path)

    attr_cols = sorted(
        c for c in updates.columns if c not in (key, version_col)
    )
    src = updates.select(
        key, F.col(version_col).alias("valid_from"), *attr_cols
    ).withColumn("_prio", F.lit(1))
    if os.path.isdir(target_path):
        current = spark.read.parquet(target_path)
        # Shape guard (round-8 fix): attr_cols comes from the UPDATE
        # batch; silently projecting history down to it would DROP any
        # attribute column the batch forgot — across all history, on
        # every merge. A mis-shaped batch must fail loudly instead
        # (merge_upsert already does, via unionByName).
        hist_attrs = sorted(
            c
            for c in current.columns
            if c not in (key, "valid_from", "valid_to", "is_current")
        )
        if hist_attrs != attr_cols:
            raise ValueError(
                f"merge_scd2: update attribute columns {attr_cols} do not "
                f"match history's {hist_attrs} at {target_path}; refusing "
                "to rewrite history with a projected schema"
            )
        src = (
            current.select(key, "valid_from", *attr_cols)
            .withColumn("_prio", F.lit(0))
            .unionByName(src)
        )

    timeline = scd2_timeline(src, key, attr_cols)
    timeline.select(
        key, "valid_from", "valid_to", "is_current", *attr_cols
    ).write.mode("overwrite").parquet(staged)
    _swap_generations(target_path)


def scd2_timeline(src: DataFrame, key: str, attr_cols: list[str]) -> DataFrame:
    """The pure SCD-2 timeline computation shared by :func:`merge_scd2`
    and the ``dim_scd2_timeline`` registered query: ``src`` is the
    unioned change stream — ``(key, valid_from, *attr_cols)`` plus a
    ``_prio`` tiebreak column (1 = update batch, 0 = existing history;
    callers with a single batch can set a constant) — and the result is
    the linked dimension history with half-open validity intervals.

    Three window passes over ONE key-partitioned sort (a single
    Exchange — plan-asserted): dedupe same ``(key, valid_from)``
    (update wins, then attrs desc for determinism — expressed as
    keep-first-of-each-valid_from-run under the shared sort, so it
    does not need its own (key, valid_from) partitioning), suppress
    no-change versions (a rerun or a noisy source re-sending unchanged
    rows cannot bloat history), then re-link ``valid_to`` = next
    surviving version's ``valid_from`` (NULL → ``is_current``).
    Late-arriving versions insert mid-timeline and the intervals
    re-link around them because valid_to is always recomputed, never
    trusted from state."""
    from pyspark.sql.window import Window

    order = [
        F.col("valid_from").asc(),
        F.col("_prio").desc(),
        *[F.col(c).desc_nulls_last() for c in attr_cols],
    ]
    wd = Window.partitionBy(key).orderBy(*order)
    w = Window.partitionBy(key).orderBy("valid_from")
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    return (
        # first row of each valid_from run under the shared sort IS the
        # per-(key, valid_from) winner (update beats history, then
        # attrs desc) — same survivors as a row_number over
        # (key, valid_from), without a second partitioning. Null-safe
        # run detection (review fix): a plain `_pv != valid_from` would
        # keep EVERY NULL-versioned row (lag NULL ≠ NULL) where the old
        # (key, valid_from) partitioning collapsed them to one — the
        # rn==1-or-distinct form reproduces that exactly, NULL group
        # included. row_number rides the same window spec, so still
        # one Exchange.
        src.withColumn("_rn", F.row_number().over(wd))
        .withColumn("_pv", F.lag("valid_from").over(wd))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col("_pv").eqNullSafe(F.col("valid_from"))
        )
        .drop("_rn", "_pv", "_prio")
        .withColumn("_prev", F.lag(attrs).over(w))
        .filter(F.col("_prev").isNull() | ~F.col("_prev").eqNullSafe(attrs))
        .drop("_prev")
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_small_files(
    spark: SparkSession, path: str, target_bytes: int = TARGET_FILE_BYTES
) -> int:
    """Compact a parquet directory's many small files into
    ``ceil(total_bytes / target_bytes)`` files and swap them in with
    the same crash-safe rename dance as :func:`merge_upsert`.

    Small-files is the chronic failure mode of streaming/incremental
    sinks (every micro-batch appends a few KB files; a year later the
    scan spends longer opening footers than reading data). Sizing from
    the on-disk byte total rather than a row count keeps the output at
    HDFS-block-friendly sizes whatever the row width. Returns the new
    file count. Uses ``coalesce`` (narrow, no shuffle) — good enough
    for compaction; use :func:`write_sorted`/:func:`write_zorder`
    instead when the rewrite should also fix the layout. Flat layouts
    only: a ``partitionBy`` directory tree should be compacted per
    partition directory (this rewrite would collapse the tree).
    """
    import math
    import os

    staged = f"{path}._staged"
    # Recover BEFORE sizing: if a prior call crashed between the two
    # renames, `path` is missing and a size scan would see 0 bytes →
    # n_files=1 regardless of real size, defeating the sizing contract
    # exactly in the crash path this function exists to survive.
    _recover_generation(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(path).coalesce(n_files).write.mode("overwrite").parquet(
        staged
    )
    _swap_generations(path)
    return n_files


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC crawl-archive reader (ISO 28500 — the CommonCrawl input
    format), stdlib-only: one task per .warc file via ``binaryFile``
    (file-level parallelism is exactly how industry pipelines shard
    WARC: files are ~1 GB archives and records don't span files), an
    Arrow-batched parser per partition, one output row per
    ``response``/``resource`` record.

    Output: (warc_file, record_id, record_type, target_uri,
    content_type, content_length, payload BINARY). HTTP response
    headers (when present) are stripped from the payload — downstream
    text extraction sees the body only. Parsing is header-driven
    (Content-Length), not delimiter-driven, so binary payloads
    containing "WARC/1.0" don't break framing.

    ``.warc.gz`` archives (CommonCrawl's wire format: one gzip member
    per record, concatenated) are decompressed member-by-member with a
    fresh ``zlib`` stream per member over a zero-copy memoryview — the
    task holds one inflated record at a time, never the whole archive,
    and a whole-file single-member gzip degrades gracefully to one big
    chunk. A truncated/corrupt member stops decompression of THAT file
    at the damage point (records already parsed are kept) rather than
    crashing the task.
    """
    import pandas as pd
    import zlib

    chunk_rows = 256  # bound task memory: payloads never all in one frame

    def gz_members(buf: bytes):
        """Yield decompressed gzip members. memoryview slices keep the
        per-member restart O(1) in copies (bytes slices would make a
        100k-member archive quadratic)."""
        mv = memoryview(buf)
        pos, n = 0, len(mv)
        while pos < n:
            d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
            try:
                chunk = d.decompress(mv[pos:]) + d.flush()
            except zlib.error:
                return  # damaged member: keep what we have
            yield chunk
            consumed = (n - pos) - len(d.unused_data)
            if consumed <= 0:
                return
            pos += consumed

    def parse(batches):
        for pdf in batches:
            out = {
                "warc_file": [], "record_id": [], "record_type": [],
                "target_uri": [], "content_type": [],
                "content_length": [], "payload": [],
            }

            def flush():
                frame = pd.DataFrame(out)
                for k in out:
                    out[k] = []
                return frame

            def scan(fname, data):
                pos = 0
                while True:
                    head = data.find(b"WARC/", pos)
                    if head < 0:
                        break
                    hdr_end = data.find(b"\r\n\r\n", head)
                    if hdr_end < 0:
                        break
                    headers = {}
                    for line in data[head:hdr_end].split(b"\r\n")[1:]:
                        k, _, v = line.partition(b":")
                        headers[k.strip().lower()] = v.strip()
                    try:
                        length = int(headers[b"content-length"])
                    except (KeyError, ValueError):
                        # malformed/absent length: frame is unrecoverable
                        # for THIS record — skip past its header and
                        # resynchronize on the next magic, never crash
                        # the task over one corrupt record
                        pos = hdr_end + 4
                        continue
                    body = data[hdr_end + 4 : hdr_end + 4 + length]
                    pos = hdr_end + 4 + length
                    rtype = headers.get(b"warc-type", b"").decode("utf-8", "replace")
                    if rtype not in ("response", "resource"):
                        continue
                    # response records wrap an HTTP message: drop its
                    # header block, keep the entity body
                    if rtype == "response" and body.startswith(b"HTTP/"):
                        split = body.find(b"\r\n\r\n")
                        if split >= 0:
                            body = body[split + 4 :]
                    out["warc_file"].append(fname)
                    out["record_id"].append(
                        headers.get(b"warc-record-id", b"").decode("utf-8", "replace")
                    )
                    out["record_type"].append(rtype)
                    out["target_uri"].append(
                        headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
                    )
                    out["content_type"].append(
                        headers.get(b"content-type", b"").decode("utf-8", "replace")
                    )
                    out["content_length"].append(len(body))
                    out["payload"].append(body)
                    if len(out["payload"]) >= chunk_rows:
                        yield flush()

            for fname, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                if str(fname).endswith(".gz"):
                    for member in gz_members(blob):
                        yield from scan(fname, member)
                else:
                    yield from scan(fname, blob)
            yield flush()

    files = (
        spark.read.format("binaryFile")
        # one member per record means records still never span files
        .option("pathGlobFilter", "*.{warc,warc.gz}")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(
        parse,
        "warc_file STRING, record_id STRING, record_type STRING, "
        "target_uri STRING, content_type STRING, content_length LONG, "
        "payload BINARY",
    )


def write_token_shards(
    docs: DataFrame,
    path: str,
    shard_tokens: int | None = None,
) -> None:
    """Training-shard sink: materialize the token-budgeted shard plan
    (``sampling.token_shard_plan``) as one directory per shard, rows
    laid down in shuffle-key order — the final tokenize→shuffle→shard
    step of a training-data pipeline. A trainer streams ``shard=N/``
    sequentially and sees (a) a deterministic pseudo-random permutation
    of the corpus and (b) ~``shard_tokens`` tokens per directory, so
    fixed token-budget steps map 1:1 onto shard files.

    Scale shape: the plan join is 1:1 on doc_id (both sides carry it;
    Spark plans a shuffle join keyed by doc_id — no broadcast needed
    and none wanted, the plan side is corpus-sized), then ONE exchange
    keyed by shard with a within-partition sort on shuffle_key. The
    dynamic-partition write renames per-shard directories atomically
    per task; no global sort, no driver loop, no second pass.

    tests/test_sources.py asserts per-shard token budgets and
    within-shard shuffle-key ordering on read-back.
    """
    from kmeans_mapreduce_spark.operators.sampling import (
        SHARD_TOKENS,
        token_shard_plan,
    )

    budget = SHARD_TOKENS if shard_tokens is None else shard_tokens
    plan = token_shard_plan(docs, shard_tokens=budget)
    (
        docs.join(plan, "doc_id")
        .repartition("shard")
        .sortWithinPartitions("shard", "shuffle_key", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def commit_version(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    mode: str = "overwrite",
    extra: dict | None = None,
    evolve: bool = False,
) -> int:
    """Versioned-table COMMIT — the poor man's transaction log the
    generation-swap sinks stop short of: every commit writes its data
    files into a fresh immutable directory and then publishes a
    manifest ``_log/<N>.json`` naming the snapshot's directories. The
    manifest CREATE is the commit point and it is atomic-exclusive
    (``os.link`` of a temp file onto the final name — fails, never
    replaces, if version N already exists), so:

    - readers see version N fully or not at all (no torn tables);
    - a crash before publish leaves ORPHAN data files, never a bad
      table (a vacuum can sweep dirs no manifest references);
    - two racing writers conflict on the same N and the loser RETRIES
      against the new latest — optimistic concurrency, the
      Delta/Iceberg protocol shape in one file per commit.

    ``mode="append"`` publishes the previous snapshot's directories
    plus the new one — O(1) metadata, zero data rewrite, the lakehouse
    append that the plain parquet ``overwrite`` sinks cannot give.
    Returns the committed version number.

    SCHEMA ENFORCEMENT (round 9): every manifest records the snapshot's
    schema (``df.schema.json()``). An ``append`` whose schema differs
    from the latest committed schema is REFUSED with the differing
    field sets named — without this, the union-of-directories read
    silently takes one file's schema and drops/nulls the other's
    columns (measured: a drifted append made ``read_version`` drop a
    column and null-fill the rest — the torn-table class the log
    exists to prevent). ``overwrite`` replaces the snapshot, so it may
    change the schema freely; time travel to an older version still
    reads THAT version's recorded schema.

    ``evolve=True`` permits the one LEGAL drift on append — ADDING
    columns (Delta's mergeSchema shape): the append may bring a
    superset of the table's fields (existing fields unchanged by name
    and type, in the table's order); the manifest records the widened
    schema and the pinned read null-fills the new columns for
    pre-evolution rows — explicitly, not as an accident of file
    listing order. Dropping, retyping, or reordering columns is still
    refused; that is an overwrite.
    """
    import os
    import uuid

    data_dir = os.path.join(
        table_path, "data", f"{uuid.uuid4().hex[:12]}"
    )
    df.write.mode("error").parquet(data_dir)
    rel = os.path.relpath(data_dir, table_path)
    return publish_version(
        table_path, rel, mode=mode, extra=extra,
        schema_json=df.schema.json(), evolve=evolve,
    )


def publish_version(
    table_path: str,
    rel: str,
    mode: str = "overwrite",
    extra: dict | None = None,
    schema_json: str | None = None,
    evolve: bool = False,
) -> int:
    """The Spark-free COMMIT POINT of :func:`commit_version`: publish
    an already-written data directory (``rel``, relative to the table
    root) as the next version via the atomic-exclusive manifest link.
    Split out so the optimistic-concurrency protocol can be exercised
    (and stress-tested across processes) without a SparkSession — the
    data write above it is embarrassingly parallel; THIS loop is the
    entire serialization surface of the log.

    ``schema_json``: the snapshot's Spark schema (``df.schema.json()``)
    to record in the manifest. When given and ``mode="append"``, a
    mismatch against the latest manifest's recorded schema is refused
    (exact match, field order included — parquet union reads are
    order- and name-sensitive). ``None`` skips recording/enforcement
    (schema-less callers, e.g. the cross-process stress harness)."""
    import json
    import os
    import uuid

    log_dir = os.path.join(table_path, "_log")
    os.makedirs(log_dir, exist_ok=True)
    for _ in range(100):  # optimistic-concurrency retry budget
        latest = _latest_version(table_path)
        prev_schema = None
        if mode == "append" and latest is not None:
            prev_manifest = _read_manifest(table_path, latest)
            prev = prev_manifest["dirs"]
            prev_schema = prev_manifest.get("schema")
        else:
            prev = []
        if (
            mode == "append"
            and schema_json is not None
            and prev_schema is not None
            and schema_json != prev_schema
        ):
            if evolve and _schema_is_additive(prev_schema, schema_json):
                pass  # legal widening: manifest records the new schema
            else:
                old_f = _schema_field_names(prev_schema)
                new_f = _schema_field_names(schema_json)
                hint = (
                    "pass evolve=True to add columns"
                    if not evolve
                    else "the change is not purely additive"
                )
                raise ValueError(
                    "publish_version: append schema mismatch — table has "
                    f"fields {old_f}, append brings {new_f} ({hint}). A "
                    "drifted append would make the union read silently "
                    "drop or null-fill columns; use mode='overwrite' to "
                    "change the schema (old versions stay "
                    "time-travelable with their own schema)."
                )
        if mode == "append" and schema_json is None and prev_schema is not None:
            # A schema-less append onto a schema-TRACKING table would
            # carry the recorded schema forward without any check that
            # the new files conform — reintroducing exactly the torn
            # read the guard exists to prevent (the reader pins a
            # schema the appended files may not match). Refuse it; the
            # schema-less path remains valid only for tables that never
            # recorded a schema (e.g. the cross-process stress harness,
            # which writes no real parquet).
            raise ValueError(
                "publish_version: schema-less append onto a "
                "schema-tracking table — pass schema_json "
                "(df.schema.json()) so conformance can be enforced, or "
                "use mode='overwrite'."
            )
        n = 0 if latest is None else latest + 1
        manifest = {"version": n, "mode": mode, "dirs": prev + [rel]}
        if schema_json is not None:
            manifest["schema"] = schema_json
        if extra:
            # caller metadata (e.g. the streaming appender's batch_id)
            # rides INSIDE the atomically-linked manifest — stamping it
            # after the link would open a crash window in which the
            # commit exists but its idempotence key does not
            reserved = {"version", "mode", "dirs", "schema"} & set(extra)
            if reserved:
                raise ValueError(
                    f"commit_version: extra may not override reserved "
                    f"manifest keys {sorted(reserved)}"
                )
            manifest.update(extra)
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            # Durability (round-8 fix): without fsync-before-link a
            # power loss can surface version N with a torn/empty
            # manifest — visible-but-corrupt, the one state the commit
            # point promises never to show. fsync the manifest bytes
            # BEFORE the link makes it visible, then the directory
            # entry after — the Delta/Iceberg log-publish discipline.
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(log_dir, f"{n}.json")
        try:
            os.link(tmp, final)  # atomic create-exclusive = the commit
            os.unlink(tmp)
            dfd = os.open(log_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            return n
        except FileExistsError:
            os.unlink(tmp)  # lost the race — re-derive against new latest
    raise RuntimeError(
        f"publish_version: gave up after 100 optimistic-concurrency "
        f"retries on {table_path}"
    )


def _schema_is_additive(old_json: str, new_json: str) -> bool:
    """True iff ``new`` extends ``old`` by APPENDING fields: the first
    len(old) fields are identical (name, type, nullability — full
    field spec), and at least one field follows. The strict prefix
    rule keeps the pinned union read unambiguous: old files bind
    columns by name; pre-evolution rows null-fill exactly the
    appended tail."""
    import json

    try:
        old_f = json.loads(old_json).get("fields", [])
        new_f = json.loads(new_json).get("fields", [])
    except Exception:
        return False
    return len(new_f) > len(old_f) and new_f[: len(old_f)] == old_f


def _schema_field_names(schema_json: str) -> list[str]:
    """Top-level field names from a Spark schema JSON — the readable
    half of the append-refusal message (the full JSON is noise)."""
    import json

    try:
        return [
            f.get("name") for f in json.loads(schema_json).get("fields", [])
        ]
    except Exception:
        return ["<unparseable schema>"]


def _latest_version(table_path: str) -> int | None:
    import os

    log_dir = os.path.join(table_path, "_log")
    if not os.path.isdir(log_dir):
        return None
    versions = [
        int(f[:-5])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions) if versions else None


def _read_manifest(table_path: str, version: int) -> dict:
    import json
    import os

    with open(os.path.join(table_path, "_log", f"{version}.json")) as f:
        return json.load(f)


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """TIME TRAVEL read of a :func:`commit_version` table: load exactly
    the directories the (latest or pinned) manifest names. Old
    versions stay readable until explicitly vacuumed — the audit /
    reproduce-last-week's-training-set primitive.

    When the manifest records a schema (round 9), the read is PINNED
    to it — the reader sees that version's schema regardless of file
    listing order, and an overwritten-then-time-traveled table reads
    each version with its own schema. Legacy manifests without a
    schema read as before (schema inferred from the files)."""
    import json
    import os

    if version is None:
        version = _latest_version(table_path)
    if version is None:
        raise FileNotFoundError(f"read_version: no commits at {table_path}")
    m = _read_manifest(table_path, version)
    dirs = [os.path.join(table_path, d) for d in m["dirs"]]
    reader = spark.read
    if m.get("schema"):
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
    return reader.parquet(*dirs)


def read_version_delta(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """The INCREMENT of a :func:`commit_version` table: read exactly
    the data directories manifest ``version`` added relative to
    ``version − 1`` (set difference of the two manifests' dir lists).
    For an append commit this is the appended batch and nothing else —
    the nightly-crawl increment extracted from METADATA, no anti-join,
    no scan of the historical snapshot. At 100 TB this is the input
    side of cross-snapshot dedup: cost ∝ |increment|, while a
    subtract-the-snapshots formulation would shuffle the whole corpus
    twice. Version 0 (or an overwrite commit, whose manifest shares no
    dirs with its predecessor) returns the full snapshot — the
    increment IS the table. Schema is pinned to manifest ``version``'s
    recorded schema, same as :func:`read_version`."""
    import json
    import os

    if version is None:
        version = _latest_version(table_path)
    if version is None:
        raise FileNotFoundError(
            f"read_version_delta: no commits at {table_path}"
        )
    m = _read_manifest(table_path, version)
    prev_dirs: set[str] = set()
    if version > 0:
        try:
            prev_dirs = set(_read_manifest(table_path, version - 1)["dirs"])
        except FileNotFoundError:
            # the predecessor was vacuumed: the delta of this version
            # is undefined (we cannot know which dirs it added) even
            # though the version itself stays fully time-travelable —
            # refuse loudly instead of crashing with a raw open() error
            # or silently returning the whole snapshot
            raise ValueError(
                f"read_version_delta: manifest {version - 1} was vacuumed, "
                f"so version {version}'s increment cannot be derived; "
                "read_version() still serves the full snapshot"
            ) from None
    delta = [d for d in m["dirs"] if d not in prev_dirs]
    if not delta:
        # legal (an empty append); keep the pinned schema with 0 rows
        delta_paths = []
    else:
        delta_paths = [os.path.join(table_path, d) for d in delta]
    reader = spark.read
    if m.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["schema"]))
        reader = reader.schema(schema)
        if not delta_paths:
            return spark.createDataFrame([], schema)
    elif not delta_paths:
        raise ValueError(
            f"read_version_delta: version {version} adds no dirs and the "
            "manifest records no schema to shape an empty result"
        )
    return reader.parquet(*delta_paths)


def table_history(table_path: str) -> list[dict]:
    """The commit log, oldest first: (version, mode, n_dirs) per
    manifest — what an auditor reads before a time-travel query."""
    latest = _latest_version(table_path)
    if latest is None:
        return []
    out = []
    for v in range(latest + 1):
        try:
            m = _read_manifest(table_path, v)
        except FileNotFoundError:
            continue  # vacuumed — retained versions still listed
        out.append(
            {"version": v, "mode": m["mode"], "n_dirs": len(m["dirs"])}
        )
    return out


def vacuum_versions(
    table_path: str, keep_last: int = 2, orphan_min_age_sec: float = 86400.0
) -> dict:
    """VACUUM a :func:`commit_version` table: delete data directories
    referenced ONLY by manifests older than the last ``keep_last``
    versions, then the old manifests themselves — plus orphan dirs no
    manifest ever referenced (crash residue before a commit point).
    Retained versions stay fully time-travelable; the commit point's
    atomicity means vacuum can run concurrently with readers OF
    RETAINED VERSIONS (the deleted dirs are, by construction, not in
    any retained manifest). Unreferenced dirs younger than
    ``orphan_min_age_sec`` are LEFT ALONE: an in-flight commit writes
    its data before publishing its manifest, and sweeping that window
    would corrupt the commit — the grace period is the writer
    exclusion. Returns counts for the audit log.
    """
    import os
    import shutil

    latest = _latest_version(table_path)
    if latest is None:
        return {"removed_dirs": 0, "removed_manifests": 0}
    keep_floor = max(0, latest - int(keep_last) + 1)
    keep_dirs: set[str] = set()
    for v in range(keep_floor, latest + 1):
        try:
            keep_dirs.update(_read_manifest(table_path, v)["dirs"])
        except FileNotFoundError:
            # a previous vacuum with a smaller retention already
            # removed this manifest; tolerate the gap like
            # table_history does (a larger keep_last later must not
            # abort vacuuming forever)
            continue
    removed_dirs = 0
    data_root = os.path.join(table_path, "data")
    if os.path.isdir(data_root):
        import time as _time

        now = _time.time()
        for d in os.listdir(data_root):
            rel = os.path.join("data", d)
            if rel in keep_dirs:
                continue
            p = os.path.join(data_root, d)
            # GRACE PERIOD: an in-flight commit_version has already
            # written its data dir but not yet published the manifest —
            # deleting a young unreferenced dir would corrupt that
            # commit the moment its os.link lands. Only dirs older than
            # the grace window are safely orphaned crash residue.
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue  # racing writer just (re)moved it
            # min_age == 0 means "sweep everything now" even under
            # clock skew that makes age slightly negative
            if float(orphan_min_age_sec) > 0 and age < float(
                orphan_min_age_sec
            ):
                continue
            shutil.rmtree(p)
            removed_dirs += 1
    removed_manifests = 0
    for v in range(keep_floor):
        p = os.path.join(table_path, "_log", f"{v}.json")
        if os.path.exists(p):
            os.unlink(p)
            removed_manifests += 1
    return {
        "removed_dirs": removed_dirs,
        "removed_manifests": removed_manifests,
    }
