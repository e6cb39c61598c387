"""SparkSession factory with scale-oriented defaults.

The reference runs one master + M mapper + R reducer OS processes glued
by gRPC and a shared filesystem (``/root/reference/master.py:337-369``).
Here the equivalent "cluster setup" is one SparkSession with adaptive
query execution; everything else (task scheduling, shuffle, retries,
speculation — reference ``master.py:127-173``) is the Spark scheduler's
job, not user code (SURVEY §2.1 O14).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    box's physical memory, at most 32g. In local mode the driver is
    the executor, so it is sized like one, but a fixed 32g lets the
    JVM grow past a smaller box until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 32 << 30) >> 20}m"


def get_spark(
    app_name: str = "kmeans-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are environment-overridable so the same code runs on
    ``local[N]`` during tests and on a real cluster unchanged:

    - AQE on (runtime coalescing, skew-join splitting) — replaces any
      hand-tuned split count (reference ``master.py:50-77`` static M-way
      split).
    - ``spark.sql.shuffle.partitions`` sized from env (driver runs
      ``local[$SPARK_GRAFT_CPUS]``); on a real cluster you would leave
      AQE to coalesce from a high initial value.
    - Arrow enabled: every Python-touching path (pandas UDFs,
      ``mapInPandas``, ``toPandas``) moves columnar batches, never rows.
    - Session timezone pinned to UTC so timestamp arithmetic matches the
      DuckDB oracle regardless of host TZ.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                str(os.cpu_count() or 32) if cpus == "*" else cpus,
            )
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode = driver IS the executor: the default 1g heap GC-
        # thrashes under 32 task threads + cached inputs (observed as
        # intermittent 40s stop-the-world pauses mid-bench). Size it
        # like an executor. Applied at JVM launch; no-op on getOrCreate
        # of an existing session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
        # Whole-stage codegen emits one class per distinct plan; long
        # sessions (iterative fits, many-query benches) overflow the
        # JVM's default 240m code cache, HotSpot stops JIT-compiling,
        # and later queries run interpreted (measured 8-10x slowdowns).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-Dderby.stream.error.file=/tmp/spark-graft-derby.log",
        )
        # Catalog state (bucketed-table metadata for the co-located
        # join sink) lives outside the repo tree; saveAsTable would
        # otherwise drop metastore_db/ + spark-warehouse/ into cwd.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config(
            "javax.jdo.option.ConnectionURL",
            "jdbc:derby:;databaseName=/tmp/spark-graft-metastore;create=true",
        )
        # Reliable checkpoints (``barrier.narrow_barrier`` with
        # SPARK_GRAFT_RELIABLE_CHECKPOINT=1) stay on disk unless the
        # ContextCleaner deletes them once their RDD is collected. Core
        # conf: read only when the context starts.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: keep column pruning + predicate pushdown hot.
        .config("spark.sql.parquet.filterPushdown", "true")
        # The events table stores TIMESTAMP(NANOS) which Spark 4 rejects
        # by default; read as raw nanosecond longs (floor-divide to get
        # epoch seconds — matches DuckDB's epoch_ns(ts)//1e9).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver-side collect of K centroids per iteration is tiny; keep
        # result size guard at default. UI off for test speed.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    return builder.getOrCreate()
