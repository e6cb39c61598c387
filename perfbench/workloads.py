"""The benchmark's workloads: what one op is, its inputs and its checks.

Each workload is a closed loop with one client: the next op starts when
the previous one has finished. An op is one ``kmeans.fit`` (fit
workload) or one registry query executed into the noop sink (query mix).
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import numpy as np

from perfbench import inputs, reference

K = 8
# Untimed rounds before the loop: the first op after start-up runs cold
# (a 9 s fit against 3 s warm), and the JIT keeps cutting the CPU of
# the next ones (a fixed initial heap did not change that). With one
# round, CPU per op fell by a third over the timed loop and its spread
# across seeds doubled.
WARMUP_ROUNDS = 2


class FitWorkload:
    """Lloyd fits of ``k=8`` with no early exit (``tol=0``), all from one
    seed-derived init of ``k`` input points, so the numpy reference runs
    once per run; every fit is checked against it."""

    # A pass is one fit. Sized so that a 15 s loop ends on this count
    # rather than on the clock when fits take 2.5-3.5 s: the median then
    # sits at the same place on the JIT warm-up curve however fast the
    # shared host runs.
    min_passes = 6

    def __init__(self, name: str, n_points: int, row_groups: int, max_iter: int, why: str) -> None:
        self.name = name
        self.n_points = n_points
        self.row_groups = row_groups
        self.max_iter = max_iter
        self.why = why
        self.size = f"{n_points} points, k={K}, {max_iter} iterations"

    def prepare(self, work_dir: str, seed: int) -> None:
        self.seed = seed
        self.path = os.path.join(work_dir, f"{self.name}.parquet")
        inputs.write_points(self.path, self.n_points, self.row_groups, seed)
        self.x, self.y = inputs.read_points(self.path)
        self.extent = float(max(np.ptp(self.x), np.ptp(self.y)))
        rows = np.random.default_rng([seed, 3]).choice(self.n_points, size=K, replace=False)
        self.init = [(c, float(self.x[r]), float(self.y[r])) for c, r in enumerate(rows)]
        self.results: list[tuple[int, object]] = []
        self.ref: tuple | None = None

    def load(self, spark) -> None:
        self.points = spark.read.parquet(self.path)

    def fit(self):
        from kmeans_mapreduce_spark.operators import kmeans

        return kmeans.fit(
            self.points, k=K, max_iter=self.max_iter, tol=0.0, seed=self.seed, init_centers=self.init
        )

    def passes(self, rng: random.Random):
        """Endless sequence of passes of ``(name, op(spark, spans))``; a fit
        pass is one op. Ops below ``WARMUP_ROUNDS`` are the warm-up fits."""
        i = WARMUP_ROUNDS
        while True:
            yield [(f"fit{i}", lambda spark, spans, i=i: self.results.append((i, self.fit())))]
            i += 1

    def warmup(self, spark) -> list[tuple[str, float, list[str]]]:
        """``WARMUP_ROUNDS`` untimed fits, each checked at once; returns
        ``[(name, wall, problems)]``."""
        out = []
        for i in range(WARMUP_ROUNDS):
            t0 = time.perf_counter()
            res = self.fit()
            out.append((f"fit{i}", time.perf_counter() - t0, self._problems(res)))
        return out

    def _problems(self, res) -> list[str]:
        if self.ref is None:
            self.ref = reference.lloyd(self.x, self.y, self.init, self.max_iter, self.seed)
        ref_c, ref_h = self.ref
        return reference.compare_fit(res.centers, res.wssse_history, ref_c, ref_h, self.extent)

    def check(self) -> list[tuple[str, list[str]]]:
        """Check every timed fit against the reference."""
        out = [(f"fit{i}", self._problems(res)) for i, res in self.results]
        self.results.clear()
        return out


class QueryMix:
    """Registry queries and a bounded replay over generated tables, one op
    per query, in a seed-shuffled order per pass. Every query's output is
    checked once, in the first warm-up pass, against its DuckDB oracle
    twin; the timed ops write to the noop sink."""

    # Passes of 3.8-5 s: a 15 s loop ends on this count rather than on the
    # clock, so the median pass sits at the same place on the JIT warm-up
    # curve (CPU per op still falls by a fifth over these passes) however
    # fast the shared host runs.
    min_passes = 4

    # Light queries only, covering each layer the fits do not reach: scans
    # and joins, barriers (line dedup), Python UDF stages (the image
    # query) and the streaming state store (a bounded replay). The two
    # cheapest candidates (0.15-0.25 s ops) were left out: with them the
    # median op fell on the gap between the cheap and the mid-cost queries
    # and its spread across seeds doubled.
    QUERIES = (
        "lineitem_pricing_summary",
        "join_revenue_by_nation",
        "events_sessionize",
        "text_quality",
        "multimodal_phash",
        "corpus_line_dedup",
        "events_stream_native_dedup_replay",
    )

    def __init__(self, why: str) -> None:
        self.name = "query_mix"
        self.why = why
        self.size = f"{len(self.QUERIES)} queries over {inputs.N_LINEITEM} lineitem rows"

    def prepare(self, work_dir: str, seed: int) -> None:
        from kmeans_mapreduce_spark import queries

        self.dir = os.path.join(work_dir, "tables")
        inputs.write_query_tables(self.dir, seed)
        registry = {**queries.core_queries(), **queries.extension_queries()}
        oracles = {**queries.core_oracle_sql(), **queries.extension_oracle_sql()}
        self.query_fns = {q: registry[q] for q in self.QUERIES}
        self.oracles = {q: oracles[q] for q in self.QUERIES}

    def load(self, spark) -> None:
        for table in inputs.QUERY_TABLES:
            spark.read.parquet(os.path.join(self.dir, f"{table}.parquet")).schema

    def run(self, spark, name: str, spans=None) -> None:
        """One timed op: build the query, then run it into the noop sink."""
        with spans.span("build") if spans else contextlib.nullcontext():
            df = self.query_fns[name](spark, self.dir)
        with spans.span("exec") if spans else contextlib.nullcontext():
            df.write.format("noop").mode("overwrite").save()

    def passes(self, rng: random.Random):
        """Endless sequence of passes, each every query once in a
        seed-shuffled order, as ``(name, op(spark, spans))``."""
        while True:
            order = list(self.QUERIES)
            rng.shuffle(order)
            yield [(q, lambda spark, spans, q=q: self.run(spark, q, spans)) for q in order]

    def warmup(self, spark) -> list[tuple[str, float, list[str]]]:
        """Run every query once, collecting its rows, and compare them with
        the DuckDB twin (``tools/check_oracle.compare``); then run the
        remaining warm-up passes as timed ops would. Only the Spark side
        counts towards the wall."""
        import duckdb

        from tools.check_oracle import compare

        con = duckdb.connect()
        for table in inputs.QUERY_TABLES:
            path = os.path.join(self.dir, f"{table}.parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        out = []
        for name in self.QUERIES:
            t0 = time.perf_counter()
            got = self.query_fns[name](spark, self.dir).toPandas()
            wall = time.perf_counter() - t0
            out.append((name, wall, compare(name, got, con.sql(self.oracles[name]).df())))
        con.close()
        for _ in range(WARMUP_ROUNDS - 1):
            for name in self.QUERIES:
                t0 = time.perf_counter()
                self.run(spark, name)
                out.append((name, time.perf_counter() - t0, []))
        return out

    def check(self) -> list[tuple[str, list[str]]]:
        return []
