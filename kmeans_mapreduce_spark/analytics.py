"""Corpus/warehouse analytics queries.

Same contract as ``extensions.py``: every Spark query has a DuckDB
oracle twin with column names aligned on both sides, declared by the
``@query`` decorator on its builder (see ``queries.py``); the registry
lists these after the ``extensions.py`` queries. Families:

- sketches: portable HyperLogLog distinct counts (operators/sketches)
- relational surface the reference lacks (SURVEY §2.2): PIVOT,
  analytic window functions (running totals / lag deltas)
- text hygiene for training pipelines: repetition signals, PII
  redaction, benchmark decontamination (operators/textops, decontam)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kmeans_mapreduce_spark.operators import decontam as dc
from kmeans_mapreduce_spark.operators import selection as sel
from kmeans_mapreduce_spark.operators import sketches as sk
from kmeans_mapreduce_spark.operators import textops as tx
from kmeans_mapreduce_spark.sources.loaders import load_table
from kmeans_mapreduce_spark.barrier import narrow_barrier
from kmeans_mapreduce_spark.queries import (
    _R_EVENTAGG,
    _R_TEXTSCAN,
    query,
)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

@query(twin=lambda: _hll_oracle())
def q_events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL sketch vs exact distinct, per event type.

    Two cardinality regimes on purpose: distinct users (~150, lands in
    the linear-counting small-range branch) and distinct event ids
    (~2000, raw HLL estimate branch). The sketch side shuffles at most
    types x 256 register rows however large the input; the exact side
    is the COUNT(DISTINCT) baseline it replaces at scale.
    """
    e = load_table(spark, sf_dir, "events")
    users = sk.hll_distinct(e, "user_id", ["event_type"], "users_hll")
    evs = sk.hll_distinct(e, "event_id", ["event_type"], "events_hll")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users_exact"),
        F.countDistinct("event_id").alias("events_exact"),
    )
    return (
        exact.join(users, "event_type").join(evs, "event_type")
        .select("event_type", "users_exact", "users_hll",
                "events_exact", "events_hll")
    )


URGENT = "1-URGENT"


@query(unbenched=_R_EVENTAGG, twin=lambda: _BLOOM_REGISTERS_ORACLE)
def q_orders_bloom_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build side over the urgent-order keys: the (word,
    bits) register table both engines must produce bit-identically.
    Constant-size shuffle (<= 128 words) regardless of build rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == URGENT
    )
    return sk.bloom_registers(o, "o_orderkey")


@query(twin=lambda: _BLOOM_PRUNE_ORACLE)
def q_lineitem_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: revenue of line items belonging to urgent
    orders, with the fact side pre-pruned by a 1 KB bloom filter before
    the exact semi-join (sketches.bloom_semi_join). The bloom drops
    ~80% of fact rows in a narrow scan-side filter — at 100 TB that is
    shuffle volume that never leaves the mappers — and the trailing
    exact join removes false positives, so the oracle is the plain
    IN-subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == URGENT
    )
    pruned = sk.bloom_semi_join(li, o, "l_orderkey", "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@query(twin=lambda: _TEXT_CHUNKS_ORACLE)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface (the third extension API next to the pandas_udf
    UDF and the grouped-agg UDAF): context-window chunking of documents
    via a lateral Python table function — 1 document row fans out to
    ceil(n_tokens/64) chunk rows. The DuckDB oracle replays the token
    windows independently; a test pins the vectorized Catalyst twin
    (textops.chunk_docs_vectorized, the 100 TB hot path) to the same
    rows."""
    return tx.chunk_docs_udtf(load_table(spark, sf_dir, "documents"))


@query(twin=lambda: _TEXT_CHUNKS_ORACLE)
def q_text_chunks_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized Catalyst twin of q_text_chunks (explode + slice +
    md5, zero Python) — registered separately so the bench shows the
    builtin-vs-UDTF gap and the oracle gates both forms."""
    return tx.chunk_docs_vectorized(load_table(spark, sf_dir, "documents"))


@query(twin=lambda: _pca_gate_oracle())
def q_embeddings_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA under the hash gate (r12 verdict task 3 —
    previously rows-only): one Arrow suffstats pass, driver eigh,
    narrow projection map — with the eigh half gated NUMERICALLY. The
    eigendecomposition itself is out of SQL reach, but its result
    obeys engine-independent identities the engine verifies honestly
    from a fresh distributed pass over the PROJECTED data: the sample
    variance of the scores along component k equals eigenvalue λ_k
    (the defining PCA identity), eigenvalues come out descending, and
    the top-k explained variance cannot exceed the total covariance
    trace. ``trace_cov`` is the real cross-engine value — the twin
    recomputes Σ_i var(dim_i) from the raw embeddings in SQL with the
    identical per-dim op sequence and the pinned IEEE rounding.
    Callers wanting the projection itself use ``pca.pca_pipeline``;
    the distributed suffstats stay independently hash-gated as
    ``embeddings_pca_suffstats``."""
    import math

    from kmeans_mapreduce_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, g = pca._suffstats(emb, "embedding")
    mean, comps, evs = pca.fit_from_suffstats(n, s, g)
    kc = len(comps)
    proj = pca.pca_project(emb, mean, comps)
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in range(kc):
        pc_k = F.col("pc")[k]
        aggs.append(F.sum(pc_k).alias(f"s{k}"))
        aggs.append(F.sum(pc_k * pc_k).alias(f"q{k}"))
    row = proj.agg(*aggs).collect()[0]
    nn = row["n"]
    score_vars = [
        (row[f"q{k}"] - row[f"s{k}"] * row[f"s{k}"] / nn) / (nn - 1)
        for k in range(kc)
    ]
    # the projection rounds scores to 6 digits, so the variance
    # identity holds to ~1e-5 absolute; 1e-4·max(1, λ) is far above
    # that and 4+ orders below any eigh/projection mismatch
    vars_match = all(
        abs(score_vars[k] - evs[k]) <= 1e-4 * max(1.0, abs(evs[k]))
        for k in range(kc)
    )
    descending = all(evs[i + 1] <= evs[i] + 1e-12 for i in range(kc - 1))
    d = len(s)
    trace = 0.0
    for i in range(d):
        trace += (g[i][i] - s[i] * s[i] / n) / (n - 1)
    trace_r = math.floor(trace * 1e6 + 0.5) / 1e6
    explained_le = sum(evs) <= trace + 1e-9 * abs(trace)
    rows = [(
        int(n), int(d), int(kc), float(trace_r),
        bool(vars_match), bool(descending), bool(explained_le),
    )]
    return spark.createDataFrame(
        rows,
        "n_vecs BIGINT, d INT, k_components INT, trace_cov DOUBLE, "
        "vars_match_eigvals BOOLEAN, vars_descending BOOLEAN, "
        "explained_le_trace BOOLEAN",
    )


@query(twin=lambda: _PCA_SUFFSTATS_ORACLE)
def q_embeddings_pca_suffstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GATED half of embeddings_pca: the distributed sufficient
    statistics (n, Σx, ΣxxT) that feed the driver-side eigh, emitted as
    one row per upper-triangle (i, j) pair — `sum_i`/`sum_j` carry Σx,
    `gram_ij` the Gram entry, all rounded to 6 with the IEEE
    floor(x·1e6 + ½)/1e6 expression ON BOTH SIDES (sign-safe:
    half-toward-+inf by pinned definition). Decimal HALF_UP here vs
    DuckDB's float ROUND in the twin was the same divergent pairing
    the sf0.1 sweep caught in the quality score — the floor form
    removes that source, leaving only the inherent float-sum-order
    noise the 6-digit rounding absorbs. This pins the distributed
    pass the way kmpp_round1 pins init; `embeddings_pca` itself stays
    rows-only (eigh is numerical)."""
    import math

    from kmeans_mapreduce_spark.operators import pca

    def r6(x: float) -> float:
        return math.floor(float(x) * 1e6 + 0.5) / 1e6

    n, s, g = pca._suffstats(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    d = len(s)
    rows = [
        (i + 1, j + 1, int(n), r6(s[i]), r6(s[j]), r6(g[i][j]))
        for i in range(d)
        for j in range(i, d)
    ]
    return spark.createDataFrame(
        rows, "i INT, j INT, n BIGINT, sum_i DOUBLE, sum_j DOUBLE, gram_ij DOUBLE"
    )


PCA_EMB_DIM = 64  # embeddings.parquet dim (TESTDATA.md); DuckDB range()
# can't take a lateral column, so the twin pins it while the Spark side
# still derives d from the data (a dim change breaks the row count
# loudly, not silently)

_PCA_SUFFSTATS_ORACLE = f"""
WITH e0 AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
p AS (
  SELECT t1.i::INTEGER AS i, t2.j::INTEGER AS j
  FROM range(1, {PCA_EMB_DIM + 1}) t1(i), range(1, {PCA_EMB_DIM + 1}) t2(j)
  WHERE t1.i <= t2.j
)
SELECT p.i, p.j,
       COUNT(*)::BIGINT AS n,
       floor(SUM(v[p.i]) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / CAST(1000000.0 AS DOUBLE) AS sum_i,
       floor(SUM(v[p.j]) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / CAST(1000000.0 AS DOUBLE) AS sum_j,
       floor(SUM(v[p.i] * v[p.j]) * CAST(1000000.0 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE) AS gram_ij
FROM e0 CROSS JOIN p
GROUP BY p.i, p.j"""


def _pca_gate_oracle() -> str:
    """Twin of the gated ``embeddings_pca``: recomputes the covariance
    trace Σ_i var(dim_i) from the raw embeddings with the engine's
    exact per-dim op sequence ((Σv² − Σv·Σv/n)/(n−1), summed over
    dims, IEEE floor-rounded to 6), and pins the eigh identities the
    engine verifies honestly (score variance = eigenvalue, descending
    order, explained ≤ trace) as the booleans they must be."""
    from kmeans_mapreduce_spark.operators.pca import PCA_K

    return f"""
WITH e0 AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
d AS (
  SELECT t.i::INTEGER AS i, v[t.i] AS val
  FROM e0 CROSS JOIN range(1, {PCA_EMB_DIM + 1}) t(i)
),
pv AS (
  SELECT i,
         (SUM(val * val) - SUM(val) * SUM(val) / COUNT(*))
           / (COUNT(*) - 1) AS var_i,
         COUNT(*)::BIGINT AS n
  FROM d GROUP BY i
)
SELECT MAX(n)::BIGINT AS n_vecs,
       CAST({PCA_EMB_DIM} AS INTEGER) AS d,
       CAST({PCA_K} AS INTEGER) AS k_components,
       floor(SUM(var_i) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / CAST(1000000.0 AS DOUBLE) AS trace_cov,
       TRUE AS vars_match_eigvals,
       TRUE AS vars_descending,
       TRUE AS explained_le_trace
FROM pv"""


ORDER_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]
PRICE_LO, PRICE_HI = 0.0, 1000000.0


@query(twin=lambda: _FIRST_TOUCH_ORACLE)
def q_events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's first event per UTC day
    (row_number over ONE (user, day)-keyed window ordered by the unique
    (ts, event_id) pair — single shuffle, deterministic in both
    engines)."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 1000000000 div 86400").alias("day")
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (
        e.select("user_id", day, "ts", "event_id", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "day", "event_id",
            F.col("event_type").alias("first_type"),
            F.round("value", 2).alias("first_value"),
        )
    )


@query(twin=lambda: _SURPRISAL_ORACLE)
def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality score per document
    (textops.lm_surprisal) — the CCNet-style filtering signal."""
    return tx.lm_surprisal(load_table(spark, sf_dir, "documents"))


@query(twin=lambda: _QUALITY_REPORT_ORACLE)
def q_quality_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders (operators/quality):
    4 row-local checks in ONE conditional-aggregate scan, a uniqueness
    groupBy, and a broadcast-anti FK probe into customer — the ingest
    validation gate a pipeline runs before data reaches training."""
    from kmeans_mapreduce_spark.operators import quality as qc

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rows = qc.row_checks(
        o,
        [
            qc.not_null("o_custkey"),
            qc.in_range("o_totalprice", PRICE_LO, PRICE_HI),
            qc.accepted_values("o_orderpriority", ORDER_PRIORITIES),
            qc.matches("o_orderstatus", "^[A-Z]$"),
        ],
    )
    uniq = qc.unique_check(o, "o_orderkey")
    fk = qc.foreign_key_check(o, "o_custkey", c, "c_custkey")
    return rows.unionByName(uniq).unionByName(fk)


@query(twin=lambda: _pivot_oracle())
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (§2.2 gap): hour-of-day x event-type matrix of counts and
    value sums. Explicit pivot values keep the output schema static
    (Catalyst turns this into one pass of conditional aggregates — no
    per-value scans), so the plan is a single map-side-combinable
    groupBy on 24 keys."""
    e = load_table(spark, sf_dir, "events")
    hod = F.expr("(ts div 1000000000 div 3600) % 24").alias("hod")
    return (
        e.select(hod, "event_type", "value")
        .groupBy("hod")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("val"),
        )
    )


@query(twin=lambda: _RUNNING_WINDOW_ORACLE)
def q_orders_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window suite (§2.2 gap): per-customer order sequence,
    running revenue, and days since the previous order (row_number +
    running SUM + lag over ONE shared window — single shuffle keyed by
    customer). Unique (date, orderkey) ordering makes the running fold
    order identical in both engines."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.round(F.sum("o_totalprice").over(wrows), 2).alias("running_total"),
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
            F.lit(-1),
        ).cast("long").alias("days_since_prev"),
    )


@query(twin=lambda: _REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-n-gram boilerplate
    detection) per document — see textops.repetition_signals."""
    return tx.repetition_signals(load_table(spark, sf_dir, "documents"))


@query(unbenched=_R_TEXTSCAN, twin=lambda: _redact_oracle())
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over text with planted PII: the synthetic corpus
    has no emails/phones/IPs, so the query derives them
    deterministically from doc_id (identical derivation in the oracle)
    — the redaction regexes then have real spans to hit. Narrow
    regexp_replace map stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 3) % 256).cast("string"),
    )
    return tx.redact_pii(d.select("doc_id", planted.alias("text")))


HIST_LO, HIST_HI = 0.0, 500.0
HIST_QS = (0.5, 0.9, 0.99)


@query(unbenched=_R_EVENTAGG, twin=lambda: "WITH " + sk.hist_sql(
    "value", "event_type", "events", HIST_QS, HIST_LO, HIST_HI,
    gname="event_type",
))
def q_events_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of event values per type: p50/p90/p99
    from a 64-bin equi-width sketch. The shuffle carries at most
    types x 64 counter rows however many events stream through —
    the sketch path next to sampling.token_quantiles' exact path."""
    e = load_table(spark, sf_dir, "events")
    hist = sk.hist_sketch(e, "value", ["event_type"], HIST_LO, HIST_HI)
    return sk.hist_quantiles(hist, ["event_type"], HIST_QS, HIST_LO, HIST_HI)


@query(twin=lambda: _quantile_sketch_error_sql())
def q_events_quantile_sketch_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-calibration eval: the 64-bin histogram quantile estimate
    against the EXACT sort-based quantile, per (type, quantile) — the
    number that justifies serving the mergeable sketch at 100 TB (its
    error is bounded by bin width; this measures it on real data).
    Joins two O(|types|)-row aggregates — the exact side is the
    expensive one, which is the point of the comparison.

    Output: (event_type, q, exact_v, est_v, abs_err)."""
    from kmeans_mapreduce_spark.operators import events as ev_ops

    e = load_table(spark, sf_dir, "events")
    hist = sk.hist_sketch(e, "value", ["event_type"], HIST_LO, HIST_HI)
    est = sk.hist_quantiles(
        hist, ["event_type"], HIST_QS, HIST_LO, HIST_HI
    ).select("event_type", "q", F.col("quantile_est").alias("est_v"))
    exact_long = ev_ops.exact_quantiles(e).selectExpr(
        "event_type",
        "stack(3, 0.5D, p50, 0.9D, p90, 0.99D, p99) AS (q, exact_v)",
    )
    from kmeans_mapreduce_spark.functions.text import ieee_round_pos

    return exact_long.join(est, ["event_type", "q"]).select(
        "event_type",
        "q",
        "exact_v",
        "est_v",
        ieee_round_pos(F.abs(F.col("est_v") - F.col("exact_v")), 6).alias(
            "abs_err"
        ),
    )


@query(twin=lambda: _weighted_sample_oracle())
def q_corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional deterministic sampling: each doc kept with
    probability = its quality score (hash-threshold membership, no RNG,
    retry-stable, zero shuffle — the per-row-weighted complement of the
    stratified sampler)."""
    from kmeans_mapreduce_spark.operators.sampling import weighted_sample

    q = tx.quality(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    return weighted_sample(q, F.col("quality_score"))


@query(unbenched=_R_TEXTSCAN, twin=lambda: _cms_oracle())
def q_text_cms_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch vs exact term counts over the corpus
    vocabulary. The sketch's shuffle is constant-size (<= 4 x 1024
    counters after map-side combine) however many tokens stream
    through; probing joins the tiny vocabulary against the broadcast
    sketch. cms_est >= n_exact always (one-sided error, tested)."""
    d = load_table(spark, sf_dir, "documents")
    from kmeans_mapreduce_spark.functions.text import tokens

    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = sk.cms_sketch(tok, "term")
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_exact"))
    est = sk.cms_estimate(sketch, exact.select("term"), "term")
    return exact.join(est, "term").select("term", "n_exact", "cms_est")


SERIES_QUERY_USERS = [0, 10, 20, 30, 40]
SERIES_K = 3


@query(twin=lambda: _series_similarity_oracle())
def q_pipeline_series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (cf. REPOSE/EDBT'19 in PAPERS.md,
    re-expressed Spark-first): each user's activity becomes a 24-dim
    hour-of-day profile vector (hourly value sums, zero-filled), then
    the existing brute cosine top-k operator finds the most similar
    users to a probe set — one chained plan from raw events to ranked
    neighbors. Scale shape: the profile build is one map-side-combined
    groupBy; the similarity step inherits cosine_topk's broadcast-query
    design (and would swap to the IVF path for millions of users)."""
    e = load_table(spark, sf_dir, "events")
    from kmeans_mapreduce_spark.operators.similarity import cosine_topk

    hourly = e.groupBy(
        "user_id",
        F.expr("(ts div 1000000000 div 3600) % 24").cast("int").alias("hod"),
    ).agg(F.round(F.sum("value"), 2).alias("vsum"))
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("hod"), F.col("vsum")))
    )
    vecs = (
        hourly.groupBy("user_id")
        .agg(m.alias("m"))
        .select(
            F.col("user_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(23)),
                lambda h: F.coalesce(F.col("m")[h], F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    return cosine_topk(vecs, SERIES_QUERY_USERS, k=SERIES_K)


@query(twin=lambda: _decontaminate_oracle())
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs whose 3-gram shingles
    overlap the ~1% benchmark split (doc_id % 97 == 0) by >= 5%. The
    benchmark fingerprint set is broadcast — the corpus never
    shuffles except the final per-doc count."""
    return dc.decontaminate(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Oracle twins
# ---------------------------------------------------------------------------

def _hll_oracle() -> str:
    u = sk.hll_sql("user_id::VARCHAR", "event_type", "events", "users_hll")
    v = sk.hll_sql("event_id::VARCHAR", "event_type", "events", "events_hll")
    return f"""
WITH {u},
{v},
exact AS (
  SELECT event_type,
         COUNT(DISTINCT user_id) AS users_exact,
         COUNT(DISTINCT event_id) AS events_exact
  FROM events GROUP BY event_type
)
SELECT x.event_type, x.users_exact, a.users_hll, x.events_exact, b.events_hll
FROM exact x
JOIN est_users_hll a ON a.g = x.event_type
JOIN est_events_hll b ON b.g = x.event_type
"""


def _pivot_oracle() -> str:
    cols = ", ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}_n, "
        f"ROUND(SUM(value) FILTER (WHERE event_type = '{t}'), 2) AS {t}_val"
        for t in EVENT_TYPES
    )
    return f"""
SELECT (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hod, {cols}
FROM events GROUP BY hod
"""


_RUNNING_WINDOW_ORACLE = """
SELECT o_custkey, o_orderkey,
       row_number() OVER win AS order_seq,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       COALESCE(date_diff('day', lag(o_orderdate) OVER win, o_orderdate),
                -1)::BIGINT AS days_since_prev
FROM orders
WHERE o_custkey % 50 = 0
WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


_REPETITION_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (
  SELECT doc_id, 1 AS g, unnest(w) AS gram FROM w
  UNION ALL
  SELECT doc_id, 2 AS g,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                     ELSE [] END) AS gram
  FROM w
),
c AS (SELECT doc_id, g, gram, COUNT(*) AS cnt FROM tok GROUP BY doc_id, g, gram),
s AS (
  SELECT doc_id, g, SUM(cnt) AS total, COUNT(*) AS nd, MAX(cnt) AS top
  FROM c GROUP BY doc_id, g
)
SELECT doc_id,
  MAX(CASE WHEN g = 1 THEN total END)::BIGINT AS n_tokens,
  ROUND(MAX(CASE WHEN g = 1 THEN nd END)::DOUBLE
        / MAX(CASE WHEN g = 1 THEN total END)::DOUBLE, 6) AS distinct_ratio,
  ROUND(MAX(CASE WHEN g = 1 THEN top END)::DOUBLE
        / MAX(CASE WHEN g = 1 THEN total END)::DOUBLE, 6) AS top_unigram_frac,
  ROUND(COALESCE(
        (MAX(CASE WHEN g = 2 THEN total END) - MAX(CASE WHEN g = 2 THEN nd END))::DOUBLE
        / MAX(CASE WHEN g = 2 THEN total END)::DOUBLE, 0.0::DOUBLE), 6) AS dup_bigram_frac
FROM s GROUP BY doc_id
"""


def _redact_oracle() -> str:
    email, ipv4, phone = tx.PII_EMAIL, tx.PII_IPV4, tx.PII_PHONE
    planted = (
        "text || ' contact user' || doc_id::VARCHAR || '@mail.example.com or 555-'"
        " || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')"
        " || ' from 10.' || (doc_id % 256)::VARCHAR || '.0.'"
        " || ((doc_id * 3) % 256)::VARCHAR"
    )
    return f"""
WITH p AS (SELECT doc_id, {planted} AS text FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{email}', '<EMAIL>', 'g'),
      '{ipv4}', '<IP>', 'g'),
      '{phone}', '<PHONE>', 'g') AS redacted,
  len(regexp_extract_all(text, '{email}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '{ipv4}'))::BIGINT AS n_ips,
  len(regexp_extract_all(text, '{phone}'))::BIGINT AS n_phones
FROM p
"""


def _weighted_sample_oracle() -> str:
    from kmeans_mapreduce_spark.extensions import _quality_sql
    from kmeans_mapreduce_spark.functions.hashing import h64_sql
    from kmeans_mapreduce_spark.operators.sampling import (
        SAMPLE_BUCKETS,
        WEIGHTED_SALT,
    )

    key_expr = f"'{WEIGHTED_SALT}:' || doc_id::VARCHAR"
    bucket = f"{h64_sql(key_expr)} % {SAMPLE_BUCKETS}"
    thr = (
        "CAST(floor(LEAST(1.0::DOUBLE, GREATEST(0.0::DOUBLE, quality_score))"
        f" * {float(SAMPLE_BUCKETS)!r}::DOUBLE + 0.5::DOUBLE) AS BIGINT)"
    )
    return f"""
WITH q AS ({_quality_sql()})
SELECT doc_id, quality_score FROM q
WHERE {bucket} < {thr}
"""


def _cms_oracle() -> str:
    from kmeans_mapreduce_spark.functions.hashing import h64_seeded_sql

    coords = " UNION ALL ".join(
        f"SELECT term, {j} AS j, ({h64_seeded_sql('term', j)}) % {sk.CMS_WIDTH} AS col"
        " FROM vocab"
        for j in range(sk.CMS_DEPTH)
    )
    return f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
{sk.cms_sql('term', 'tok')},
vocab AS (SELECT term, COUNT(*) AS n_exact FROM tok GROUP BY term),
coords AS ({coords}),
est AS (
  SELECT term, MIN(COALESCE(cnt, 0)) AS cms_est
  FROM coords LEFT JOIN cms_sketch USING (j, col)
  GROUP BY term
)
SELECT v.term, v.n_exact, e.cms_est
FROM vocab v JOIN est e ON v.term = e.term
"""


def _series_similarity_oracle() -> str:
    from kmeans_mapreduce_spark.extensions import _cosine_sql

    ids = ", ".join(str(i) for i in SERIES_QUERY_USERS)
    return f"""
WITH hourly AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hod,
         ROUND(SUM(value), 2) AS vsum
  FROM events GROUP BY user_id, hod
),
users AS (SELECT DISTINCT user_id FROM hourly),
grid AS (SELECT user_id, h FROM users CROSS JOIN (SELECT unnest(range(0, 24)) AS h)),
filled AS (
  SELECT g.user_id, g.h, COALESCE(hr.vsum, 0.0::DOUBLE) AS v
  FROM grid g LEFT JOIN hourly hr ON hr.user_id = g.user_id AND hr.hod = g.h
),
e AS (SELECT user_id AS vec_id, list(v ORDER BY h) AS v FROM filled GROUP BY user_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND({_cosine_sql('q.qv', 'e.v', dim=24)}, 6) AS cosine
  FROM e JOIN q ON e.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank, cosine
FROM ranked WHERE rank <= {SERIES_K}
"""


def _decontaminate_oracle() -> str:
    from kmeans_mapreduce_spark.extensions import SHINGLE_EXPR
    from kmeans_mapreduce_spark.functions.hashing import h64_sql

    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
t AS (SELECT doc_id, {SHINGLE_EXPR} AS toks FROM w),
x AS (SELECT doc_id, len(toks)::BIGINT AS n_shingles, unnest(toks) AS tok FROM t),
shf AS (SELECT doc_id, n_shingles, {h64_sql('tok')} AS fp FROM x),
b AS (SELECT DISTINCT fp FROM shf WHERE doc_id % {dc.BENCH_MOD} = 0),
c AS (SELECT * FROM shf WHERE doc_id % {dc.BENCH_MOD} <> 0),
o AS (
  SELECT doc_id, n_shingles, COUNT(*) AS n_overlap
  FROM c JOIN b USING (fp) GROUP BY doc_id, n_shingles
)
SELECT doc_id, n_shingles, n_overlap,
       ROUND(n_overlap::DOUBLE / n_shingles::DOUBLE, 6) AS overlap_ratio
FROM o
WHERE ROUND(n_overlap::DOUBLE / n_shingles::DOUBLE, 6) >= {dc.CONTAM_THRESHOLD!r}::DOUBLE
"""


_URGENT_ORDERS = (
    "(SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')"
)

_BLOOM_REGISTERS_ORACLE = (
    "WITH "
    + sk.bloom_sql("CAST(o_orderkey AS VARCHAR)", _URGENT_ORDERS)
    + "\nSELECT word, bits FROM bloom_registers"
)

# The bloom is invisible in the final answer (no false negatives by
# construction; false positives removed by the exact join), so the
# oracle is the plain semi-join.
_BLOOM_PRUNE_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN
      (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
"""


_TEXT_CHUNKS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok,
         generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1) AS i
  FROM documents
)
SELECT doc_id, ((i - 1) // {tx.CHUNK_TOKENS})::INT AS chunk_idx,
       COUNT(*) AS n_tokens, md5(string_agg(tok, ' ' ORDER BY i)) AS fp
FROM toks GROUP BY doc_id, chunk_idx
"""


_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
tot AS (SELECT SUM(c) AS n FROM tf),
probs AS (SELECT term, c::DOUBLE / n AS p FROM tf CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(-log2(p)), 4) AS bits_per_token
FROM toks JOIN probs USING (term)
GROUP BY doc_id
"""

_FIRST_TOUCH_ORACLE = """
WITH e AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000 // 86400)::BIGINT AS day,
         epoch_ns(ts)::BIGINT AS tsn, event_id, event_type, value
  FROM events
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, day ORDER BY tsn, event_id
  ) AS rn FROM e
)
SELECT user_id, day, event_id, event_type AS first_type,
       ROUND(value, 2) AS first_value
FROM r WHERE rn = 1
"""

_QUALITY_REPORT_ORACLE = f"""
WITH base AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
         SUM(CASE WHEN o_totalprice IS NULL
                   OR o_totalprice < {PRICE_LO!r} OR o_totalprice > {PRICE_HI!r}
                  THEN 1 ELSE 0 END) AS v1,
         SUM(CASE WHEN o_orderpriority IS NULL OR o_orderpriority NOT IN
                  ({", ".join("'" + p + "'" for p in ORDER_PRIORITIES)})
                  THEN 1 ELSE 0 END) AS v2,
         SUM(CASE WHEN o_orderstatus IS NULL
                   OR NOT regexp_matches(o_orderstatus, '^[A-Z]$')
                  THEN 1 ELSE 0 END) AS v3
  FROM orders
),
kc AS (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey),
uq AS (SELECT SUM(c) AS n, COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS v FROM kc),
fk AS (
  SELECT (SELECT COUNT(*) FROM orders) AS n, COUNT(*) AS v
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT 'not_null(o_custkey)' AS "check", n AS n_rows, v0::BIGINT AS violations, v0 = 0 AS passed FROM base
UNION ALL
SELECT 'in_range(o_totalprice,{PRICE_LO!r},{PRICE_HI!r})', n, v1::BIGINT, v1 = 0 FROM base
UNION ALL
SELECT 'accepted_values(o_orderpriority)', n, v2::BIGINT, v2 = 0 FROM base
UNION ALL
SELECT 'matches(o_orderstatus)', n, v3::BIGINT, v3 = 0 FROM base
UNION ALL
SELECT 'unique(o_orderkey)', n::BIGINT, v::BIGINT, v = 0 FROM uq
UNION ALL
SELECT 'foreign_key(o_custkey)', n::BIGINT, v::BIGINT, v = 0 FROM fk
"""


@query(twin=lambda: _rule_filter_oracle())
def q_corpus_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality filter: per-document verdict
    booleans for each heuristic plus the conjunction — the transparent
    (auditable, per-rule attributable) counterpart to the score-based
    ``text_quality`` filter. One narrow map over one token-array
    projection; zero shuffle (plan-asserted in tests)."""
    return sel.rule_filter_report(load_table(spark, sf_dir, "documents"))


@query(twin=lambda: _dsir_oracle())
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed unigram LM ratio, target =
    quality-filtered subset): the data-selection score used to resample
    a raw crawl toward a high-quality target distribution."""
    return sel.dsir_logweights(load_table(spark, sf_dir, "documents"))


def _rule_filter_oracle() -> str:
    sw = ", ".join("'" + s + "'" for s in sel.STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (SELECT doc_id, len(w)::BIGINT AS n,
  list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) AS mwl,
  len(list_filter(w, x -> list_contains([{sw}], x)))::BIGINT AS sw,
  len(list_filter(w, x -> NOT regexp_matches(x, '{sel.ALNUM_RE}')))::DOUBLE / len(w) AS sym,
  len(list_distinct(w))::DOUBLE / len(w) AS ttr
 FROM t)
SELECT doc_id, n AS n_words,
  (n >= {sel.RULE_MIN_WORDS} AND n <= {sel.RULE_MAX_WORDS}) AS pass_words,
  (mwl >= {sel.RULE_MWL_LO} AND mwl <= {sel.RULE_MWL_HI}) AS pass_word_len,
  (sw >= {sel.RULE_MIN_STOPWORD_HITS}) AS pass_stopwords,
  (sym <= {sel.RULE_MAX_SYMBOL_RATIO}) AS pass_symbols,
  (ttr >= {sel.RULE_MIN_TTR}) AS pass_ttr,
  ((n >= {sel.RULE_MIN_WORDS} AND n <= {sel.RULE_MAX_WORDS})
   AND (mwl >= {sel.RULE_MWL_LO} AND mwl <= {sel.RULE_MWL_HI})
   AND (sw >= {sel.RULE_MIN_STOPWORD_HITS})
   AND (sym <= {sel.RULE_MAX_SYMBOL_RATIO})
   AND (ttr >= {sel.RULE_MIN_TTR})) AS pass_all
FROM m
"""


def _dsir_oracle() -> str:
    from kmeans_mapreduce_spark.extensions import _quality_sql
    from kmeans_mapreduce_spark.functions.hashing import h64_sql

    b = sel.DSIR_BUCKETS
    return f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
feat AS (SELECT doc_id, {h64_sql('term')} % {b} AS b FROM toks),
q AS ({_quality_sql()}),
tgt AS (SELECT doc_id FROM q WHERE quality_score >= {sel.DSIR_QUALITY_TAU}),
rc AS (SELECT b, COUNT(*) AS cr FROM feat GROUP BY b),
tc AS (SELECT b, COUNT(*) AS ct FROM feat JOIN tgt USING (doc_id) GROUP BY b),
tot AS (SELECT (SELECT SUM(cr) FROM rc) AS r_total,
               (SELECT COALESCE(SUM(ct), 0) FROM tc) AS t_total),
sc AS (SELECT rc.b,
    log2((COALESCE(tc.ct, 0) + 1)::DOUBLE / (tot.t_total + {b})::DOUBLE)
  - log2((rc.cr + 1)::DOUBLE / (tot.r_total + {b})::DOUBLE) AS s
  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens, ROUND(SUM(s), 4) AS dsir_logw
FROM feat JOIN sc ON feat.b = sc.b GROUP BY doc_id
"""


@query(twin=lambda: """
WITH c AS (SELECT user_id, COUNT(*)::BIGINT AS n FROM events GROUP BY user_id),
s AS (SELECT COUNT(*)::BIGINT AS n_keys, MAX(n)::BIGINT AS max_n,
             ROUND(quantile_cont(n, 0.5), 6) AS med_n FROM c),
t AS (SELECT MIN(c.user_id) AS top_key FROM c, s WHERE c.n = s.max_n)
SELECT s.n_keys, s.max_n, s.med_n,
       ROUND(s.max_n::DOUBLE / s.med_n, 6) AS skew_ratio, t.top_key
FROM s, t""")
def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg key-skew diagnostic: per-key cardinality profile of
    events.user_id — key count, hottest-key size, median key size, and
    the max/median skew ratio that decides whether a downstream
    join/groupBy on this key needs salting or AQE skew-split (the
    report a pipeline runs BEFORE picking a partition strategy).

    Scale shape: one map-side-combined groupBy to key counts, then two
    constant-size aggregates (global stats, argmax-key via a broadcast
    filter on max_n) — the key-count table never leaves the cluster,
    only 1-row summaries do. Median via exact type-7 percentile
    (= DuckDB quantile_cont, the shared definition token_quantiles
    relies on).
    """
    e = load_table(spark, sf_dir, "events")
    # the key-count table feeds stats AND the argmax filter — one
    # materialization, not one aggregate pass per consumer
    counts = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(narrow_barrier)
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
        F.round(F.expr("percentile(n, 0.5D)"), 6).alias("med_n"),
    )
    top = (
        counts.crossJoin(F.broadcast(stats.select("max_n").withColumnRenamed("max_n", "_mx")))
        .filter(F.col("n") == F.col("_mx"))
        .agg(F.min("user_id").alias("top_key"))
    )
    return (
        stats.crossJoin(top)
        .withColumn(
            "skew_ratio",
            F.round(F.col("max_n").cast("double") / F.col("med_n"), 6),
        )
        .select("n_keys", "max_n", "med_n", "skew_ratio", "top_key")
    )


@query(twin=lambda: _DAY_DIGEST_ORACLE)
def q_events_day_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-day content digest of the events table —
    the replica/migration verification primitive: both sides run one
    narrow scan and diff O(days) digest rows instead of shipping 100 TB
    (see :func:`sketches.table_digest` for the sum/xor pairing
    rationale). Canonical row rendering is all exact-integer text
    (value in floor-pinned cents — float formatting is not portable);
    null-propagating concat so a NULL field nulls the hash identically
    on both engines rather than being silently skipped."""
    from kmeans_mapreduce_spark.operators.events import floor_div

    e = load_table(spark, sf_dir, "events")
    sep = F.lit("|")
    row_str = F.concat(
        F.col("event_id").cast("string"), sep,
        F.col("ts").cast("string"), sep,
        F.col("user_id").cast("string"), sep,
        F.coalesce(F.col("event_type"), F.lit("")), sep,
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").cast("string"), sep,
        F.coalesce(F.col("props"), F.lit("")),
    )
    day = F.expr(floor_div(floor_div("ts", 1_000_000_000), 86400))
    return sk.table_digest(e, row_str, day).withColumnRenamed("bucket", "day")


_DAY_DIGEST_ORACLE = f"""
WITH rows_h AS (
  SELECT (epoch_ns(ts) // 1000000000 // 86400)::BIGINT AS day,
         ('0x' || substr(md5(
            event_id::VARCHAR || '|' || epoch_ns(ts)::VARCHAR || '|' ||
            user_id::VARCHAR || '|' || COALESCE(event_type, '') || '|' ||
            CAST(floor(value * 100 + 0.5) AS BIGINT)::VARCHAR || '|' ||
            COALESCE(props, '')
         ), 1, 15))::BIGINT AS h
  FROM events
)
SELECT day, COUNT(*)::BIGINT AS n_rows,
       (SUM(h) % {sk.DIGEST_MOD})::BIGINT AS digest_sum,
       bit_xor(h)::BIGINT AS digest_xor
FROM rows_h GROUP BY day"""

def _quantile_sketch_error_sql() -> str:
    """Twin of q_events_quantile_sketch_error: the hist-sketch twin and
    the exact-quantile twin (single-source reuse from extensions) as
    subqueries, unpivoted exact side, identical abs-err rounding."""
    from kmeans_mapreduce_spark.extensions import (
        _EXACT_QUANTILES_SQL,
        _ieee_round_pos_sql,
    )

    est = "WITH " + sk.hist_sql(
        "value", "event_type", "events", HIST_QS, HIST_LO, HIST_HI,
        gname="event_type",
    )
    err = _ieee_round_pos_sql("abs(est.quantile_est - x.exact_v)")
    return f"""
WITH exact AS ({_EXACT_QUANTILES_SQL})
SELECT x.event_type, x.q, x.exact_v, est.quantile_est AS est_v,
       {err} AS abs_err
FROM (
  SELECT event_type, 0.5::DOUBLE AS q, p50 AS exact_v FROM exact
  UNION ALL
  SELECT event_type, 0.9::DOUBLE, p90 FROM exact
  UNION ALL
  SELECT event_type, 0.99::DOUBLE, p99 FROM exact
) x
JOIN ({est}) est ON est.event_type = x.event_type AND est.q = x.q
"""
