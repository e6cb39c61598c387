"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed, so the
same seed gives byte-identical inputs. File and row-group layout are fixed
per workload (never derived from the seed), so Spark's partition counts do
not move between seeds: point files are written uncompressed and without
dictionary encoding, which makes their byte size depend on the row count
alone.

The registry tables mirror the schemas of the engine's TPC-H-like test
tables at roughly sf0.01 (60 K lineitem rows), which keeps every registry
query in the fixed-cost regime the query mix is meant to measure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CLUSTERS = 8  # mixture components of the generated 2-D points

# Registry table sizes (rows). Spark reads each table as one small file.
N_CUSTOMER = 1_500
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64
N_LABELS = 10

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# The tables the query mix reads (the DuckDB oracle gets one view each).
QUERY_TABLES = ("nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def write_points(path: str, n: int, row_groups: int, seed: int) -> None:
    """Write ``n`` 2-D points drawn from an 8-component Gaussian mixture as
    ``(point_id BIGINT, x DOUBLE, y DOUBLE)`` in ``row_groups`` equal row
    groups."""
    rng = np.random.default_rng([seed, 1])
    means = rng.uniform(-1000.0, 1000.0, size=(N_CLUSTERS, 2))
    scales = rng.uniform(20.0, 80.0, size=N_CLUSTERS)
    label = rng.integers(0, N_CLUSTERS, size=n)
    xy = means[label] + rng.standard_normal((n, 2)) * scales[label, None]
    table = pa.table(
        {
            "point_id": pa.array(np.arange(n, dtype=np.int64)),
            "x": pa.array(xy[:, 0]),
            "y": pa.array(xy[:, 1]),
        }
    )
    pq.write_table(
        table,
        path,
        row_group_size=-(-n // row_groups),
        compression="NONE",
        use_dictionary=False,
    )


def read_points(path: str) -> tuple[np.ndarray, np.ndarray]:
    """The x and y columns of a point file, as the reference sees them."""
    t = pq.read_table(path, columns=["x", "y"])
    return t.column("x").to_numpy(), t.column("y").to_numpy()


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; every 20th repeats
    an earlier document (alternately verbatim and with one extra word), so
    the dedup queries have the same amount of work to find for any seed."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i % 20 == 19:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if i % 40 == 19 else src + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=N_DOCUMENTS, p=LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors around ten labelled cluster directions."""
    centres = rng.standard_normal((N_LABELS, EMBEDDING_DIM)) * 0.02
    label = rng.integers(0, N_LABELS, size=N_EMBEDDINGS)
    v = centres[label] + rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)) / 8.0
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_query_tables(directory: str, seed: int) -> None:
    """Write the registry tables the query mix reads, one parquet file
    each, into ``directory`` (the engine's ``sf_dir`` layout)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(directory, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER).tolist()),
        }
    )
    day_us = 86_400 * 1_000_000
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, N_ORDERS) * day_us),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS).tolist()),
        }
    )
    n = N_LINEITEM
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n)),
            "l_partkey": pa.array(rng.integers(0, 2000, n)),
            "l_suppkey": pa.array(rng.integers(0, 100, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
            "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n) * day_us),
        }
    )
    gaps = rng.integers(1, 2 * 30 * day_us // N_EVENTS, N_EVENTS)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name in QUERY_TABLES:
        pq.write_table(tables[name], os.path.join(directory, f"{name}.parquet"))
